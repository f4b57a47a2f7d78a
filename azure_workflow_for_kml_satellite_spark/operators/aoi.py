"""geometries → AOIs preparation stage (SURVEY.md §7.1 step 3; G1-G8).

Replicates ``geo.prepare_aoi`` (reference: treesight/geo.py:13-42) per
feature in one ``rows.map_rows`` pass (one output row per feature): bbox, metric-buffered
bbox, geodesic area/perimeter, centroid, area warning (> 10 000 ha,
reference: constants.py:28), plus engine columns the reference computes later
or implicitly: CONUS/NAIP eligibility (frames.py:98-108), max AOI span
(frames.py:46-57), cell index of the centroid, and flattened bbox columns so
the spatial join and SQL oracles stay expression-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.constants import (
    DEFAULT_AOI_BUFFER_M,
    DEFAULT_AOI_MAX_AREA_HA,
    DEFAULT_CELL_RES,
)
from azure_workflow_for_kml_satellite_spark.functions import geometry as geo
from azure_workflow_for_kml_satellite_spark.functions.cells import cell_of
from azure_workflow_for_kml_satellite_spark.operators.rows import map_rows

AOI_EXTRA_FIELDS = [
    T.StructField("min_lon", T.DoubleType(), True),
    T.StructField("min_lat", T.DoubleType(), True),
    T.StructField("max_lon", T.DoubleType(), True),
    T.StructField("max_lat", T.DoubleType(), True),
    T.StructField("buf_min_lon", T.DoubleType(), True),
    T.StructField("buf_min_lat", T.DoubleType(), True),
    T.StructField("buf_max_lon", T.DoubleType(), True),
    T.StructField("buf_max_lat", T.DoubleType(), True),
    T.StructField("area_ha", T.DoubleType(), True),
    T.StructField("perimeter_km", T.DoubleType(), True),
    T.StructField("centroid_lon", T.DoubleType(), True),
    T.StructField("centroid_lat", T.DoubleType(), True),
    T.StructField("buffer_m", T.DoubleType(), True),
    T.StructField("area_warning", T.StringType(), True),
    T.StructField("has_naip", T.BooleanType(), True),
    T.StructField("max_span_m", T.DoubleType(), True),
    T.StructField("centroid_cell", T.LongType(), True),
]


def prepare_aois(
    features: DataFrame,
    buffer_m: float = DEFAULT_AOI_BUFFER_M,
    max_area_ha: float = DEFAULT_AOI_MAX_AREA_HA,
    cell_res: int = DEFAULT_CELL_RES,
) -> DataFrame:
    """features → AOIs. Quarantine rows (error != null) are dropped here; the
    extraction stage is the place to audit them."""

    def aoi_row(rec: dict) -> list[dict]:
        ext = geo.unflatten_ring([float(v) for v in rec["exterior"]])
        bbox = geo.compute_bbox(ext)
        buffered = geo.buffer_bbox(bbox, buffer_m)
        area_ha, perimeter_km = geo.geodesic_area_and_perimeter(ext)
        cen = geo.centroid(ext)
        # reference: geo.py:23-25
        warning = (
            f"Area {area_ha:.1f} ha exceeds max {max_area_ha:.1f} ha"
            if area_ha > max_area_ha
            else ""
        )
        return [
            {
                "min_lon": bbox[0],
                "min_lat": bbox[1],
                "max_lon": bbox[2],
                "max_lat": bbox[3],
                "buf_min_lon": buffered[0],
                "buf_min_lat": buffered[1],
                "buf_max_lon": buffered[2],
                "buf_max_lat": buffered[3],
                "area_ha": area_ha,
                "perimeter_km": perimeter_km,
                "centroid_lon": cen[0],
                "centroid_lat": cen[1],
                "buffer_m": buffer_m,
                "area_warning": warning,
                "has_naip": geo.aoi_has_naip(ext),
                "max_span_m": geo.max_span_m(ext),
                "centroid_cell": cell_of(cen[0], cen[1], cell_res),
            }
        ]

    ok = features.filter(features.error.isNull())
    return map_rows(ok, ok.columns, ["exterior"], AOI_EXTRA_FIELDS, aoi_row)
