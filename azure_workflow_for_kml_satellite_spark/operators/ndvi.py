"""Per-(geometry, frame, scene) NDVI statistics (SURVEY.md §2.4 A1, §2.9).

``rows.map_rows`` over the spatial-join output: each row independently
performs a windowed band read of its scene (deterministic synthetic
provider — the COG-windowed-read role, reference: ndvi.py:463-484), runs the
reference's exact numpy NDVI + masking kernels (ndvi.py:189-236 for S2 incl.
SCL nearest-neighbour resample; ndvi.py:372-447 for Landsat QA_PIXEL), and
appends the rounded statistics columns. ``NDVI_ROW_COLS`` and
``recipe_args`` are the one frame-recipe column list and argument assembly;
the change pairs and the Landsat baseline read their windows through them.

Parity note (SURVEY.md §7.4 risk 1): each group's stats are computed inside
ONE udf call on the full window array — float32 reduction order is fixed and
identical to the sequential oracle, never a distributed aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.functions import raster as R
from azure_workflow_for_kml_satellite_spark.operators.rows import map_rows

# the frame-recipe columns a row's window is read from (recipe_args)
NDVI_ROW_COLS = [
    "scene_id", "s_min_lon", "s_min_lat", "s_max_lon", "s_max_lat",
    "resolution_m", "ndvi_collection", "min_lon", "min_lat", "max_lon", "max_lat",
]


def recipe_args(rec: dict, prefix: str = "") -> tuple:
    """(scene_id, scene_bbox, resolution_m, read_bbox, collection) from the
    ``prefix``-ed NDVI_ROW_COLS of ``rec``."""
    p = lambda c: rec[prefix + c]
    return (
        p("scene_id"),
        [p("s_min_lon"), p("s_min_lat"), p("s_max_lon"), p("s_max_lat")],
        p("resolution_m"),
        [p("min_lon"), p("min_lat"), p("max_lon"), p("max_lat")],
        p("ndvi_collection"),
    )

_STAT_FIELDS = [
    T.StructField("ndvi_mean", T.DoubleType(), True),
    T.StructField("ndvi_min", T.DoubleType(), True),
    T.StructField("ndvi_max", T.DoubleType(), True),
    T.StructField("ndvi_std", T.DoubleType(), True),
    T.StructField("ndvi_median", T.DoubleType(), True),
    T.StructField("valid_pixels", T.LongType(), True),
    T.StructField("total_pixels", T.LongType(), True),
    T.StructField("masked_pixels", T.LongType(), True),
    T.StructField("ndvi_raster", T.BinaryType(), True),
]


def _stat_row(
    stats: dict | None, masked: int | None = None, raster: bytes | None = None
) -> dict:
    """One row's _STAT_FIELDS columns; all null when ``stats`` is None."""
    if stats is None:
        return dict.fromkeys(f.name for f in _STAT_FIELDS)
    return {
        "ndvi_mean": stats["mean"],
        "ndvi_min": stats["min"],
        "ndvi_max": stats["max"],
        "ndvi_std": stats["std"],
        "ndvi_median": stats["median"],
        "valid_pixels": stats["valid_pixels"],
        "total_pixels": stats["total_pixels"],
        "masked_pixels": masked,
        "ndvi_raster": raster,
    }


def compute_ndvi_for_row(rec: dict, include_raster: bool = False) -> dict:
    """Band read + NDVI kernel for one (aoi, frame, scene) row.

    Read window = the AOI bbox (per-AOI enrichment semantics,
    reference: runner.py:488-572); scene search already used the buffered
    bbox. Returns null stats when the window is empty or no valid pixels
    (reference returns None → frame has no stat, ndvi.py:219-221).
    """
    args = recipe_args(rec)
    _, scene_bbox, _, read_bbox, _ = args
    if not include_raster:
        # stats-only rows never materialize the window (the fused C pass
        # when available — see raster.window_values)
        res = R.ndvi_window_stats_blocked(*args)
        return _stat_row(None) if res is None else _stat_row(*res)
    res = R.window_ndvi(*args)
    if res is None:
        return _stat_row(None)
    ndvi, mask, masked = res
    stats = R.ndvi_statistics(ndvi, mask)
    if stats is None:
        return _stat_row(None)
    import numpy as np

    from azure_workflow_for_kml_satellite_spark.functions.geotiff import (
        write_geotiff_f32,
    )

    # masked float32 GeoTIFF, NaN nodata, deflate — the reference's NDVI
    # export artifact byte-for-byte in role (enrichment/ndvi.py:239-255)
    ndvi_masked = np.where(mask, ndvi, np.nan)
    win = R.window_from_bounds(scene_bbox, rec["resolution_m"], read_bbox)
    px = rec["resolution_m"] * R.DEG_PER_METRE
    raster = write_geotiff_f32(
        ndvi_masked,
        west=scene_bbox[0] + win[2] * px,
        north=scene_bbox[3] - win[0] * px,
        px_x=px,
        px_y=px,
    )
    return _stat_row(stats, masked, raster)


_UTM_STAT_FIELDS = [
    T.StructField("win_row0", T.LongType(), True),
    T.StructField("win_row1", T.LongType(), True),
    T.StructField("win_col0", T.LongType(), True),
    T.StructField("win_col1", T.LongType(), True),
    T.StructField("ndvi_mean", T.DoubleType(), True),
    T.StructField("ndvi_median", T.DoubleType(), True),
    T.StructField("valid_pixels", T.LongType(), True),
    T.StructField("total_pixels", T.LongType(), True),
    T.StructField("masked_pixels", T.LongType(), True),
    T.StructField("reproj_valid_pixels", T.LongType(), True),
    T.StructField("reproj_mean", T.DoubleType(), True),
]

_REPROJ_SHAPE = (32, 32)


def compute_ndvi_utm_row(rec: dict) -> dict:
    """Cross-CRS NDVI for one (aoi, frame, utm-scene) row — the reference's
    actual read path (fulfilment.py:264-271 transforms the 4326 AOI bbox
    into the scene's UTM CRS before the COG windowed read; 321-354
    reprojects outputs back): G4 bbox transform → metric windowed read →
    S2 NDVI kernel → R5 bilinear warp of the masked NDVI back onto the
    AOI's geographic bbox."""
    import numpy as np

    from azure_workflow_for_kml_satellite_spark.functions.geometry import (
        transform_bbox,
    )

    read_bbox = [rec["min_lon"], rec["min_lat"], rec["max_lon"], rec["max_lat"]]
    scene_bbox_m = [rec["u_min_e"], rec["u_min_n"], rec["u_max_e"], rec["u_max_n"]]
    res = rec["u_res_m"]
    out = {f.name: None for f in _UTM_STAT_FIELDS}
    ubox = list(transform_bbox(read_bbox, "EPSG:4326", rec["epsg"]))
    win = R.window_from_bounds_m(scene_bbox_m, res, ubox)
    if win is None:
        return out
    out.update(
        {"win_row0": win[0], "win_row1": win[1], "win_col0": win[2], "win_col1": win[3]}
    )
    bands = R.read_window_bands_utm(rec["scene_id"], scene_bbox_m, res, ubox)
    ndvi, mask, masked = R.ndvi_s2(bands["red"], bands["nir"], bands.get("scl"))
    stats = R.ndvi_statistics(ndvi, mask)
    if stats is None:
        return out
    out.update(
        {
            "ndvi_mean": stats["mean"],
            "ndvi_median": stats["median"],
            "valid_pixels": stats["valid_pixels"],
            "total_pixels": stats["total_pixels"],
            "masked_pixels": masked,
        }
    )
    # R5: warp the masked NDVI from the scene's UTM window grid back onto
    # the AOI's geographic bbox (fixed display shape)
    win_bbox_m = [
        scene_bbox_m[0] + win[2] * res,
        scene_bbox_m[3] - win[1] * res,
        scene_bbox_m[0] + win[3] * res,
        scene_bbox_m[3] - win[0] * res,
    ]
    ndvi_masked = np.where(mask, ndvi, np.nan).astype(np.float32)
    warped = R.reproject_bilinear(
        ndvi_masked,
        win_bbox_m,
        read_bbox,
        _REPROJ_SHAPE,
        src_crs=rec["epsg"],
        dst_crs="EPSG:4326",
    )
    n_fin = int(np.isfinite(warped).sum())
    out["reproj_valid_pixels"] = n_fin
    if n_fin:
        fin = warped[np.isfinite(warped)].astype(np.float64)
        out["reproj_mean"] = round(float(np.mean(fin)), 4)
    return out


def ndvi_stats_utm(best_utm: DataFrame) -> DataFrame:
    """Append cross-CRS NDVI + reprojection columns."""
    needed = [
        "scene_id", "epsg", "u_min_e", "u_min_n", "u_max_e", "u_max_n", "u_res_m",
        "min_lon", "min_lat", "max_lon", "max_lat",
    ]
    return map_rows(
        best_utm, best_utm.columns, needed, _UTM_STAT_FIELDS,
        lambda rec: [compute_ndvi_utm_row(rec)],
    )


def ndvi_stats(best_scenes: DataFrame, include_raster: bool = False) -> DataFrame:
    """Append NDVI statistic columns to the (aoi, frame, best scene) rows."""
    return map_rows(
        best_scenes, best_scenes.columns, NDVI_ROW_COLS, _STAT_FIELDS,
        lambda rec: [compute_ndvi_for_row(rec, include_raster)],
    )
