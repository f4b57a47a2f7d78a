"""Spatial k-nearest-neighbour join (the north star's 'kNN' spatial-join
flavour: each point gets its k nearest candidates by haversine distance).

One exact path, ``knn_join_broadcast``: a cross join against the BROADCAST
candidate set, then a window rank on (distance, candidate id). The
candidate side is a dimension table (the engine's one caller joins AOI
centroids to the 100-row ``flood_gauges`` table at every scale factor), so
the point side streams through the join without a shuffle, and a grid
search over the candidates would have little to prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from azure_workflow_for_kml_satellite_spark.constants import EARTH_RADIUS_KM

_R_KM = EARTH_RADIUS_KM


def _hav_km(lon1, lat1, lon2, lat2):
    """Haversine (km) as a column expression — the one the kNN join, the
    J9 clustering edges (operators/cluster) and the multi-region gate
    (operators/gates) all use; the same formula as the DuckDB oracle
    (bit-identical doubles from identical inputs)."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2 * _R_KM) * F.atan2(F.sqrt(a), F.sqrt(F.lit(1.0) - a))


def knn_join_broadcast(
    points: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    point_keys: tuple[str, ...] = ("url", "feature_index"),
    point_lon: str = "centroid_lon",
    point_lat: str = "centroid_lat",
    cand_id: str = "station_id",
    cand_lon: str = "longitude",
    cand_lat: str = "latitude",
) -> DataFrame:
    """Exact kNN against a broadcast-small candidate dimension."""
    keys = list(point_keys)
    p = points.select(*keys, F.col(point_lon).alias("p_lon"), F.col(point_lat).alias("p_lat"))
    c = candidates.select(
        F.col(cand_id).alias("cand_id"),
        F.col(cand_lon).alias("c_lon"),
        F.col(cand_lat).alias("c_lat"),
    )
    w = Window.partitionBy(*keys).orderBy(F.asc("knn_dist"), F.asc("cand_id"))
    return (
        p.crossJoin(F.broadcast(c))
        .withColumn(
            "knn_dist", _hav_km(F.col("p_lon"), F.col("p_lat"), F.col("c_lon"), F.col("c_lat"))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*keys, "cand_id", F.round("knn_dist", 6).alias("distance_km"), "rank")
    )
