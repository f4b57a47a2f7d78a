"""ε-distance spatial clustering of AOI centroids (SURVEY.md §2.3 J9).

The reference does O(n²) haversine pairs + union-find single-linkage
(reference: treesight/geo.py:231-302). Distributed re-expression:

1. candidate edges via a **cell kRing self-join** — each point joins every
   point whose cell is in the 3×3 neighborhood of its own, at a resolution
   whose cells are ≥ eps everywhere (complete candidate generation,
   functions/cells.res_for_eps_km), with ``key_a < key_b`` and an exact
   haversine ≤ eps refinement;
2. connected components via the engine's one CC step,
   operators/dedup.near_dup_clusters (large-star/small-star contraction,
   O(log n) rounds, raises on non-convergence); the cluster label is the
   lexicographic min (url, feature_index) key of the component, giving a
   deterministic labelling the sequential oracle reproduces with
   union-find.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from azure_workflow_for_kml_satellite_spark.constants import DEFAULT_CLUSTER_EPS_KM
from azure_workflow_for_kml_satellite_spark.functions.cells import res_for_eps_km
from azure_workflow_for_kml_satellite_spark.operators.dedup import near_dup_clusters
from azure_workflow_for_kml_satellite_spark.operators.knn import _hav_km
from azure_workflow_for_kml_satellite_spark.operators.spatial_join import cell_ix, cell_iy


def candidate_edges(aois: DataFrame, eps_km: float = DEFAULT_CLUSTER_EPS_KM) -> DataFrame:
    """Edges (key_a, key_b) for centroid pairs within eps_km."""
    res = res_for_eps_km(eps_km)
    pts = aois.select(
        F.col("dedup_key").alias("key"),
        "centroid_lon",
        "centroid_lat",
    )
    pts = pts.withColumn("ix", cell_ix("centroid_lon", res)).withColumn(
        "iy", cell_iy("centroid_lat", res)
    )
    # left side explodes its 3x3 kRing; right side keeps its own cell
    left = (
        pts.withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            F.col("key").alias("key_a"),
            F.col("centroid_lon").alias("lon_a"),
            F.col("centroid_lat").alias("lat_a"),
            (F.col("ix") + F.col("dx")).alias("jx"),
            (F.col("iy") + F.col("dy")).alias("jy"),
        )
    )
    right = pts.select(
        F.col("key").alias("key_b"),
        F.col("centroid_lon").alias("lon_b"),
        F.col("centroid_lat").alias("lat_b"),
        F.col("ix").alias("jx"),
        F.col("iy").alias("jy"),
    )
    pairs = left.join(right, ["jx", "jy"]).filter(F.col("key_a") < F.col("key_b"))
    dist = _hav_km(F.col("lon_a"), F.col("lat_a"), F.col("lon_b"), F.col("lat_b"))
    return pairs.filter(dist <= F.lit(eps_km)).select("key_a", "key_b")


def cluster_aois(
    aois: DataFrame,
    eps_km: float = DEFAULT_CLUSTER_EPS_KM,
    max_rounds: int = 24,
) -> DataFrame:
    """(url, feature_index, cluster_key) — cluster_key = min member key.
    The contraction only uses ordering and min over keys, so it applies to
    the string (url:feature_index) keys unchanged; ``max_rounds`` is its
    round budget (RuntimeError when exceeded)."""
    pts = aois.select("url", "feature_index", F.col("dedup_key").alias("key"))
    edges = candidate_edges(aois, eps_km).select(
        F.col("key_a").alias("id_a"), F.col("key_b").alias("id_b")
    )
    labels = near_dup_clusters(pts.select(F.col("key").alias("doc_id")), edges, max_rounds)
    return pts.join(labels, pts.key == labels.doc_id).select(
        "url", "feature_index", F.col("cluster_id").alias("cluster_key")
    )
