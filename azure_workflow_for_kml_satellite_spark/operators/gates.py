"""Run-level gates (SURVEY.md §2.2 F10/F12/F13).

- multi-region gate: skip union-level mosaic/NDVI/EUDR when any two AOI
  centroids are > 500 km apart (reference: runner.py:578-617,
  constants.py:83);
- feature-count / tier gate (reference: ingestion.py:84-114).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from azure_workflow_for_kml_satellite_spark.constants import MULTI_REGION_THRESHOLD_KM
from azure_workflow_for_kml_satellite_spark.functions.geometry import haversine_km
from azure_workflow_for_kml_satellite_spark.operators.knn import _R_KM, _hav_km


def _span_bound_km(lo_x: float, lo_y: float, hi_x: float, hi_y: float) -> float:
    """Rigorous upper bound on the max pairwise haversine inside a lon/lat
    box: meridian leg + parallel leg at the latitude of the box edge closest
    to the equator (where a degree of longitude is longest). The raw corner
    diagonal is NOT an upper bound for wide, low-lat-span boxes away from
    the equator — the equator-side edge pair can exceed it."""
    import math

    lat_span_km = math.radians(hi_y - lo_y) * _R_KM
    cos_min = 1.0 if lo_y <= 0.0 <= hi_y else math.cos(math.radians(min(abs(lo_y), abs(hi_y))))
    lon_span_km = math.radians(hi_x - lo_x) * _R_KM * cos_min
    return lat_span_km + lon_span_km


def is_multi_region(aois: DataFrame, threshold_km: float = MULTI_REGION_THRESHOLD_KM,
                    exact_limit: int = 10_000) -> bool:
    """True when some centroid pair is farther than threshold_km.

    Sound at every exit, at any n:
    1. one tiny agg gives the centroid bbox; if the rigorous span BOUND is
       ≤ threshold no pair can exceed it → False;
    2. the four extreme DATA points (min/max lon/lat rows — real centroids,
       via min_by/max_by) give a cheap witness: if any of their 6 pairwise
       distances exceeds the threshold → True (a real pair is the proof —
       an over-estimating bound is never used as a witness);
    3. small n → the exact O(n²) max via self-join (the reference's loop,
       runner.py:598-617);
    4. huge n → grid bracketing: per-cell bbox + extreme points (one agg,
       grid coarsened until ≤2000 occupied cells). Cell-pair LOWER bounds
       (real extreme-point distances) prove True; cell-pair span UPPER
       bounds prove False; only points in still-ambiguous cell pairs (a
       thin annulus around the threshold) fall through to an exact join
       over that small subset.
    """
    import math

    c = aois.select("centroid_lon", "centroid_lat")
    ext = c.agg(
        F.min("centroid_lon").alias("lo_x"),
        F.min("centroid_lat").alias("lo_y"),
        F.max("centroid_lon").alias("hi_x"),
        F.max("centroid_lat").alias("hi_y"),
        F.count("*").alias("n"),
        F.min_by(F.struct("centroid_lon", "centroid_lat"), "centroid_lon").alias("p_w"),
        F.max_by(F.struct("centroid_lon", "centroid_lat"), "centroid_lon").alias("p_e"),
        F.min_by(F.struct("centroid_lon", "centroid_lat"), "centroid_lat").alias("p_s"),
        F.max_by(F.struct("centroid_lon", "centroid_lat"), "centroid_lat").alias("p_n"),
    ).collect()[0]
    if ext["n"] < 2:
        return False
    if _span_bound_km(ext["lo_x"], ext["lo_y"], ext["hi_x"], ext["hi_y"]) <= threshold_km:
        return False
    pts = [
        (ext[k]["centroid_lon"], ext[k]["centroid_lat"]) for k in ("p_w", "p_e", "p_s", "p_n")
    ]
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            if haversine_km(*pts[i], *pts[j]) > threshold_km:
                return True  # witnessed by a real centroid pair
    if ext["n"] <= exact_limit:
        a = c.select(F.col("centroid_lon").alias("x1"), F.col("centroid_lat").alias("y1"))
        b = c.select(F.col("centroid_lon").alias("x2"), F.col("centroid_lat").alias("y2"))
        mx = (
            a.crossJoin(b)
            .agg(F.max(_hav_km(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"))).alias("m"))
            .collect()[0]["m"]
        )
        return bool(mx > threshold_km)
    # huge n: grid bracketing. Coarsen until the occupied-cell set is small
    # enough to compare pairwise on the driver (numpy-vectorizable sizes).
    cell_deg = 1.0
    while True:
        cells = (
            c.groupBy(
                F.floor(F.col("centroid_lon") / cell_deg).alias("cx"),
                F.floor(F.col("centroid_lat") / cell_deg).alias("cy"),
            )
            .agg(
                F.min("centroid_lon").alias("lo_x"),
                F.min("centroid_lat").alias("lo_y"),
                F.max("centroid_lon").alias("hi_x"),
                F.max("centroid_lat").alias("hi_y"),
                F.min_by(F.struct("centroid_lon", "centroid_lat"), "centroid_lon").alias("p_w"),
                F.max_by(F.struct("centroid_lon", "centroid_lat"), "centroid_lon").alias("p_e"),
                F.min_by(F.struct("centroid_lon", "centroid_lat"), "centroid_lat").alias("p_s"),
                F.max_by(F.struct("centroid_lon", "centroid_lat"), "centroid_lat").alias("p_n"),
            )
            .collect()
        )
        if len(cells) <= 2000:
            break
        cell_deg *= 2.0
    # vectorized cell-pair bracketing (≤2000 cells → ≤4M-pair matrices)
    import numpy as np

    n_cells = len(cells)
    ex_lon = np.array(
        [[cl[k]["centroid_lon"] for k in ("p_w", "p_e", "p_s", "p_n")] for cl in cells]
    )
    ex_lat = np.array(
        [[cl[k]["centroid_lat"] for k in ("p_w", "p_e", "p_s", "p_n")] for cl in cells]
    )
    # lower bound: real extreme-point witnesses — max haversine over the
    # (4·n_cells)² point set equals the max over all cell-pair combinations;
    # processed in row blocks so the distance matrix stays ≤ ~32 MB
    pl = np.radians(ex_lon.ravel())
    pb = np.radians(ex_lat.ravel())
    cos_pb = np.cos(pb)
    for s in range(0, len(pl), 512):
        e = s + 512
        sin_dlat = np.sin((pb[None, :] - pb[s:e, None]) / 2.0)
        sin_dlon = np.sin((pl[None, :] - pl[s:e, None]) / 2.0)
        a_ = sin_dlat**2 + cos_pb[s:e, None] * cos_pb[None, :] * sin_dlon**2
        d = 2.0 * _R_KM * np.arctan2(np.sqrt(a_), np.sqrt(np.clip(1.0 - a_, 0.0, None)))
        if float(d.max()) > threshold_km:
            return True  # witnessed by a real centroid pair
    # upper bound per cell pair: span bound of the combined envelope
    lo_x = np.array([cl["lo_x"] for cl in cells])
    lo_y = np.array([cl["lo_y"] for cl in cells])
    hi_x = np.array([cl["hi_x"] for cl in cells])
    hi_y = np.array([cl["hi_y"] for cl in cells])
    env_lo_x = np.minimum(lo_x[:, None], lo_x[None, :])
    env_lo_y = np.minimum(lo_y[:, None], lo_y[None, :])
    env_hi_x = np.maximum(hi_x[:, None], hi_x[None, :])
    env_hi_y = np.maximum(hi_y[:, None], hi_y[None, :])
    lat_span = np.radians(env_hi_y - env_lo_y) * _R_KM
    cos_min = np.where(
        (env_lo_y <= 0.0) & (env_hi_y >= 0.0),
        1.0,
        np.cos(np.radians(np.minimum(np.abs(env_lo_y), np.abs(env_hi_y)))),
    )
    lon_span = np.radians(env_hi_x - env_lo_x) * _R_KM * cos_min
    amb_i, amb_j = np.nonzero(lat_span + lon_span > threshold_km)
    ambiguous: set[tuple[int, int]] = set()
    for idx in np.unique(np.concatenate([amb_i, amb_j])):
        ambiguous.add((int(cells[int(idx)]["cx"]), int(cells[int(idx)]["cy"])))
    if not ambiguous:
        return False  # every cell pair's upper bound is ≤ threshold
    amb = c.filter(
        F.concat_ws(
            ":",
            F.floor(F.col("centroid_lon") / cell_deg).cast("long"),
            F.floor(F.col("centroid_lat") / cell_deg).cast("long"),
        ).isin([f"{x}:{y}" for (x, y) in sorted(ambiguous)])
    )
    a = amb.select(F.col("centroid_lon").alias("x1"), F.col("centroid_lat").alias("y1"))
    b = amb.select(F.col("centroid_lon").alias("x2"), F.col("centroid_lat").alias("y2"))
    mx = (
        a.crossJoin(b)
        .agg(F.max(_hav_km(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"))).alias("m"))
        .collect()[0]["m"]
    )
    return bool(mx is not None and mx > threshold_km)


def enforce_feature_limit(features: DataFrame, limit: int) -> DataFrame:
    """Tier gate (F13): error when a page yields more than ``limit`` features
    — rows beyond the limit are marked, mirroring enforce_aoi_limit
    (reference: ingestion.py:84-114) but as a quarantine column instead of
    failing the job."""
    counts = features.groupBy("url").agg(F.count("*").alias("_n"))
    return (
        features.join(counts, "url")
        .withColumn(
            "error",
            F.when(
                F.col("_n") > limit,
                F.concat(
                    F.lit("AOI limit exceeded: "), F.col("_n").cast("string"),
                    F.lit(f" features > limit {limit}"),
                ),
            ).otherwise(F.col("error")),
        )
        .drop("_n")
    )
