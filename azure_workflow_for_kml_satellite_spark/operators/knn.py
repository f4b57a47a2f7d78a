"""Spatial k-nearest-neighbour join (the north star's 'kNN' spatial-join
flavour: each point gets its k nearest candidates by haversine distance).

Two implementations with IDENTICAL output (same distance expression, same
(distance, candidate-id) ranking):

- ``knn_join_broadcast``: exact baseline — cross join against a BROADCAST
  candidate set + window rank. Right when candidates are a dimension table
  (gauges, stations, facilities — thousands of rows); the big point side
  streams and never shuffles.
- ``knn_join_cells``: the 100 TB path for LARGE candidate sets — candidates
  are bucketed once on the engine's equal-angle grid (functions/cells.py)
  and each point probes an expanding Chebyshev ring of cells (doubling
  radius, one equi-join per round). A point SETTLES only when its k-th
  nearest in-ring distance is strictly below a per-point guarantee radius
  (the minimum possible distance to any candidate outside the ring,
  latitude-aware), so the result is PROVABLY equal to the exact baseline —
  never approximate. Points that cannot settle (fewer than k candidates on
  the planet, polar degeneracies) fall back to the exact broadcast join.

Both paths shuffle only (key, lon, lat) columns; candidate payloads join
back by id afterwards if needed.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from azure_workflow_for_kml_satellite_spark.constants import EARTH_RADIUS_KM
from azure_workflow_for_kml_satellite_spark.functions.cells import cell_size_deg

_R_KM = EARTH_RADIUS_KM
# conservative km per degree of latitude (minimum over the ellipsoid-ish
# sphere model used by the haversine: exactly pi*R/180 for the sphere)
_KM_PER_DEG_LAT = math.pi * _R_KM / 180.0  # 111.1949...


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


def _ranked_topk(scored: DataFrame, point_keys: list[str], k: int) -> DataFrame:
    w = Window.partitionBy(*point_keys).orderBy(F.asc("knn_dist"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            *point_keys,
            F.col("cand_id"),
            F.round("knn_dist", 6).alias("distance_km"),
            "rank",
        )
    )


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
    scored = p.crossJoin(F.broadcast(c)).withColumn(
        "knn_dist", _hav_km(F.col("p_lon"), F.col("p_lat"), F.col("c_lon"), F.col("c_lat"))
    )
    return _ranked_topk(scored, keys, k)


def _ring_guarantee_km(plat, r: int, size_deg: float, n_lon: int, n_lat: int):
    """Column expr: minimum possible distance from a point in cell (px, py)
    to ANY candidate outside the Chebyshev ring of radius ``r``.

    Longitude ring probes WRAP modulo the grid (a cylinder), so 'outside in
    x' means an EFFECTIVE angular separation ≥ min(r·size, 180°) — without
    the wrap a coordinate Δλ > 180° (antimeridian pair) could be
    geographically close while far in grid cells, which would make this
    bound unsound. Outside means wrapped |dx| > r or |dy| > r:
    - |dy| > r ⇒ latitude separation ≥ r·size ⇒ distance ≥ r·size·(πR/180)
      (impossible once the ring spans every lat cell → +inf);
    - else wrapped |dx| > r with |dy| ≤ r ⇒ effective Δλ ≥ min(r·size,180°)
      at latitudes ≤ |plat| + (r+1)·size, and for φ1,φ2 within ±φmax the
      haversine is minimized with both points AT φmax and Δφ = 0:
      d ≥ 2R·asin(cos(φmax)·sin(Δλ/2)) (impossible once the ring spans
      every lon cell → +inf).  When φmax would reach the pole
      (|plat| + (r+1)·size ≥ 90°) the bound collapses to 0: candidates in
      wrapped-x cells beyond the ring can sit arbitrarily close to the
      pole-side point, so NO positive longitude guarantee exists — such
      points must keep expanding until the ring wraps (lon_bound → +inf)
      or fall through to the exact broadcast fallback.
    Settling requires the k-th distance STRICTLY below the min of the two,
    so outside ties can never alter the top-k (and a 0 guarantee can never
    settle anything).
    """
    inf = F.lit(float("inf"))
    if 2 * r + 1 >= n_lat:
        lat_bound = inf
    else:
        lat_bound = F.lit(r * size_deg * _KM_PER_DEG_LAT)
    if 2 * r + 1 >= n_lon:
        lon_bound = inf
    else:
        phi_max = F.abs(plat) + F.lit((r + 1) * size_deg)
        dlam = F.lit(math.radians(min(r * size_deg, 180.0)))
        lon_bound = F.when(phi_max >= F.lit(90.0), F.lit(0.0)).otherwise(
            F.lit(2 * _R_KM)
            * F.asin(F.cos(F.radians(phi_max)) * F.sin(dlam / F.lit(2.0)))
        )
    return F.least(lat_bound, lon_bound)


def knn_join_cells(
    points: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    res: int = 6,
    max_ring: int = 64,
    point_keys: tuple[str, ...] = ("url", "feature_index"),
    point_lon: str = "centroid_lon",
    point_lat: str = "centroid_lat",
    cand_id: str = "station_id",
    cand_lon: str = "longitude",
    cand_lat: str = "latitude",
) -> DataFrame:
    """Exact kNN via grid-bucketed expanding-ring search (see module doc).

    ``res`` picks the cell size (360/2**res degrees): size ≈ the expected
    k-th-neighbour distance keeps most points settling at ring 1-2. Each
    round is one equi-join on (cell_x, cell_y); the probe fan-out is
    (2r+1)² cells per still-unsettled point, and radii double, so total
    work is within ~4/3 of the final round's.
    """
    keys = list(point_keys)
    size = cell_size_deg(res)
    n_lon = 1 << res                  # 360 / size longitude cells (wrap domain)
    n_lat = max(1, (1 << res) // 2)   # 180 / size latitude cells (clamped)

    def cellify(df, lon, lat, prefix):
        return df.withColumn(
            f"{prefix}x",
            F.least(F.lit(n_lon - 1), F.greatest(F.lit(0), F.floor((F.col(lon) + 180.0) / size))).cast("long"),
        ).withColumn(
            f"{prefix}y",
            F.least(F.lit(n_lat - 1), F.greatest(F.lit(0), F.floor((F.col(lat) + 90.0) / size))).cast("long"),
        )

    p = cellify(
        points.select(*keys, F.col(point_lon).alias("p_lon"), F.col(point_lat).alias("p_lat")),
        "p_lon", "p_lat", "p",
    )
    c = cellify(
        candidates.select(
            F.col(cand_id).alias("cand_id"),
            F.col(cand_lon).alias("c_lon"),
            F.col(cand_lat).alias("c_lat"),
        ),
        "c_lon", "c_lat", "c",
    )

    unsettled = p
    settled_parts: list[DataFrame] = []
    r = 1
    while r <= max_ring:
        probes = (
            unsettled.withColumn("dx", F.explode(F.sequence(F.lit(-r), F.lit(r))))
            .withColumn("dy", F.explode(F.sequence(F.lit(-r), F.lit(r))))
            # longitude probes wrap (cylinder) — required for the guarantee's
            # soundness across the antimeridian; latitude does not wrap
            .withColumn("jx", F.pmod(F.col("px") + F.col("dx"), F.lit(n_lon)))
            .withColumn("jy", F.col("py") + F.col("dy"))
        )
        scored = (
            probes.join(c, (F.col("jx") == F.col("cx")) & (F.col("jy") == F.col("cy")))
            # a ring wider than the wrap domain probes a cell twice
            .dropDuplicates([*keys, "cand_id"])
            .withColumn(
                "knn_dist",
                _hav_km(F.col("p_lon"), F.col("p_lat"), F.col("c_lon"), F.col("c_lat")),
            )
        )
        w = Window.partitionBy(*keys).orderBy(F.asc("knn_dist"), F.asc("cand_id"))
        topk = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("n_found", F.count("*").over(Window.partitionBy(*keys)))
            .withColumn("d_k", F.max("knn_dist").over(Window.partitionBy(*keys)))
        )
        guarantee = _ring_guarantee_km(F.col("p_lat"), r, size, n_lon, n_lat)
        done = topk.filter((F.col("n_found") >= k) & (F.col("d_k") < guarantee))
        settled_parts.append(
            done.select(
                *keys, "cand_id", F.round("knn_dist", 6).alias("distance_km"), "rank"
            ).localCheckpoint(eager=True)
        )
        done_keys = done.select(*keys).distinct()
        unsettled = unsettled.join(done_keys, keys, "left_anti").localCheckpoint(eager=True)
        if unsettled.isEmpty():
            break
        r *= 2
    else:
        r = None  # pragma: no cover - loop exhausted, fallback below handles it
    out = settled_parts[0]
    for part in settled_parts[1:]:
        out = out.unionByName(part)
    if not unsettled.isEmpty():
        # fewer than k candidates reachable by ring search (or polar edge):
        # exact broadcast fallback for the stragglers — still exact overall
        rest = knn_join_broadcast(
            unsettled.select(
                *keys,
                F.col("p_lon").alias(point_lon),
                F.col("p_lat").alias(point_lat),
            ),
            candidates,
            k,
            point_keys,
            point_lon,
            point_lat,
            cand_id,
            cand_lon,
            cand_lat,
        )
        out = out.unionByName(rest)
    return out