"""Year-over-year NDVI change detection (SURVEY.md §2.3 J4, §2.4 A2/A3).

The reference stores each frame's NDVI GeoTIFF to blob and re-downloads
pairs for comparison (reference: change_detection.py:140-242). Spark-first
equivalent: pair consecutive same-season years with ``lag`` over a window
(W1), shuffle only the tiny scene/window *recipe* columns, and regenerate
both masked NDVI rasters deterministically inside the pairwise UDF — no
raster bytes ever shuffle (at 100 TB scale the raster re-read is the COG
windowed read the reference also pays).

Consecutive means adjacent in the year-sorted list within (aoi, season),
NOT year_b == year_a + 1 (reference: change_detection.py:190-197).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.constants import (
    CHANGE_GAIN_THRESHOLD,
    CHANGE_LOSS_THRESHOLD,
)
from azure_workflow_for_kml_satellite_spark.functions import raster as R

# Columns that let the UDF regenerate one frame's masked NDVI raster.
_RECIPE = [
    "scene_id",
    "s_min_lon",
    "s_min_lat",
    "s_max_lon",
    "s_max_lat",
    "resolution_m",
    "ndvi_collection",
    "min_lon",
    "min_lat",
    "max_lon",
    "max_lat",
]

_CHANGE_FIELDS = [
    T.StructField("mean_delta", T.DoubleType(), True),
    T.StructField("median_delta", T.DoubleType(), True),
    T.StructField("std_delta", T.DoubleType(), True),
    T.StructField("min_delta", T.DoubleType(), True),
    T.StructField("max_delta", T.DoubleType(), True),
    T.StructField("loss_ha", T.DoubleType(), True),
    T.StructField("gain_ha", T.DoubleType(), True),
    T.StructField("stable_ha", T.DoubleType(), True),
    T.StructField("total_ha", T.DoubleType(), True),
    T.StructField("loss_pct", T.DoubleType(), True),
    T.StructField("gain_pct", T.DoubleType(), True),
    T.StructField("valid_change_pixels", T.LongType(), True),
]


def _recipe_args(rec: dict, prefix: str) -> tuple:
    """(scene_id, scene_bbox, resolution_m, read_bbox, collection) for one
    side of a pair."""
    p = lambda c: rec[prefix + c]
    return (
        p("scene_id"),
        [p("s_min_lon"), p("s_min_lat"), p("s_max_lon"), p("s_max_lat")],
        p("resolution_m"),
        [p("min_lon"), p("min_lat"), p("max_lon"), p("max_lat")],
        p("ndvi_collection"),
    )


def masked_ndvi_for_recipe(rec: dict, prefix: str = "") -> np.ndarray | None:
    """Regenerate the frame's masked NDVI raster (NaN outside valid) exactly
    as the NDVI stage wrote it (operators/ndvi.py; reference ndvi.py:239-241)."""
    out = R.window_ndvi(*_recipe_args(rec, prefix))
    if out is None or not np.any(out[1]):
        return None
    ndvi, mask, _ = out
    return np.where(mask, ndvi, np.nan).astype(np.float32)


def _recipe_windows(rec: dict, prefix: str):
    """(seed, collection, win, aux_win) for one side of a pair, or None
    when the read window is empty (the ``bands is None`` case)."""
    scene_id, scene_bbox, res, read_bbox, collection = _recipe_args(rec, prefix)
    win = R.window_from_bounds(scene_bbox, res, read_bbox)
    if win is None:
        return None
    aux_win = win if collection == "landsat-c2-l2" else R.s2_aux_win(
        scene_bbox, res, read_bbox
    )
    return R.scene_seed(scene_id), collection, win, aux_win


def _native_pair_deltas(
    seed_a, coll_a, win_a, aux_a, seed_b, coll_b, win_b, aux_b, min_h, min_w
) -> np.ndarray:
    """Jointly-valid deltas via the fused C pair kernel — a scratch view,
    consumed by the reductions in the caller before any further call."""
    import ctypes

    from azure_workflow_for_kml_satellite_spark.functions import native as N

    ka, ar0, ac0, aar0, aac0, ari, aci, as1000 = R.native_side_params(
        seed_a, coll_a, win_a, aux_a, min_h, min_w
    )
    kb, br0, bc0, bar0, bac0, bri, bci, bs1000 = R.native_side_params(
        seed_b, coll_b, win_b, aux_b, min_h, min_w
    )
    buf = R._scratch("nat_deltas", min_h * min_w, np.float32)
    n = N.LIB.kmlsat_change_pair_valid(
        int(seed_a) & 0xFFFFFFFF, ka, ar0, ac0, aar0, aac0,
        R._i64p(ari), R._i64p(aci), as1000,
        int(seed_b) & 0xFFFFFFFF, kb, br0, bc0, bar0, bac0,
        R._i64p(bri), R._i64p(bci), bs1000,
        min_h, min_w,
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_float)),
    )
    return buf[: int(n)]


def change_stats_for_pair_blocked(
    rec: dict,
    loss_threshold: float,
    gain_threshold: float,
) -> dict | None:
    """Change metrics for one (a_, b_) recipe pair: the fused C pair kernel
    when available, otherwise masked_ndvi_for_recipe(a/b) + R.change_stats
    (same values). Pixel area comes from raster a (reference:
    change_detection.py:59,70-71); an empty window, an all-invalid side and
    an empty joint-valid set all yield None."""
    from azure_workflow_for_kml_satellite_spark.functions import native as N

    res_a = float(rec["a_resolution_m"])
    pixel_area_ha = abs(res_a * res_a) / 10_000
    if not N.available():
        ndvi_a = masked_ndvi_for_recipe(rec, "a_")
        ndvi_b = masked_ndvi_for_recipe(rec, "b_")
        if ndvi_a is None or ndvi_b is None:
            return None
        return R.change_stats(
            ndvi_a, ndvi_b, pixel_area_ha, loss_threshold, gain_threshold
        )
    wa = _recipe_windows(rec, "a_")
    wb = _recipe_windows(rec, "b_")
    if wa is None or wb is None:
        return None
    win_a, win_b = wa[2], wb[2]
    min_h = min(win_a[1] - win_a[0], win_b[1] - win_b[0])
    min_w = min(win_a[3] - win_a[2], win_b[3] - win_b[2])
    # fused C pass over both sides (functions/native.c): the compacted delta
    # array equals the full-window path's ``delta[valid]`` bit-for-bit, and
    # the fused C reductions are bitwise np.mean/np.std/np.sort order
    # statistics / f32-cast threshold counts (native.c §stats; pinned in
    # tests/test_native_kernels.py)
    valid_deltas = _native_pair_deltas(*wa, *wb, min_h, min_w)
    n_valid = len(valid_deltas)
    if n_valid == 0:
        return None
    mean_d, std_d, min_d, max_d, med_lo, med_hi, n_loss, n_gain = N.stats_f32(
        valid_deltas, loss_threshold, gain_threshold
    )
    return R.change_result(
        mean_d, R._median_of_pair(med_lo, med_hi, n_valid), std_d, min_d, max_d,
        n_valid, n_loss, n_gain, pixel_area_ha,
    )


def season_changes(
    ndvi_df: DataFrame,
    loss_threshold: float = CHANGE_LOSS_THRESHOLD,
    gain_threshold: float = CHANGE_GAIN_THRESHOLD,
) -> DataFrame:
    """ndvi stats rows → one row per (aoi, season, year_from, year_to) with
    the reference's change metrics."""
    # coalesce (no shuffle) off the NDVI cache's fine raster grain before the
    # cheap window/pairing stages — same per-task-overhead fix as
    # ndvi_trend_per_aoi; the window's partitionBy/orderBy fully determines
    # the pairing, so partition merging cannot change the result
    par = ndvi_df.sparkSession.sparkContext.defaultParallelism
    has_stat = (
        ndvi_df.filter(F.col("ndvi_mean").isNotNull())
        .select("url", "feature_index", "season", "year", *_RECIPE)
        .coalesce(par)
    )
    w = Window.partitionBy("url", "feature_index", "season").orderBy("year")
    paired = has_stat.select(
        "url",
        "feature_index",
        "season",
        F.lag("year").over(w).alias("year_from"),
        F.col("year").alias("year_to"),
        *[F.lag(c).over(w).alias(f"a_{c}") for c in _RECIPE],
        *[F.col(c).alias(f"b_{c}") for c in _RECIPE],
    ).filter(F.col("year_from").isNotNull())
    # The window shuffle clumps one AOI's (heavy) pairs into one partition;
    # pair recompute cost varies 4 orders of magnitude (monster 200px² vs
    # mega 2800px² windows), so scatter rows before the pixel work. Fine
    # grain + key-hash, same policy the round-5 profile study picked for
    # the NDVI stage (BASELINE.md): hash on the full pair key declusters
    # same-AOI runs (measured 29.9 s vs 35-40 s round-robin at sf0.1).
    # The 8x multiplier survived both grain re-sweeps after the round-8
    # per-task cost changes (OPTIMIZATION_r08.md §9, §13).
    paired = paired.repartition(
        max(64, 8 * ndvi_df.sparkSession.sparkContext.defaultParallelism),
        F.col("url"), F.col("feature_index"), F.col("season"), F.col("year_to"),
    )

    key_cols = ["url", "feature_index", "season", "year_from", "year_to"]
    schema = T.StructType(
        [paired.schema[c] for c in key_cols]
        + [T.StructField("label", T.StringType(), True)]
        + _CHANGE_FIELDS
    )
    out_cols = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                stats = change_stats_for_pair_blocked(
                    rec, loss_threshold, gain_threshold
                )
                if stats is None:
                    continue
                row = {k: rec[k] for k in key_cols}
                season = rec["season"]
                # reference: change_detection.py:235
                row["label"] = f"{season.capitalize()} {rec['year_from']} → {rec['year_to']}"
                row.update(stats)
                row["valid_change_pixels"] = row.pop("valid_pixels")
                rows.append(row)
            yield pd.DataFrame(rows, columns=out_cols) if rows else pd.DataFrame(
                columns=out_cols
            )

    return paired.mapInPandas(run, schema)


def change_summary_per_aoi(changes: DataFrame) -> DataFrame:
    """A3: per-AOI rollup + trajectory classification
    (reference: change_detection.py:244-259).

    Computed with the shared pure kernel inside applyInPandas rather than
    Spark aggregates: the reference rounds with Python ``round`` (banker's),
    Spark's ``round`` is HALF_UP — on exact .5 boundaries they differ, so
    bit-for-bit parity requires the Python path (SURVEY.md §7.4 risk 1).
    Groups are tiny (≤ #seasons × #years rows)."""
    from azure_workflow_for_kml_satellite_spark.functions.metrics import change_summary

    schema = T.StructType(
        [
            changes.schema["url"],
            changes.schema["feature_index"],
            T.StructField("comparisons", T.LongType()),
            T.StructField("total_loss_ha", T.DoubleType()),
            T.StructField("total_gain_ha", T.DoubleType()),
            T.StructField("avg_mean_delta", T.DoubleType()),
            T.StructField("trajectory", T.StringType()),
        ]
    )

    from pyspark.sql.functions import pandas_udf

    out_t = T.StructType([f for f in schema.fields if f.name not in ("url", "feature_index")])

    @pandas_udf(out_t)
    def summary_udf(series: pd.Series) -> pd.DataFrame:
        rows = []
        for arr in series:
            # canonical accumulation order: seasons sorted, years ascending —
            # float sums are order-dependent and the reference iterates
            # sorted(season_groups) by year (change_detection.py:190-197);
            # sort_array on the struct gives exactly that order.
            s = change_summary(
                [x["mean_delta"] for x in arr],
                [x["loss_ha"] for x in arr],
                [x["gain_ha"] for x in arr],
            )
            rows.append(s)
        return pd.DataFrame(rows, columns=[f.name for f in out_t.fields])

    agg = (
        changes.select(
            "url", "feature_index", "season", "year_from", "year_to",
            "mean_delta", "loss_ha", "gain_ha",
        )
        .groupBy("url", "feature_index")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "season", "year_from", "year_to", "mean_delta", "loss_ha", "gain_ha"
                    )
                )
            ).alias("series")
        )
    )
    return agg.select(
        "url", "feature_index", summary_udf(F.col("series")).alias("s")
    ).select("url", "feature_index", "s.*")
