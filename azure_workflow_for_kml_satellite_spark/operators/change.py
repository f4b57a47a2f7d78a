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

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.constants import (
    CHANGE_GAIN_THRESHOLD,
    CHANGE_LOSS_THRESHOLD,
    RASTER_TASKS_PER_CORE,
)
from azure_workflow_for_kml_satellite_spark.functions import raster as R
from azure_workflow_for_kml_satellite_spark.operators.ndvi import NDVI_ROW_COLS, recipe_args
from azure_workflow_for_kml_satellite_spark.operators.rows import map_rows

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


def change_stats_for_pair_blocked(
    rec: dict,
    loss_threshold: float,
    gain_threshold: float,
) -> dict | None:
    """Change metrics for one (a_, b_) recipe pair: both sides' jointly-valid
    deltas (``R.pair_deltas``) reduced by ``R.delta_change``. Pixel area
    comes from raster a (reference: change_detection.py:59,70-71); an empty
    window, an all-invalid side and an empty joint-valid set all yield
    None."""
    recipe_a = R.window_recipe(*recipe_args(rec, "a_"))
    recipe_b = R.window_recipe(*recipe_args(rec, "b_"))
    if recipe_a is None or recipe_b is None:
        return None
    res_a = float(rec["a_resolution_m"])
    return R.delta_change(
        R.pair_deltas(recipe_a, recipe_b),
        abs(res_a * res_a) / 10_000,
        loss_threshold,
        gain_threshold,
    )


def season_changes(
    ndvi_df: DataFrame,
    loss_threshold: float = CHANGE_LOSS_THRESHOLD,
    gain_threshold: float = CHANGE_GAIN_THRESHOLD,
) -> DataFrame:
    """ndvi stats rows → one row per (aoi, season, year_from, year_to) with
    the reference's change metrics."""
    # coalesce (no shuffle) off the NDVI cache's raster grain before the
    # cheap window/pairing stages — same per-task-overhead fix as
    # ndvi_trend_per_aoi; the window's partitionBy/orderBy fully determines
    # the pairing, so partition merging cannot change the result
    par = ndvi_df.sparkSession.sparkContext.defaultParallelism
    has_stat = (
        ndvi_df.filter(F.col("ndvi_mean").isNotNull())
        .select("url", "feature_index", "season", "year", *NDVI_ROW_COLS)
        .coalesce(par)
    )
    w = Window.partitionBy("url", "feature_index", "season").orderBy("year")
    paired = has_stat.select(
        "url",
        "feature_index",
        "season",
        F.lag("year").over(w).alias("year_from"),
        F.col("year").alias("year_to"),
        *[F.lag(c).over(w).alias(f"a_{c}") for c in NDVI_ROW_COLS],
        *[F.col(c).alias(f"b_{c}") for c in NDVI_ROW_COLS],
    ).filter(F.col("year_from").isNotNull())
    # The window shuffle clumps one AOI's (heavy) pairs into one partition;
    # pair recompute cost varies 4 orders of magnitude (monster 200px² vs
    # mega 2800px² windows), so scatter rows before the pixel work. Same
    # grain and key-hash policy as the NDVI stage (pipeline._ndvi_repartition):
    # hash on the full pair key declusters same-AOI runs (measured 29.9 s vs
    # 35-40 s round-robin at sf0.1). At 4x instead of the old 64-task floor,
    # the traced change layer of a cold ndvi_season job on 4 cores went
    # from 69 to 21 tasks and 3.62 s to 2.04 s.
    paired = paired.repartition(
        RASTER_TASKS_PER_CORE * par,
        F.col("url"), F.col("feature_index"), F.col("season"), F.col("year_to"),
    )

    def pair_row(rec: dict) -> list[dict]:
        stats = change_stats_for_pair_blocked(rec, loss_threshold, gain_threshold)
        if stats is None:
            return []
        # reference: change_detection.py:235
        label = f"{rec['season'].capitalize()} {rec['year_from']} → {rec['year_to']}"
        return [{**stats, "label": label, "valid_change_pixels": stats["valid_pixels"]}]

    return map_rows(
        paired,
        ["url", "feature_index", "season", "year_from", "year_to"],
        ["season", "year_from", "year_to"]
        + [f"{p}{c}" for p in ("a_", "b_") for c in NDVI_ROW_COLS],
        [T.StructField("label", T.StringType(), True)] + _CHANGE_FIELDS,
        pair_row,
    )


def change_summary_per_aoi(changes: DataFrame) -> DataFrame:
    """A3: per-AOI rollup + trajectory classification
    (reference: change_detection.py:244-259).

    Computed with the shared pure kernel over each AOI's series
    (``rows.map_rows``) rather than Spark aggregates: the reference rounds
    with Python ``round`` (banker's), Spark's ``round`` is HALF_UP — on
    exact .5 boundaries they differ, so bit-for-bit parity requires the
    Python path (SURVEY.md §7.4 risk 1). Series are tiny (≤ #seasons ×
    #years rows)."""
    from azure_workflow_for_kml_satellite_spark.functions.metrics import change_summary

    def summary_row(rec: dict) -> list[dict]:
        # canonical accumulation order: seasons sorted, years ascending —
        # float sums are order-dependent and the reference iterates
        # sorted(season_groups) by year (change_detection.py:190-197);
        # sort_array on the struct gives exactly that order.
        arr = rec["series"]
        return [change_summary(
            [x["mean_delta"] for x in arr],
            [x["loss_ha"] for x in arr],
            [x["gain_ha"] for x in arr],
        )]

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
    return map_rows(
        agg,
        ["url", "feature_index"],
        ["series"],
        [
            T.StructField("comparisons", T.LongType()),
            T.StructField("total_loss_ha", T.DoubleType()),
            T.StructField("total_gain_ha", T.DoubleType()),
            T.StructField("avg_mean_delta", T.DoubleType()),
            T.StructField("trajectory", T.StringType()),
        ],
        summary_row,
    )
