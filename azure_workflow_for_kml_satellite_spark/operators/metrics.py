"""Per-AOI metrics: geometry, NDVI trend, weather summary, portfolio rollup
(SURVEY.md §2.4 A5-A8, §2.8 G13-G15).

Geometry metrics are pure column expressions (JVM-side); the NDVI trend runs
in Python over each AOI's series (``rows.map_rows``) because the reference's
arithmetic (OLS slope over the *valid-frame* index with original-frame-id
drop tracking and Python ``round``) must run on the ordered series in one
place for exact parity (reference: aoi_metrics.py:51-122; SURVEY.md §7.4
risk 1).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.constants import (
    METRES_PER_DEGREE_LATITUDE,
)
from azure_workflow_for_kml_satellite_spark.functions.metrics import ndvi_trend
from azure_workflow_for_kml_satellite_spark.operators.rows import map_rows

_KM_PER_DEG = METRES_PER_DEGREE_LATITUDE / 1000.0


def geometry_metrics(aois: DataFrame) -> DataFrame:
    """G13-G15 + A geometry block as column expressions
    (reference: aoi_metrics.py:161-171, 289-312)."""
    mid_lat = (F.col("min_lat") + F.col("max_lat")) / 2
    width_km = F.abs(F.col("max_lon") - F.col("min_lon")) * F.lit(_KM_PER_DEG) * F.cos(
        F.radians(mid_lat)
    )
    height_km = F.abs(F.col("max_lat") - F.col("min_lat")) * F.lit(_KM_PER_DEG)
    compactness = F.when(
        (F.col("perimeter_km") > 0) & (F.col("area_ha") > 0),
        F.round(
            F.lit(4 * math.pi) * (F.col("area_ha") / 100) / F.pow(F.col("perimeter_km"), 2), 3
        ),
    ).otherwise(F.lit(0.0))
    return aois.select(
        "url",
        "feature_index",
        "name",
        "area_ha",
        F.round(F.col("area_ha") / 100, 4).alias("area_km2"),
        "perimeter_km",
        compactness.alias("compactness"),
        F.round("centroid_lon", 6).alias("centroid_lon_r"),
        F.round("centroid_lat", 6).alias("centroid_lat_r"),
        F.round(width_km, 2).alias("bbox_width_km"),
        F.round(height_km, 2).alias("bbox_height_km"),
    )


_TREND_FIELDS = [
    T.StructField("direction", T.StringType()),
    T.StructField("observations", T.LongType()),
    T.StructField("slope_per_frame", T.DoubleType()),
    T.StructField("earliest_mean", T.DoubleType()),
    T.StructField("latest_mean", T.DoubleType()),
    T.StructField("overall_change", T.DoubleType()),
    T.StructField("overall_change_pct", T.DoubleType()),
    T.StructField("max_consecutive_drop", T.DoubleType()),
    T.StructField("max_drop_frame_id", T.LongType()),
    T.StructField("coefficient_of_variation", T.DoubleType()),
    T.StructField("mean_ndvi", T.DoubleType()),
    T.StructField("std_ndvi", T.DoubleType()),
    T.StructField("health_class", T.StringType()),
]


def ndvi_trend_per_aoi(ndvi_df: DataFrame) -> DataFrame:
    """A7: one trend row per AOI from its frame-ordered NDVI means.

    Shape: JVM-side ``collect_list(struct(frame_id, mean))`` + ``sort_array``
    per AOI (map-side combining aggregation), then ``rows.map_rows`` runs
    the reference arithmetic on each AOI's series, thousands of AOIs per
    Arrow batch — far cheaper than an applyInPandas call per group."""

    def trend_row(rec: dict) -> list[dict]:
        t = ndvi_trend([
            (int(s["frame_id"]), None if pd.isna(s["ndvi_mean"]) else float(s["ndvi_mean"]))
            for s in rec["series"]
        ])
        t["max_drop_frame_id"] = (
            None if t["max_drop_frame_id"] is None else int(t["max_drop_frame_id"])
        )
        return [t]

    # The upstream NDVI cache keeps the raster stage's grain
    # (RASTER_TASKS_PER_CORE x parallelism, 16 partitions on 4 cores); this
    # narrow 4-column aggregation pays ~15 ms/task of per-task overhead on
    # each — coalesce (no shuffle) to the session parallelism first
    # (measured 5.0 s → 0.35 s at sf0.1 when the grain was 256).
    # sort_array pins the series order, so partition merging cannot change
    # the result.
    par = ndvi_df.sparkSession.sparkContext.defaultParallelism
    agg = (
        ndvi_df.select("url", "feature_index", "frame_id", "ndvi_mean")
        .coalesce(par)
        .groupBy("url", "feature_index")
        .agg(
            F.sort_array(F.collect_list(F.struct("frame_id", "ndvi_mean"))).alias("series")
        )
    )
    return map_rows(agg, ["url", "feature_index"], ["series"], _TREND_FIELDS, trend_row)


def aoi_region(aois: DataFrame, regions: DataFrame) -> DataFrame:
    """Assign each AOI its containing region by centroid (broadcast join;
    the reference's geo-routing region table role, geo_router.py:42-94)."""
    r = F.broadcast(
        regions.select(
            F.col("region"),
            F.col("min_lon").alias("r_min_lon"),
            F.col("min_lat").alias("r_min_lat"),
            F.col("max_lon").alias("r_max_lon"),
            F.col("max_lat").alias("r_max_lat"),
        )
    )
    return aois.join(
        r,
        (F.col("centroid_lon") >= F.col("r_min_lon"))
        & (F.col("centroid_lon") <= F.col("r_max_lon"))
        & (F.col("centroid_lat") >= F.col("r_min_lat"))
        & (F.col("centroid_lat") <= F.col("r_max_lat")),
        "left",
    ).drop("r_min_lon", "r_min_lat", "r_max_lon", "r_max_lat")


def weather_series_agg():
    """Date-sorted (d, temp_c, precip_mm) series aggregate — the shared
    front half of every order-pinned weather fold (per-AOI summary here,
    per-frame CSV export in operators/exports.py): 1-dp rounded float
    aggregates must not depend on shuffle layout."""
    return F.array_sort(
        F.collect_list(F.struct(F.col("date").alias("d"), "temp_c", "precip_mm"))
    )


def weather_series_fold(series, field: str):
    """Sequential left fold of one series field. Null-safe: NULL
    observations add 0.0 (an IEEE no-op for finite sums); callers gate the
    result on their own non-null count."""
    return F.aggregate(
        series, F.lit(0.0), lambda acc, x: acc + F.coalesce(x[field], F.lit(0.0))
    )


def weather_summary_per_aoi(
    aois_with_region: DataFrame,
    weather: DataFrame,
    date_start: str,
    date_end: str,
) -> DataFrame:
    """J5 + A6: range-join daily weather to each AOI's region over the run
    window, then the reference's summary (aoi_metrics.py:211-223)."""
    w = weather.filter(
        (F.col("date") >= F.lit(date_start)) & (F.col("date") <= F.lit(date_end))
    )
    joined = aois_with_region.select("url", "feature_index", "region").join(
        w, "region", "left"
    )
    # The 1-dp rounded float sums must be partition-order-insensitive: fold
    # the values in date order with a sequential JVM lambda (F.aggregate over
    # a sorted array) instead of a distributed F.sum, so the accumulation
    # order is pinned regardless of shuffle layout. The DuckDB oracle pins
    # the same order with `sum(x ORDER BY date)`.
    series = weather_series_agg()
    seq_temp_sum = weather_series_fold(F.col("series"), "temp_c")
    seq_precip_sum = weather_series_fold(F.col("series"), "precip_mm")
    return (
        joined.groupBy("url", "feature_index")
        .agg(
            F.count("temp_c").alias("observation_days"),
            F.round(F.min("temp_c"), 1).alias("temp_min_c"),
            F.round(F.max("temp_c"), 1).alias("temp_max_c"),
            F.count_if(F.col("precip_mm") > 0.1).alias("precip_days"),
            series.alias("series"),
        )
        .withColumn(
            "temp_mean_c",
            F.when(
                F.col("observation_days") > 0,
                F.round(seq_temp_sum / F.col("observation_days"), 1),
            ),
        )
        .withColumn(
            "precip_total_mm",
            F.when(F.col("observation_days") > 0, F.round(seq_precip_sum, 1)),
        )
        .select(
            "url",
            "feature_index",
            "observation_days",
            "temp_mean_c",
            "temp_min_c",
            "temp_max_c",
            "precip_total_mm",
            "precip_days",
        )
    )


def monthly_weather_rollup(weather: DataFrame) -> DataFrame:
    """A5: per (region, month) mean temp / total precip
    (reference: enrichment/weather.py:50-74)."""
    return (
        weather.groupBy("region", F.date_format("date", "yyyy-MM").alias("month"))
        .agg(
            F.round(F.avg("temp_c"), 1).alias("temp_mean_c"),
            F.round(F.sum("precip_mm"), 1).alias("precip_total_mm"),
        )
        .orderBy("region", "month")
    )


def pipeline_summary(features: DataFrame, ndvi_df: DataFrame) -> DataFrame:
    """A10: run-level status counters (reference: outcomes.py:189-206,
    pipeline/orchestrator.py:71-114) — one row; status 'completed' iff zero
    quarantined documents, else 'completed_with_errors'."""
    f = features.agg(
        F.count_if(F.col("error").isNull()).alias("n_features"),
        F.count_if(F.col("error").isNotNull()).alias("n_quarantined"),
    )
    n = ndvi_df.agg(
        F.count("*").alias("n_aoi_frames"),
        F.count_if(F.col("ndvi_mean").isNotNull()).alias("n_ndvi_ok"),
        F.count_if(F.col("ndvi_mean").isNull()).alias("n_ndvi_missing"),
    )
    return f.crossJoin(n).withColumn(
        "status",
        F.when(F.col("n_quarantined") == 0, F.lit("completed")).otherwise(
            F.lit("completed_with_errors")
        ),
    )


def portfolio_py(rows: list) -> tuple:
    """Single-pass sequential portfolio fold over (url, feature_index)-sorted
    AOI rows (reference arithmetic: aoi_metrics.py:228-283). Kept as the
    readable reference fold and parity baseline for the distributed
    two-level exact fold below (portfolio_summary), which upgrades the
    semantics to correctly-rounded exact sums."""
    rows = sorted(rows, key=lambda r: (r["url"], r["feature_index"]))
    n = 0
    area = per = wnum = wden = loss = gain = net = 0.0
    for r in rows:
        n += 1
        area += r["area_ha"]
        per += r["perimeter_km"]
        lm = r["latest_mean"]
        if lm is not None:
            wnum += lm * r["area_ha"]
            wden += r["area_ha"]
        tl = r["total_loss_ha"] if r["total_loss_ha"] is not None else 0.0
        tg = r["total_gain_ha"] if r["total_gain_ha"] is not None else 0.0
        loss += tl
        gain += tg
        net += tg - tl
    return (
        n,
        round(area, 4),
        round(per, 4),
        round(wnum / wden, 4) if wden > 0 else None,
        round(loss, 2),
        round(gain, 2),
        round(net, 2),
    )


_PORTFOLIO_SCHEMA = (
    "aoi_count long, total_area_ha double, total_perimeter_km double, "
    "weighted_mean_ndvi double, total_loss_ha double, total_gain_ha double, "
    "net_change_ha double"
)


def _expansion_add(partials: list, x: float) -> None:
    """Grow a Shewchuk non-overlapping float expansion by x in place: the
    expansion's components sum EXACTLY (in real arithmetic) to the running
    total, so per-partition partials can later be merged without losing a
    single bit (math.fsum over all components = the correctly-rounded exact
    sum, independent of partitioning and order)."""
    i = 0
    for y in partials:
        if abs(x) < abs(y):
            x, y = y, x
        hi = x + y
        lo = y - (hi - x)
        if lo:
            partials[i] = lo
            i += 1
        x = hi
    partials[i:] = [x]


_PARTIAL_SCHEMA = (
    "n long, area array<double>, per array<double>, wnum array<double>, "
    "wden array<double>, loss array<double>, gain array<double>, net array<double>"
)


def _portfolio_partials(batches):
    """mapInPandas stage 1: one exact partial-sum row per task partition."""
    import pandas as pd

    n = 0
    acc = {k: [] for k in ("area", "per", "wnum", "wden", "loss", "gain", "net")}
    for pdf in batches:
        for r in pdf.itertuples(index=False):
            n += 1
            _expansion_add(acc["area"], float(r.area_ha))
            _expansion_add(acc["per"], float(r.perimeter_km))
            if r.latest_mean is not None and not pd.isna(r.latest_mean):
                _expansion_add(acc["wnum"], float(r.latest_mean) * float(r.area_ha))
                _expansion_add(acc["wden"], float(r.area_ha))
            tl = 0.0 if r.total_loss_ha is None or pd.isna(r.total_loss_ha) else float(r.total_loss_ha)
            tg = 0.0 if r.total_gain_ha is None or pd.isna(r.total_gain_ha) else float(r.total_gain_ha)
            _expansion_add(acc["loss"], tl)
            _expansion_add(acc["gain"], tg)
            _expansion_add(acc["net"], tg - tl)
    if n:
        yield pd.DataFrame(
            [
                {
                    "n": n,
                    "area": acc["area"], "per": acc["per"],
                    "wnum": acc["wnum"], "wden": acc["wden"],
                    "loss": acc["loss"], "gain": acc["gain"], "net": acc["net"],
                }
            ]
        )


def _portfolio_merge(parts: list) -> tuple:
    """Stage 2: merge the (few) per-partition exact expansions. fsum over
    concatenated expansion components returns the correctly-rounded sum of
    ALL original per-AOI values — bit-identical for any partitioning."""
    import math

    def total(key: str) -> float:
        return math.fsum(c for p in parts for c in p[key])

    n = sum(p["n"] for p in parts)
    area = total("area")
    per = total("per")
    wnum = total("wnum")
    wden = total("wden")
    loss = total("loss")
    gain = total("gain")
    net = total("net")
    return (
        n,
        round(area, 4),
        round(per, 4),
        round(wnum / wden, 4) if wden > 0 else None,
        round(loss, 2),
        round(gain, 2),
        round(net, 2),
    )


def portfolio_summary(
    geom: DataFrame, trend: DataFrame, change_sum: DataFrame
) -> DataFrame:
    """A8: portfolio-level rollup incl. area-weighted mean NDVI
    (reference: aoi_metrics.py:228-283). Returns a single row.

    Two-level exact fold: stage 1 reduces each task partition to ONE row of
    Shewchuk expansion partials (exact, a handful of doubles per metric);
    stage 2 merges those few rows with math.fsum. No task ever materializes
    all AOI structs (the round-2 single collect_list hit the 2 GiB task
    limit at ~10⁸ AOIs), and because the partials are exact the result is
    the correctly-rounded sum — bit-identical under ANY partitioning, which
    is a stronger reproducibility guarantee than the previous sorted-fold
    (the sequential oracle computes the same fsum semantics)."""
    j = geom.join(trend, ["url", "feature_index"], "left").join(
        change_sum, ["url", "feature_index"], "left"
    )
    partials = j.select(
        "area_ha", "perimeter_km", "latest_mean", "total_loss_ha", "total_gain_ha"
    ).mapInPandas(_portfolio_partials, _PARTIAL_SCHEMA)
    merge = F.udf(_portfolio_merge, _PORTFOLIO_SCHEMA)
    agg = partials.agg(
        F.collect_list(
            F.struct("n", "area", "per", "wnum", "wden", "loss", "gain", "net")
        ).alias("parts")
    )
    return agg.select(merge("parts").alias("p")).select("p.*")
