"""EUDR layers + deforestation-free determination (SURVEY.md §2.1 S14,
§2.4 A4/A9/A13; reference: treesight/pipeline/eudr.py,
enrichment/determination.py).

- class histograms over synthetic global classification mosaics
  (WorldCover-role at 20 m, IO-LULC-role per year at 30 m, ALOS-FNF-role at
  50 m — synthetic layers, so resolution is a cost knob, not a semantic);
- tree-cover trend across LULC years (A9: change if max−min > 10, trend by
  first-vs-last ± 5, reference eudr.py:444-469);
- the determination rule engine (A13): flags assembled with Python f-string
  formatting inside Arrow UDFs for exact text parity with the reference's
  messages (Java's %.1f rounds HALF_UP, Python's half-even — so JVM
  format_string is NOT equivalent on 2dp-rounded inputs).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.functions import raster as R

# determination thresholds (reference: determination.py:19-21)
LOSS_PCT_THRESHOLD = 5.0
LOSS_HA_THRESHOLD = 1.0
NDVI_DECLINE_THRESHOLD = -0.05

WORLDCOVER_RES_M = 20.0
LULC_RES_M = 30.0
TREE_CLASS = 10  # WorldCover tree-cover code (reference: eudr.py:229-241)
LULC_YEARS = list(range(2019, 2024))


# ── class histograms ─────────────────────────────────────────────────────────

_HIST_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("feature_index", T.IntegerType()),
        T.StructField("layer", T.StringType()),
        T.StructField("class_code", T.LongType()),
        T.StructField("pixel_count", T.LongType()),
        T.StructField("area_pct", T.DoubleType()),
        T.StructField("rank", T.LongType()),
    ]
)


def class_histogram_per_aoi(
    aois: DataFrame, layer: str = "worldcover", resolution_m: float = WORLDCOVER_RES_M
) -> DataFrame:
    """One row per (aoi, land-cover class), desc by pixel count; rank 1 is
    the dominant class (A4)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in _HIST_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                classes = R.read_class_window(
                    layer,
                    [rec["min_lon"], rec["min_lat"], rec["max_lon"], rec["max_lat"]],
                    resolution_m,
                )
                if classes is None:
                    continue
                for rank, h in enumerate(R.class_histogram(classes), start=1):
                    rows.append(
                        {
                            "url": rec["url"],
                            "feature_index": rec["feature_index"],
                            "layer": layer,
                            "class_code": h["class_code"],
                            "pixel_count": h["pixel_count"],
                            "area_pct": h["area_pct"],
                            "rank": rank,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)

    return aois.select("url", "feature_index", "min_lon", "min_lat", "max_lon", "max_lat").mapInPandas(
        run, _HIST_SCHEMA
    )


_TREND_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("feature_index", T.IntegerType()),
        T.StructField("tree_pct_first", T.DoubleType()),
        T.StructField("tree_pct_last", T.DoubleType()),
        T.StructField("tree_pct_min", T.DoubleType()),
        T.StructField("tree_pct_max", T.DoubleType()),
        T.StructField("change_detected", T.BooleanType()),
        T.StructField("tree_cover_trend", T.StringType()),
    ]
)


def lulc_tree_trend(aois: DataFrame, years: list[int] | None = None) -> DataFrame:
    """A9: per-year tree % over the IO-LULC-role layers → change/trend
    (reference: eudr.py:444-469: change if max−min > 10; trend declining /
    increasing by last-vs-first ± 5, else stable)."""
    years = years or LULC_YEARS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in _TREND_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                bbox = [rec["min_lon"], rec["min_lat"], rec["max_lon"], rec["max_lat"]]
                pcts = []
                for yr in years:
                    classes = R.read_class_window(f"io-lulc-{yr}", bbox, LULC_RES_M)
                    if classes is None:
                        continue
                    hist = R.class_histogram(classes)
                    total = sum(h["pixel_count"] for h in hist)
                    tree = sum(
                        h["pixel_count"] for h in hist if h["class_code"] == TREE_CLASS
                    )
                    pcts.append(round(100.0 * tree / total, 2) if total else 0.0)
                if not pcts:
                    continue
                delta = pcts[-1] - pcts[0]
                trend = (
                    "declining" if delta < -5 else "increasing" if delta > 5 else "stable"
                )
                rows.append(
                    {
                        "url": rec["url"],
                        "feature_index": rec["feature_index"],
                        "tree_pct_first": pcts[0],
                        "tree_pct_last": pcts[-1],
                        "tree_pct_min": min(pcts),
                        "tree_pct_max": max(pcts),
                        "change_detected": (max(pcts) - min(pcts)) > 10,
                        "tree_cover_trend": trend,
                    }
                )
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)

    return aois.select("url", "feature_index", "min_lon", "min_lat", "max_lon", "max_lat").mapInPandas(
        run, _TREND_SCHEMA
    )


# ── Landsat historical baseline (A12) ────────────────────────────────────────

LANDSAT_BASELINE_WINDOWS = [
    ("2013-06-01", "2014-09-30"),
    ("2015-06-01", "2016-09-30"),
]


def landsat_baseline(aois: DataFrame, scenes: DataFrame) -> DataFrame:
    """Two fixed pre-Sentinel dry-season NDVI samples per AOI
    (reference: runner.py:174-206). One row per (aoi, window) that found a
    scene; candidates use the PLAIN aoi bbox (the reference passes flat_bbox,
    not the buffered one) with cloud ≤ 30 (ndvi.py:283)."""
    from azure_workflow_for_kml_satellite_spark.operators.ndvi import (
        NDVI_ROW_COLS,
        append_row_stats,
        compute_ndvi_for_row,
    )
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        _bbox_cell_join,
        scene_bbox,
    )

    spark = aois.sparkSession
    win = spark.createDataFrame(
        [(i, s, e) for i, (s, e) in enumerate(LANDSAT_BASELINE_WINDOWS)],
        ["window_id", "w_start", "w_end"],
    )
    cand_scenes = (
        scenes.filter(
            (F.col("collection") == "landsat-c2-l2") & (F.col("cloud_cover") <= 30.0)
        )
        .crossJoin(F.broadcast(win))
        .filter(
            (F.to_date("datetime") >= F.to_date("w_start"))
            & (F.to_date("datetime") <= F.to_date("w_end"))
        )
    )
    bbox = ("min_lon", "min_lat", "max_lon", "max_lat")
    pairs = _bbox_cell_join(
        aois.select("url", "feature_index", *bbox),
        bbox,
        scene_bbox(cand_scenes, "window_id", "scene_id", "cloud_cover", "datetime", "resolution_m"),
    )
    best = pairs.groupBy("url", "feature_index", "window_id").agg(
        F.min_by(
            F.struct(
                "scene_id", "cloud_cover", "resolution_m",
                "s_min_lon", "s_min_lat", "s_max_lon", "s_max_lat",
            ),
            F.struct("cloud_cover", "datetime", "scene_id"),
        ).alias("best"),
        F.first("min_lon").alias("min_lon"),
        F.first("min_lat").alias("min_lat"),
        F.first("max_lon").alias("max_lon"),
        F.first("max_lat").alias("max_lat"),
    ).select("url", "feature_index", "window_id", "min_lon", "min_lat", "max_lon", "max_lat", "best.*")

    return append_row_stats(
        best,
        [T.StructField("ndvi_mean", T.DoubleType()), T.StructField("valid_pixels", T.LongType())],
        [c for c in NDVI_ROW_COLS if c != "ndvi_collection"],
        lambda rec: compute_ndvi_for_row({**rec, "ndvi_collection": "landsat-c2-l2"}),
    )


def landsat_baseline_summary(baseline: DataFrame) -> DataFrame:
    """Per-AOI rollup: scene count + mean NDVI over available windows
    (reference: determination.py:124-135 — round(sum/len, 4))."""
    ok = baseline.filter(F.col("ndvi_mean").isNotNull())
    return ok.groupBy("url", "feature_index").agg(
        F.count("*").alias("scenes"),
        F.round(F.avg("ndvi_mean"), 4).alias("baseline_mean_ndvi"),
    )


# ── determination (A13) ──────────────────────────────────────────────────────


def determination(
    aois: DataFrame,
    change_summary: DataFrame,
    season_changes: DataFrame,
    wdpa_hits: DataFrame,
    lulc_trend: DataFrame,
    loss_pct_threshold: float = LOSS_PCT_THRESHOLD,
    loss_ha_threshold: float = LOSS_HA_THRESHOLD,
    ndvi_decline_threshold: float = NDVI_DECLINE_THRESHOLD,
) -> DataFrame:
    """Deforestation-free verdict per AOI (reference: determination.py:138-195).

    Flag ORDER matches the reference: per-season loss flags (season asc,
    year asc), declining trajectory, mean-delta, WDPA overlap, LULC change,
    LULC declining trend. Output flags joined with '|'."""

    # per-change loss flags, formatted in Python for parity
    flag_schema = T.StructType(
        [
            season_changes.schema["url"],
            season_changes.schema["feature_index"],
            T.StructField("season", T.StringType()),
            T.StructField("year_from", T.LongType()),
            T.StructField("year_to", T.LongType()),
            T.StructField("flag", T.StringType()),
        ]
    )

    def loss_flags(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in flag_schema.fields]
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                if (
                    rec["loss_pct"] >= loss_pct_threshold
                    and rec["loss_ha"] >= loss_ha_threshold
                ):
                    rows.append(
                        {
                            "url": rec["url"],
                            "feature_index": rec["feature_index"],
                            "season": rec["season"],
                            "year_from": int(rec["year_from"]),
                            "year_to": int(rec["year_to"]),
                            # reference: determination.py:53-56
                            "flag": (
                                f"Vegetation loss {rec['loss_pct']:.1f}% "
                                f"({rec['loss_ha']:.1f} ha) in {rec['label']}"
                            ),
                        }
                    )
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)

    per_change = season_changes.select(
        "url", "feature_index", "season", "year_from", "year_to", "loss_pct", "loss_ha", "label"
    ).mapInPandas(loss_flags, flag_schema)

    loss_agg = per_change.groupBy("url", "feature_index").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("season", "year_from", "year_to", "flag"))
            ),
            lambda s: s.flag,
        ).alias("loss_flags")
    )

    # mean-delta flag text needs Python %+.4f parity
    delta_schema = T.StructType(
        [
            change_summary.schema["url"],
            change_summary.schema["feature_index"],
            T.StructField("delta_flag", T.StringType()),
        ]
    )

    def delta_flags(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in delta_schema.fields]
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                flag = None
                ad = rec["avg_mean_delta"]
                if ad is not None and not pd.isna(ad) and ad < ndvi_decline_threshold:
                    # reference: determination.py:61-64
                    flag = (
                        f"Mean NDVI delta {ad:+.4f} below threshold "
                        f"({ndvi_decline_threshold:+.4f})"
                    )
                rows.append(
                    {"url": rec["url"], "feature_index": rec["feature_index"], "delta_flag": flag}
                )
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)

    deltas = change_summary.select("url", "feature_index", "avg_mean_delta").mapInPandas(
        delta_flags, delta_schema
    )

    protected = wdpa_hits.select("url", "feature_index").distinct().withColumn(
        "is_protected", F.lit(True)
    )

    j = (
        aois.select("url", "feature_index")
        .join(
            change_summary.select(
                "url", "feature_index", "comparisons", "trajectory", "avg_mean_delta"
            ),
            ["url", "feature_index"],
            "left",
        )
        .join(loss_agg, ["url", "feature_index"], "left")
        .join(deltas, ["url", "feature_index"], "left")
        .join(protected, ["url", "feature_index"], "left")
        .join(
            lulc_trend.select("url", "feature_index", "change_detected", "tree_cover_trend"),
            ["url", "feature_index"],
            "left",
        )
    )
    flags = F.concat(
        F.coalesce(F.col("loss_flags"), F.array()),
        F.when(
            F.col("trajectory") == "Declining",
            F.array(F.lit("Overall NDVI trajectory is declining")),
        ).otherwise(F.array()),
        F.when(F.col("delta_flag").isNotNull(), F.array(F.col("delta_flag"))).otherwise(
            F.array()
        ),
        F.when(
            F.coalesce(F.col("is_protected"), F.lit(False)),
            F.array(F.lit("Overlaps a WDPA protected area")),
        ).otherwise(F.array()),
        F.when(
            F.coalesce(F.col("change_detected"), F.lit(False)),
            F.array(F.lit("IO LULC detected significant land-cover change")),
        ).otherwise(F.array()),
        F.when(
            F.col("tree_cover_trend") == "declining",
            F.array(F.lit("IO LULC tree cover trend is declining")),
        ).otherwise(F.array()),
    )
    j = j.withColumn("flags_arr", flags)
    has_data = F.coalesce(F.col("comparisons"), F.lit(0)) > 0
    n_flags = F.size("flags_arr")
    return j.select(
        "url",
        "feature_index",
        (has_data & (n_flags == 0)).alias("deforestation_free"),
        F.when(~has_data, F.lit("low"))
        .when(n_flags == 1, F.lit("medium"))
        .when(n_flags > 1, F.lit("high"))
        .otherwise(F.lit("high"))
        .alias("confidence"),
        F.concat_ws("|", "flags_arr").alias("flags"),
    )
