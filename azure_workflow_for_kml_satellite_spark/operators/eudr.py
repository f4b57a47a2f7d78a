"""EUDR layers + deforestation-free determination (SURVEY.md §2.1 S14,
§2.4 A4/A9/A13; reference: treesight/pipeline/eudr.py,
enrichment/determination.py).

- class histograms over synthetic global classification mosaics
  (WorldCover-role at 20 m, IO-LULC-role per year at 30 m, ALOS-FNF-role at
  50 m — synthetic layers, so resolution is a cost knob, not a semantic);
- tree-cover trend across LULC years (A9: change if max−min > 10, trend by
  first-vs-last ± 5, reference eudr.py:444-469);
- the determination rule engine (A13): flags assembled with Python f-string
  formatting for exact text parity with the reference's messages (Java's
  %.1f rounds HALF_UP, Python's half-even — so JVM format_string is NOT
  equivalent on 2dp-rounded inputs).

Every per-AOI Python step here (histograms, trend, Landsat NDVI, the loss
and mean-delta flags) is a ``rows.map_rows`` row function. The Landsat
baseline picks its scenes with the engine's one scene picker
(``spatial_join.scenes_in_windows`` + ``pick_best_scene``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.functions import raster as R
from azure_workflow_for_kml_satellite_spark.operators.rows import map_rows

# determination thresholds (reference: determination.py:19-21)
LOSS_PCT_THRESHOLD = 5.0
LOSS_HA_THRESHOLD = 1.0
NDVI_DECLINE_THRESHOLD = -0.05

WORLDCOVER_RES_M = 20.0
LULC_RES_M = 30.0
TREE_CLASS = 10  # WorldCover tree-cover code (reference: eudr.py:229-241)
LULC_YEARS = list(range(2019, 2024))


# ── class histograms ─────────────────────────────────────────────────────────

_HIST_FIELDS = [
    T.StructField("layer", T.StringType()),
    T.StructField("class_code", T.LongType()),
    T.StructField("pixel_count", T.LongType()),
    T.StructField("area_pct", T.DoubleType()),
    T.StructField("rank", T.LongType()),
]
_BBOX = ["min_lon", "min_lat", "max_lon", "max_lat"]


def class_histogram_per_aoi(
    aois: DataFrame, layer: str = "worldcover", resolution_m: float = WORLDCOVER_RES_M
) -> DataFrame:
    """One row per (aoi, land-cover class), desc by pixel count; rank 1 is
    the dominant class (A4)."""

    def hist_rows(rec: dict) -> list[dict]:
        classes = R.read_class_window(layer, [rec[c] for c in _BBOX], resolution_m)
        if classes is None:
            return []
        return [
            {"layer": layer, **h, "rank": rank}
            for rank, h in enumerate(R.class_histogram(classes), start=1)
        ]

    src = aois.select("url", "feature_index", *_BBOX)
    return map_rows(src, ["url", "feature_index"], _BBOX, _HIST_FIELDS, hist_rows)


_TREND_FIELDS = [
    T.StructField("tree_pct_first", T.DoubleType()),
    T.StructField("tree_pct_last", T.DoubleType()),
    T.StructField("tree_pct_min", T.DoubleType()),
    T.StructField("tree_pct_max", T.DoubleType()),
    T.StructField("change_detected", T.BooleanType()),
    T.StructField("tree_cover_trend", T.StringType()),
]


def lulc_tree_trend(aois: DataFrame, years: list[int] | None = None) -> DataFrame:
    """A9: per-year tree % over the IO-LULC-role layers → change/trend
    (reference: eudr.py:444-469: change if max−min > 10; trend declining /
    increasing by last-vs-first ± 5, else stable)."""
    years = years or LULC_YEARS

    def trend_rows(rec: dict) -> list[dict]:
        bbox = [rec[c] for c in _BBOX]
        pcts = []
        for yr in years:
            classes = R.read_class_window(f"io-lulc-{yr}", bbox, LULC_RES_M)
            if classes is None:
                continue
            hist = R.class_histogram(classes)
            total = sum(h["pixel_count"] for h in hist)
            tree = sum(h["pixel_count"] for h in hist if h["class_code"] == TREE_CLASS)
            pcts.append(round(100.0 * tree / total, 2) if total else 0.0)
        if not pcts:
            return []
        delta = pcts[-1] - pcts[0]
        trend = "declining" if delta < -5 else "increasing" if delta > 5 else "stable"
        return [
            {
                "tree_pct_first": pcts[0],
                "tree_pct_last": pcts[-1],
                "tree_pct_min": min(pcts),
                "tree_pct_max": max(pcts),
                "change_detected": (max(pcts) - min(pcts)) > 10,
                "tree_cover_trend": trend,
            }
        ]

    src = aois.select("url", "feature_index", *_BBOX)
    return map_rows(src, ["url", "feature_index"], _BBOX, _TREND_FIELDS, trend_rows)


# ── Landsat historical baseline (A12) ────────────────────────────────────────

LANDSAT_BASELINE_WINDOWS = [
    ("2013-06-01", "2014-09-30"),
    ("2015-06-01", "2016-09-30"),
]


def landsat_baseline(aois: DataFrame, scenes: DataFrame) -> DataFrame:
    """Two fixed pre-Sentinel dry-season NDVI samples per AOI
    (reference: runner.py:174-206). One row per (aoi, window) that found a
    scene; candidates use the PLAIN aoi bbox (the reference passes flat_bbox,
    not the buffered one) with cloud ≤ 30 (ndvi.py:283), searched through a
    two-row window table."""
    from azure_workflow_for_kml_satellite_spark.operators.ndvi import (
        NDVI_ROW_COLS,
        compute_ndvi_for_row,
    )
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        _bbox_cell_join,
        pick_best_scene,
        scenes_in_windows,
    )

    win = aois.sparkSession.createDataFrame(
        [(i, s, e, "landsat-c2-l2", 30.0) for i, (s, e) in enumerate(LANDSAT_BASELINE_WINDOWS)],
        "window_id bigint, start string, end string, collection string, max_cloud double",
    )
    pairs = _bbox_cell_join(
        aois.select("url", "feature_index", *_BBOX), tuple(_BBOX),
        scenes_in_windows(scenes, win, "collection"),
    )
    best = pick_best_scene(
        pairs,
        ["url", "feature_index", "window_id"],
        ["scene_id", "cloud_cover", "resolution_m", *(f"s_{c}" for c in _BBOX)],
        carry=_BBOX,
    )
    return map_rows(
        best,
        best.columns,
        [c for c in NDVI_ROW_COLS if c != "ndvi_collection"],
        [T.StructField("ndvi_mean", T.DoubleType()), T.StructField("valid_pixels", T.LongType())],
        lambda rec: [compute_ndvi_for_row({**rec, "ndvi_collection": "landsat-c2-l2"})],
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
    def loss_flag(rec: dict) -> list[dict]:
        # the positive test: a NaN loss emits no flag
        if rec["loss_pct"] >= loss_pct_threshold and rec["loss_ha"] >= loss_ha_threshold:
            # reference: determination.py:53-56
            return [
                {
                    "flag": f"Vegetation loss {rec['loss_pct']:.1f}% "
                    f"({rec['loss_ha']:.1f} ha) in {rec['label']}"
                }
            ]
        return []

    per_change = map_rows(
        season_changes.select(
            "url", "feature_index", "season", "year_from", "year_to",
            "loss_pct", "loss_ha", "label",
        ),
        ["url", "feature_index", "season", "year_from", "year_to"],
        ["loss_pct", "loss_ha", "label"],
        [T.StructField("flag", T.StringType())],
        loss_flag,
    )

    loss_agg = per_change.groupBy("url", "feature_index").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("season", "year_from", "year_to", "flag"))
            ),
            lambda s: s.flag,
        ).alias("loss_flags")
    )

    # mean-delta flag text needs Python %+.4f parity
    def delta_flag(rec: dict) -> list[dict]:
        ad = rec["avg_mean_delta"]
        flag = None
        if ad < ndvi_decline_threshold:  # False for a null (NaN) delta
            # reference: determination.py:61-64
            flag = (
                f"Mean NDVI delta {ad:+.4f} below threshold "
                f"({ndvi_decline_threshold:+.4f})"
            )
        return [{"delta_flag": flag}]

    deltas = map_rows(
        change_summary.select("url", "feature_index", "avg_mean_delta"),
        ["url", "feature_index"],
        ["avg_mean_delta"],
        [T.StructField("delta_flag", T.StringType())],
        delta_flag,
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
