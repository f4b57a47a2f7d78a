"""High-level pipeline composition (EP1 of SURVEY.md §3, Spark mapping:
pages → geometries → aois → (aois × frames) ⋈ scenes → NDVI stats →
change detection → metrics)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from azure_workflow_for_kml_satellite_spark.constants import (
    RASTER_TASKS_PER_CORE,
    RUN_DATE_END,
    RUN_DATE_START,
)
from azure_workflow_for_kml_satellite_spark.operators.aoi import prepare_aois
from azure_workflow_for_kml_satellite_spark.operators.extract import extract_features
from azure_workflow_for_kml_satellite_spark.operators.ndvi import ndvi_stats
from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
    spatial_join_best_scene,
)
from azure_workflow_for_kml_satellite_spark.plans import contracts

ENGINE_DATA_ROOT = Path(__file__).resolve().parent.parent / "data"


def engine_dir(sf_dir: str) -> str:
    """Map a driver sf dir (/root/testdata/sfX) to the engine data dir
    (<repo>/data/sfX), generating it if absent (deterministic)."""
    name = Path(sf_dir).name
    out = ENGINE_DATA_ROOT / name
    if not (out / "pages.parquet").exists():
        from azure_workflow_for_kml_satellite_spark.sources.synth import generate_sf

        generate_sf(ENGINE_DATA_ROOT, name)
    # tables added after a dir was first generated backfill individually
    # (each writer is deterministic and standalone)
    aux = {
        "coord_requests.parquet": "write_coord_requests",
        "csv_points.parquet": "write_csv_points",
        "utm_scenes.parquet": "write_utm_scenes",
    }
    for fname, writer in aux.items():
        if not (out / fname).exists():
            from azure_workflow_for_kml_satellite_spark.sources import synth

            getattr(synth, writer)(out)
    return str(out)


def load_tables(spark: SparkSession, ed: str) -> dict[str, DataFrame]:
    t = {}
    for name in (
        "pages",
        "scenes",
        "frames",
        "regions",
        "weather_daily",
        "protected_areas",
        "fire_events",
        "flood_gauges",
    ):
        t[name] = spark.read.parquet(f"{ed}/{name}.parquet")
    return t


def default_parallelism(spark: SparkSession) -> int:
    return spark.sparkContext.defaultParallelism


def _ndvi_repartition(spark: SparkSession, best: DataFrame) -> DataFrame:
    """Partitioning for the heterogeneous per-(geometry, frame) raster
    stage: RASTER_TASKS_PER_CORE x parallelism tasks, hashed on the natural
    key. The key-hash scatter is the round-5 fix for the coarse default's
    straggler tail (BASELINE.md: p95/p50 = 1.53 across 48 fat tasks).

    The grain has no floor. Every raster task pays a fixed cost — a
    pass-through mapInPandas measured 54-73 ms of core time per task, and
    writing the cached NDVI rows as 64 parquet files takes 1.2-1.3 s vs
    0.23-0.27 s as 4 — so the old rule (8x with a floor of 64 tasks, sized
    for a 32-core box) turned each raster stage on 4 cores into 64 small
    tasks. Measured on a 4-core box, cold ndvi_season job (perfbench/),
    median of 10 interleaved seed pairs: old rule 18.92 s, 4x (16 tasks)
    13.72 s. A 3-seed sweep read 15.23 s at 8x without the floor, 14.61 s
    at 4x, 14.18 s at 2x and 13.81 s at 1x; 4x keeps more room than 2x/1x
    to balance skewed monster windows at about the same cost, and at sf0.1
    it was no slower than grain 64 on either raster stage."""
    from pyspark.sql import functions as F

    grain = RASTER_TASKS_PER_CORE * default_parallelism(spark)
    return best.repartition(grain, F.col("url"), F.col("frame_id"))


# Per-process memo of expensive intermediate DataFrames: several queries()
# entries share the extraction/NDVI prefix; caching the DataFrame (Spark
# .cache()) within one session avoids rebuilding the whole pipeline per
# query when the driver runs the full suite. Keyed by applicationId (id()
# of a stopped session can be reused by a new one) and evictable.
_MEMO: dict[tuple, DataFrame] = {}


def _memo_key(spark: SparkSession, *parts) -> tuple:
    return (spark.sparkContext.applicationId, *parts)


def evict_memo(unpersist: bool = True) -> None:
    """Drop all memoized DataFrames, unpersisting their cached blocks."""
    for df in _MEMO.values():
        if unpersist:
            try:
                df.unpersist()
            except Exception:  # session already stopped
                pass
    _MEMO.clear()


def build_aois(spark: SparkSession, ed: str) -> DataFrame:
    key = _memo_key(spark, "aois", ed)
    if key in _MEMO:
        return _MEMO[key]
    t = load_tables(spark, ed)
    pages = t["pages"].repartition(max(16, 2 * default_parallelism(spark)))
    # stage-boundary contracts (reference contracts.py analog): each
    # hand-off asserts the consumer's required StructType subset, failing
    # fast on the driver with a per-column diff instead of a deep executor
    # crash — see plans/contracts.py
    feats = contracts.expect(extract_features(pages), "extract→aoi", contracts.FEATURES)
    aois = contracts.expect(prepare_aois(feats), "aoi→join", contracts.AOIS).cache()
    _MEMO[key] = aois
    return aois


def run_timelapse(
    spark: SparkSession,
    coords_text: str,
    ed: str,
    date_start: str = RUN_DATE_START,
    date_end: str = RUN_DATE_END,
):
    """EP2 (reference: blueprints/analysis.py:118-309): direct timelapse
    analysis for pasted coordinates — coordinate parse → AOI prep → frame
    plan → NDVI trend, skipping page extraction."""
    from azure_workflow_for_kml_satellite_spark.operators.aoi import prepare_aois
    from azure_workflow_for_kml_satellite_spark.operators.coords import (
        coord_features_to_feature_rows,
        coordinate_text_features,
    )
    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        ndvi_trend_per_aoi,
    )
    from azure_workflow_for_kml_satellite_spark.operators.ndvi import ndvi_stats

    t = load_tables(spark, ed)
    df = spark.createDataFrame([("request", coords_text)], ["source", "coords_text"])
    feats = coord_features_to_feature_rows(coordinate_text_features(df))
    aois = contracts.expect(prepare_aois(feats), "aoi→join", contracts.AOIS)
    best = contracts.expect(
        spatial_join_best_scene(aois, t["scenes"], t["frames"], date_start, date_end),
        "join→ndvi",
        contracts.BEST_SCENES,
    )
    nd = contracts.expect(ndvi_stats(best), "ndvi→trend", contracts.NDVI)
    return {"aois": aois, "ndvi": nd, "trend": ndvi_trend_per_aoi(nd)}


def run_eudr(
    spark: SparkSession,
    ed: str,
    date_end: str = RUN_DATE_END,
):
    """EP3 (reference: blueprints/analysis.py:490-640, runner.py:623-839):
    EUDR mode — frames cut to the post-2020 window (F4), supplementary
    layers, Landsat baseline, and the deforestation-free determination."""
    from azure_workflow_for_kml_satellite_spark.operators.change import season_changes
    from azure_workflow_for_kml_satellite_spark.operators.eudr import (
        landsat_baseline,
        landsat_baseline_summary,
    )
    from azure_workflow_for_kml_satellite_spark.sources.frames import (
        EUDR_FRAME_DATE_START,
    )

    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    nd = build_ndvi(spark, ed, EUDR_FRAME_DATE_START, date_end)
    ch = contracts.expect(
        season_changes(nd), "change→summary/determination", contracts.SEASON_CHANGES
    )
    baseline = landsat_baseline(aois, t["scenes"])
    return {
        "aois": aois,
        "ndvi": nd,
        "season_changes": ch,
        "landsat_baseline": baseline,
        "landsat_baseline_summary": landsat_baseline_summary(baseline),
        "determination": eudr_determination(aois, ch, t["protected_areas"]),
    }


def eudr_determination(
    aois: DataFrame, changes: DataFrame, protected_areas: DataFrame
) -> DataFrame:
    """The deforestation-free verdict per AOI from its season ``changes``
    (over whatever frame window the caller ran), the WDPA overlap and the
    WorldCover tree-cover trend: the one composition ``run_eudr`` and
    ``q_determination`` share."""
    from azure_workflow_for_kml_satellite_spark.operators.change import (
        change_summary_per_aoi,
    )
    from azure_workflow_for_kml_satellite_spark.operators.eudr import (
        determination,
        lulc_tree_trend,
    )
    from azure_workflow_for_kml_satellite_spark.operators.pip import wdpa_overlap

    return determination(
        aois,
        change_summary_per_aoi(changes),
        changes,
        wdpa_overlap(aois, protected_areas),
        lulc_tree_trend(aois),
    )


def build_ndvi(
    spark: SparkSession,
    ed: str,
    date_start: str = RUN_DATE_START,
    date_end: str = RUN_DATE_END,
) -> DataFrame:
    key = _memo_key(spark, "ndvi", ed, date_start, date_end)
    if key in _MEMO:
        return _MEMO[key]
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    best = contracts.expect(
        spatial_join_best_scene(
            aois, t["scenes"], t["frames"], date_start=date_start, date_end=date_end
        ),
        "join→ndvi",
        contracts.BEST_SCENES,
    )
    best = _ndvi_repartition(spark, best)
    nd = contracts.expect(
        ndvi_stats(best), "ndvi→change/metrics", contracts.NDVI
    ).cache()
    _MEMO[key] = nd
    return nd
