"""High-level pipeline composition (EP1 of SURVEY.md §3, Spark mapping:
pages → geometries → aois → (aois × frames) ⋈ scenes → NDVI stats →
change detection → metrics)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from azure_workflow_for_kml_satellite_spark.constants import (
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
        "images.parquet": "write_images",
        "audio.parquet": "write_audio",
        "videos.parquet": "write_videos",
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
    stage: fine grain (8x parallelism, min 64) hashed on the natural key.
    Measured on the 10-year-window job (BASELINE.md round-5 study,
    scripts/profile_10yr.py): the coarse default left a straggler tail
    (p95/p50 = 1.53 across 48 fat tasks) and 0.60 scaling efficiency at
    local[8]->local[32]; key-hash scatter at grain 256 cut the stage wall
    44% and lifted tuned-vs-tuned efficiency to 0.76 — the remaining gap
    is per-task slowdown under concurrency (memory bus), not skew. The 8x
    multiplier survived both grain re-sweeps after the round-8 per-task
    cost changes (OPTIMIZATION_r08.md §9, §13)."""
    from pyspark.sql import functions as F

    grain = max(64, 8 * default_parallelism(spark))
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
    from azure_workflow_for_kml_satellite_spark.operators.change import (
        change_summary_per_aoi,
        season_changes,
    )
    from azure_workflow_for_kml_satellite_spark.operators.eudr import (
        determination,
        landsat_baseline,
        landsat_baseline_summary,
        lulc_tree_trend,
    )
    from azure_workflow_for_kml_satellite_spark.operators.ndvi import ndvi_stats
    from azure_workflow_for_kml_satellite_spark.operators.pip import wdpa_overlap
    from azure_workflow_for_kml_satellite_spark.sources.frames import (
        EUDR_FRAME_DATE_START,
    )

    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    best = contracts.expect(
        spatial_join_best_scene(
            aois, t["scenes"], t["frames"], EUDR_FRAME_DATE_START, date_end
        ),
        "join→ndvi",
        contracts.BEST_SCENES,
    )
    nd = contracts.expect(
        ndvi_stats(_ndvi_repartition(spark, best)),
        "ndvi→change",
        contracts.NDVI,
    )
    ch = contracts.expect(
        season_changes(nd), "change→summary/determination", contracts.SEASON_CHANGES
    )
    baseline = landsat_baseline(aois, t["scenes"])
    det = determination(
        aois,
        change_summary_per_aoi(ch),
        ch,
        wdpa_overlap(aois, t["protected_areas"]),
        lulc_tree_trend(aois),
    )
    return {
        "aois": aois,
        "ndvi": nd,
        "season_changes": ch,
        "landsat_baseline": baseline,
        "landsat_baseline_summary": landsat_baseline_summary(baseline),
        "determination": det,
    }


def build_ndvi(
    spark: SparkSession,
    ed: str,
    date_start: str = RUN_DATE_START,
    date_end: str = RUN_DATE_END,
    include_raster: bool = False,
) -> DataFrame:
    key = _memo_key(spark, "ndvi", ed, date_start, date_end, include_raster)
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
        ndvi_stats(best, include_raster=include_raster), "ndvi→change/metrics", contracts.NDVI
    ).cache()
    _MEMO[key] = nd
    return nd
