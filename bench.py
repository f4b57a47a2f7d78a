"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the box's
core count), twice, each run in a fresh session, and prints ONE JSON line
for the faster run:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "cores": ...,
     "geometries": N, "geometries_per_sec": ..., "counts": {...},
     "all_run_totals_sec": [...both totals...],
     "native_build_error": null | <why the C kernel is not loaded>,
     "warm_error": null | <why the session warm-up failed>}

The BASELINE.json target metric is geometries/sec for the full
KML→spatial-join→NDVI pipeline; that figure is reported as
``geometries_per_sec`` (extra key). Scaling-efficiency evidence at two
parallelism levels is produced by scripts/bench_scaling.py (see BASELINE.md).
Performance gains are judged by perfbench/ (BENCHMARK.json), which
interleaves parent and change runs; this suite is the sf0.1 overview.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import azure_workflow_for_kml_satellite_spark as kmlsat  # noqa: E402
from azure_workflow_for_kml_satellite_spark import get_spark  # noqa: E402
from azure_workflow_for_kml_satellite_spark.functions import native  # noqa: E402
from azure_workflow_for_kml_satellite_spark.pipeline import (  # noqa: E402
    build_aois,
    engine_dir,
    load_tables,
)

RUNS = 2


def run_bench(sf_dir: str, cores: int) -> dict:
    from azure_workflow_for_kml_satellite_spark.constants import (
        RUN_DATE_END,
        RUN_DATE_START,
    )
    from azure_workflow_for_kml_satellite_spark.operators.change import season_changes
    from azure_workflow_for_kml_satellite_spark.operators.dedup import (
        exact_duplicates,
        ngram_jaccard_pairs,
    )
    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        ndvi_trend_per_aoi,
    )
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        spatial_join_best_scene,
    )
    from azure_workflow_for_kml_satellite_spark.operators.text import quality_score

    spark = get_spark("kmlsat-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    def timed(name: str, fn):
        t0 = time.time()
        counts[name] = fn()
        timings[name] = round(time.time() - t0, 3)

    # q1: extraction + AOI prep (cached — it is the input of q2/q3)
    aois = build_aois(spark, ed)
    timed("q_extract_aoi", lambda: aois.count())
    aois = aois.cache()
    aois.count()

    # q2: spatial join (cell equi-join + refine + top-1 per frame)
    best = spatial_join_best_scene(
        aois, t["scenes"], t["frames"], RUN_DATE_START, RUN_DATE_END
    )
    timed("q_spatial_join", lambda: best.count())

    # q3: e2e NDVI (join recomputed from cached aois + NDVI kernels),
    # partitioned like the pipeline (_ndvi_repartition: tasks per core x
    # cores, hashed on the natural key).
    from azure_workflow_for_kml_satellite_spark.operators.ndvi import ndvi_stats
    from azure_workflow_for_kml_satellite_spark.pipeline import _ndvi_repartition

    nd = ndvi_stats(_ndvi_repartition(spark, best))
    timed("q_ndvi_e2e", lambda: nd.count())
    nd = nd.cache()
    nd.count()

    # q4: change detection (lag pairing + pairwise raster recompute)
    timed("q_change", lambda: season_changes(nd).count())

    # q5: per-AOI trend
    timed("q_trend", lambda: ndvi_trend_per_aoi(nd).count())

    # training-data ops on the driver-provided tables
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed("q_dedup_exact", lambda: exact_duplicates(docs).count())
    timed("q_ngram_jaccard", lambda: ngram_jaccard_pairs(docs, threshold=0.5).count())
    timed("q_quality", lambda: quality_score(docs).count())
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed("q_ann_topk", lambda: brute_force_topk(emb, list(range(10)), 10).count())
    # pruned ANN operating points (the 100 TB configs; the driver-oracled
    # queries run the provable-equality configs instead)
    timed("q_ann_lsh_pruned", lambda: lsh_topk(emb, list(range(10)), 10).count())
    timed(
        "q_ann_ivf_pruned",
        lambda: ivf_topk(emb, list(range(10)), 10, n_centroids=16, n_probe=4).count(),
    )

    n_geoms = counts["q_extract_aoi"]
    pipeline_sec = timings["q_extract_aoi"] + timings["q_spatial_join"] + timings["q_ndvi_e2e"]
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline suite wall-clock (KML→join→NDVI pipeline + training-data ops)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": Path(sf_dir).name,
        "cores": cores,
        "geometries": n_geoms,
        "geometries_per_sec": round(n_geoms / pipeline_sec, 2) if pipeline_sec else None,
        "counts": counts,
    }
    spark.stop()
    return result


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    runs = [run_bench(sf_dir, cpus) for _ in range(RUNS)]
    best = min(runs, key=lambda r: r["value"])
    best["all_run_totals_sec"] = [r["value"] for r in runs]
    best["native_build_error"] = native.BUILD_ERROR
    best["warm_error"] = kmlsat.WARM_ERROR
    print(json.dumps(best))


if __name__ == "__main__":
    main()
