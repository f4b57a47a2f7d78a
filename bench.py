"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the box's
core count) and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "geometries": N, "geometries_per_sec": ...}

The BASELINE.json target metric is geometries/sec for the full
KML→spatial-join→NDVI pipeline; that figure is reported as
``geometries_per_sec`` (extra key). Scaling-efficiency evidence at two
parallelism levels is produced by scripts/bench_scaling.py (see BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from azure_workflow_for_kml_satellite_spark import get_spark  # noqa: E402
from azure_workflow_for_kml_satellite_spark.pipeline import (  # noqa: E402
    build_aois,
    build_ndvi,
    engine_dir,
    load_tables,
)


def _memcpy_child(args) -> float:
    """One calibration worker: copy a warmed 64 MiB buffer ``reps`` times;
    returns its own elapsed seconds (allocation/warmup excluded)."""
    import numpy as np

    reps, = args
    src = np.empty(64 << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    src[:] = 7
    np.copyto(dst, src)  # warm both mappings before timing
    t0 = time.time()
    for _ in range(reps):
        np.copyto(dst, src)
    return time.time() - t0


def calibrate() -> dict:
    """Fixed micro-probes run at suite start so a bench delta is
    attributable: the box's band drifts 89-116 s suite-to-suite on
    identical code (BASELINE.md band history), and these numbers make
    band-vs-code-regression falsifiable by ratio. Three probes:

    - ndvi_kernel_mpx_s: single-core NDVI+stats numpy kernel (the exact
      hot-path expressions) over a pinned deterministic 112x112 window —
      FPU + cache-resident throughput.
    - memcpy_gbs_1p: single-process big-buffer copy bandwidth.
    - memcpy_gbs_8p: EIGHT concurrent processes copying — aggregate
      memory-bus bandwidth, the resource the NDVI stage saturates (the
      suspected band driver).
    """
    import multiprocessing as mp

    import numpy as np

    from azure_workflow_for_kml_satellite_spark.oracle import kernels as K

    t_start = time.time()
    # — NDVI kernel probe: pinned inputs via the oracle's deterministic
    # pixel hash (identical bytes every run, every box) —
    win = (0, 112, 0, 112)
    red = K.band_pixels(42, K.RED, win)
    nir = K.band_pixels(42, K.NIR, win)
    scl = K.band_pixels(42, K.SCL, win)
    K.ndvi_stats(*K.s2_ndvi(red, nir, scl)[:2])  # warm allocations/JIT-ish paths
    reps = 80
    best_dt = float("inf")
    for _round in range(3):  # best-of-3: estimates capability, noise only lowers
        t0 = time.time()
        for _ in range(reps):
            ndvi, valid, _ = K.s2_ndvi(red, nir, scl)
            K.ndvi_stats(ndvi, valid)
        best_dt = min(best_dt, time.time() - t0)
    ndvi_mpx_s = round(reps * red.size / best_dt / 1e6, 1)

    # — memory-bandwidth probes (1 process, then 8 concurrent) —
    one = min(_memcpy_child((60,)) for _ in range(3))
    gbs_1p = round(60 * (64 << 20) / one / 1e9, 2)
    with mp.get_context("fork").Pool(8) as pool:
        slowest = min(  # best-of-3 concurrent rounds, each gated on its slowest child
            max(pool.map(_memcpy_child, [(24,)] * 8)) for _ in range(3)
        )
    gbs_8p = round(8 * 24 * (64 << 20) / slowest / 1e9, 2)
    return {
        "ndvi_kernel_mpx_s": ndvi_mpx_s,
        "memcpy_gbs_1p": gbs_1p,
        "memcpy_gbs_8p": gbs_8p,
        "probe_sec": round(time.time() - t_start, 2),
    }


def _pin_cpus(n: int) -> None:
    """Pin this process AND its whole tree (JVM gateway, pyspark daemons,
    python workers) to CPUs 0..n-1.

    Round-7 A/B on the NDVI leg (scripts/bench_pinning.py, interleaved
    arms at local[16] on this one-socket/one-NUMA-node 32-core box):
    pinned runs were faster on EVERY pair and cut the wall-clock spread
    from 83.9% to 23.7% (92.4/101.5/114.3 s vs 102.3/120.8/188.2 s) —
    free scheduler migration across the unused cores costs cache
    residency. Best-effort: the JVM persists across probe levels, so the
    tree is re-pinned (and re-expanded) at every run. SPARK_GRAFT_PIN=0
    disables."""
    if os.environ.get("SPARK_GRAFT_PIN", "1") == "0":
        return
    try:
        cpus = set(range(n))
        pids = {os.getpid()}
        for _ in range(3):  # a few passes to catch grandchildren
            for p in os.listdir("/proc"):
                if not p.isdigit():
                    continue
                try:
                    with open(f"/proc/{p}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                    if ppid in pids:
                        pids.add(int(p))
                except (OSError, ValueError, IndexError):
                    continue
        for pid in pids:
            try:
                os.sched_setaffinity(pid, cpus)
            except OSError:
                continue
    except Exception:
        pass  # pinning is an optimization, never a failure


def run_bench(sf_dir: str, cores: int) -> dict:
    from pyspark.sql import functions as F

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
    _pin_cpus(cores)
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
    # partitioned by the round-5 tuned policy (_ndvi_repartition: fine
    # grain + key-hash scatter — straggler evidence in BASELINE.md round-5
    # study). Distinct from the round-4 REJECTED idea of throttling the
    # stage BELOW session parallelism (that one starved the stage; this
    # one splits it finer at full fan-out).
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


# Idle-box calibration reference for memcpy_gbs_8p (BASELINE.md, 5 probes
# on 2026-08-17: range 41.5-47.6). FLOOR gates "is the box in a degraded
# band right now"; REF (the range midpoint) is the denominator of the
# attribution rule's band adjustment.
BAND_FLOOR_8P = 41.5
BAND_REF_8P = 44.5


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    # The raster stages' sweet spot is box-state dependent: the memory bus
    # saturates between 8 and 16 workers in the box's slow band (local[16]
    # beat local[32] back-to-back there), while in its fast band local[32]
    # wins because the Python-process-bound q_change stage scales to 32
    # (BASELINE.md §Measured; per-stage throttling within one session was
    # measured and rejected — see run_bench). So probe BOTH session levels
    # once each and report the best. SPARK_GRAFT_FORCE_CPUS pins a single
    # level; repeats=1 probes only the requested level.
    force = os.environ.get("SPARK_GRAFT_FORCE_CPUS")
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))
    if force:
        core_plan = [int(force)] * repeats
    elif cpus > 16:
        core_plan = [cpus] if repeats == 1 else ([16, cpus] * ((repeats + 1) // 2))[:repeats]
    else:
        core_plan = [cpus] * repeats

    # Band-proof protocol (round-6 task 1): the box's shared-bus band
    # drifts 1.5-2x suite-to-suite on identical code, so a single timing
    # is not evidence. (a) Gate the suite on the pre-probe: if the bus
    # reads below the idle-box floor, cool down and re-probe (bounded);
    # (b) bracket every suite pass with probes and record ALL of them;
    # (c) if the pass still ran in a degraded band, re-run the whole suite
    # once; (d) emit band_adjusted_value via BASELINE.md's attribution
    # rule (suite * measured_8p / reference_8p) so the recorded number is
    # interpretable regardless of the band the driver happened to hit.
    max_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_PASSES", "2")))
    cooldown_s = float(os.environ.get("SPARK_GRAFT_BENCH_COOLDOWN_S", "45"))
    probes: list[dict] = []

    def probe(tag: str) -> dict:
        c = calibrate()
        c["when"] = tag
        probes.append(c)
        return c

    runs: list[dict] = []
    pass_bands: list[float] = []  # per-pass max(pre, post) memcpy_gbs_8p
    for pass_no in range(1, max_passes + 1):
        cal = probe(f"pass{pass_no}_pre")
        retries = 0
        while cal["memcpy_gbs_8p"] < BAND_FLOOR_8P and retries < 2:
            retries += 1
            time.sleep(cooldown_s)
            cal = probe(f"pass{pass_no}_pre_retry{retries}")
        first_run_of_pass = len(runs)
        for c in core_plan:
            runs.append(run_bench(sf_dir, c))
        post = probe(f"pass{pass_no}_post")
        band = max(cal["memcpy_gbs_8p"], post["memcpy_gbs_8p"])
        for r in runs[first_run_of_pass:]:
            r["pass_band_8p"] = band
        pass_bands.append(band)
        if band >= BAND_FLOOR_8P:
            break  # this pass ran in a normal band — its numbers stand
        if pass_no < max_passes:
            time.sleep(cooldown_s)

    best = min(runs, key=lambda r: r["value"])
    measured_8p = best["pass_band_8p"]
    best["all_run_totals_sec"] = [r["value"] for r in runs]
    best["all_run_cores"] = [r["cores"] for r in runs]
    best["calibration"] = max(probes, key=lambda p: p["memcpy_gbs_8p"])
    best["calibration_probes"] = probes
    best["band_floor_8p"] = BAND_FLOOR_8P
    best["band_reference_8p"] = BAND_REF_8P
    best["band_measured_8p"] = measured_8p
    best["band_adjusted_value"] = round(best["value"] * measured_8p / BAND_REF_8P, 3)
    best["band_note"] = (
        "band_adjusted_value = value * band_measured_8p / band_reference_8p "
        "(BASELINE.md attribution rule); band_measured_8p is the best "
        "pass's bracketing probe max. Probes below band_floor_8p mark a "
        "degraded shared-bus band on this box."
    )
    print(json.dumps(best))


if __name__ == "__main__":
    main()
