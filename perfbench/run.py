#!/usr/bin/env python3
"""Benchmark of the KML → AOI → cell join → NDVI → change → trend engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload ndvi_season --seed 3 --seconds 10 --trace 0

Each untraced run generates the seed's inputs, then launches a fresh engine
session (``setup_s``), runs the workload's batch job once as that session's
first execution (``job_s``), reads the Python workers' peak RSS, and stops
every process. A bare session launch follows, and ``setup_s`` is the median
of the ``SETUPS`` launches. Outputs are checked after timing stops.
``--seconds`` is accepted but sets nothing: a run is one cold job.
``--trace 1`` instead runs the job once untraced and once layer by layer with Spark's
event log on, and reports per-layer metrics. The last line of stdout is one
JSON object.

Every file the run writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
PACKAGE = "azure_workflow_for_kml_satellite_spark"
EXPECTED = HERE / "expected.json"

WORKLOADS = ("ndvi_season", "catalog_join_10y")
# session launches per untraced run (the job's own and one bare launch);
# setup_s is their median
SETUPS = 2

END_TO_END = {"setup_s": "s", "job_s": "s", "worker_peak_rss_mb": "MB"}

GEO_LAYERS = ("extract", "aoi", "spatial_join", "ndvi", "change", "metrics")
GEO_LAYER_METRICS = {
    "s": "s", "rows": "count", "tasks": "count", "task_p50_ms": "ms",
    "task_max_ms": "ms", "idle_core_frac": "fraction", "shuffle_write_mb": "MB",
    "gc_ms": "ms", "py_run_s": "s", "py_start_s": "s", "py_sent_mb": "MB",
}
TEXT_LAYERS = (
    "dedup.exact", "dedup.ngram", "text.quality",
    "similarity.brute", "similarity.lsh", "similarity.ivf",
)
TEXT_LAYER_METRICS = {"s": "s", "jobs": "count", "tasks": "count", "shuffle_write_mb": "MB"}
OTHER_PER_LAYER = {
    "session.s": "s",
    "native.available": "bool",
    "native.path": "enum",
    "native.window_ns_per_px": "ns",
    "native.stats_ns_per_value": "ns",
    "ndvi.row_us_p50": "us",
    "ndvi.row_us_p99": "us",
    "ndvi.glue_frac": "fraction",
    "ndvi.mpx_total": "Mpx",
    "ndvi.mpx_valid": "Mpx",
    "ndvi.mpx_per_core_s": "Mpx/s",
    "ndvi.arrow_floor_s": "s",
    "ndvi.warm_s": "s",
    "extract.pages": "count",
    "extract.quarantined": "count",
    "spatial_join.candidates": "count",
    "change.pairs": "count",
    "change.valid_mpx": "Mpx",
    "dedup.ngram.pairs": "count",
    "similarity.lsh.recall10": "fraction",
    "similarity.ivf.recall10": "fraction",
    "trace.overhead_frac": "fraction",
    "trace.span_cover_frac": "fraction",
    "host.steal_frac": "fraction",
}


def per_layer_units() -> dict[str, str]:
    units = {}
    for layer in GEO_LAYERS:
        units.update({f"{layer}.{m}": u for m, u in GEO_LAYER_METRICS.items()})
    for layer in TEXT_LAYERS:
        units.update({f"{layer}.{m}": u for m, u in TEXT_LAYER_METRICS.items()})
    units.update(OTHER_PER_LAYER)
    return units


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # part of the command contract; a run is one cold job whatever it says
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def build_native_cache() -> bool:
    """Compile (or find) the native kernel library in the run's compile
    cache before any timed run, in a child process so the timed session
    still pays the library's import and load as a user's job does."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        f"from {PACKAGE}.functions import native;"
        "sys.exit(0 if native.available() else 3)"
    )
    ok = subprocess.run([sys.executable, "-c", code, str(ROOT)], check=False).returncode == 0
    if not ok:
        print("perfbench: native kernel build failed; the numpy path will run", file=sys.stderr)
    return ok


# ── one cold job ────────────────────────────────────────────────────────────


def job_cycle(workload: str, inp, cores: int, tag: str) -> dict:
    import bench_session as S
    import bench_workloads as W
    from azure_workflow_for_kml_satellite_spark import pipeline as P

    out = WORK / "out" / tag
    shutil.rmtree(out, ignore_errors=True)
    out.parent.mkdir(parents=True, exist_ok=True)
    sess = S.launch(WORK, tag, cores)
    try:
        busy0, steal0 = S.cpu_ticks()
        t0 = time.perf_counter()
        W.run_job(workload, sess.spark, inp, out)
        job_s = time.perf_counter() - t0
        busy1, steal1 = S.cpu_ticks()
        busy, steal = busy1 - busy0, steal1 - steal0
        rss = sess.worker_peak_rss_mb()
        aois = W.count_aois(sess.spark, inp)
    finally:
        P.evict_memo()
        sess.close()
    shutil.rmtree(WORK / "local" / tag, ignore_errors=True)
    return {
        "setup_s": sess.setup_s, "job_s": job_s, "rss_mb": rss, "aois": aois, "out": out,
        # the host's share of this box's runnable CPU time taken back during
        # the job: context for a slow run, not a correction of job_s
        "steal_frac": steal / (busy + steal) if busy + steal else 0.0,
    }


def bare_setup(cores: int, tag: str) -> float:
    import bench_session as S

    sess = S.launch(WORK, tag, cores)
    sess.close()
    shutil.rmtree(WORK / "local" / tag, ignore_errors=True)
    return sess.setup_s


# ── checks ──────────────────────────────────────────────────────────────────


def check_outputs(workload: str, seed: int, out: Path, jobs=None) -> list[tuple[str, bool]]:
    """Digest checks for the outputs of ``jobs`` (default: the workload's
    own job), plus the oracle sample on ndvi_season."""
    import bench_checks as C
    import bench_workloads as W

    recorded = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    results = []
    for job in jobs or (workload,):
        expected = recorded.get(job, {}).get(str(W.seed_class(seed)), {})
        for name in W.OUTPUTS[job]:
            got = C.digest_output(out / name)
            ok = expected.get(name) == got
            if not ok:
                print(f"perfbench: {job}/{name} digest {got} != recorded {expected.get(name)}", file=sys.stderr)
            results.append((f"{job}/{name}", ok))
    if workload == "ndvi_season":
        for what, ok in C.oracle_checks(out, seed):
            if not ok:
                print(f"perfbench: oracle mismatch at {what}", file=sys.stderr)
            results.append((what, ok))
    return results


def _result(results, metrics: dict[str, float], units: dict[str, str]) -> dict:
    failed = sum(1 for _, ok in results if not ok)
    return {
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


# ── modes ───────────────────────────────────────────────────────────────────


def untraced(args, inp, cores: int) -> dict:
    cyc = job_cycle(args.workload, inp, cores, "job")
    setups = [cyc["setup_s"]]
    setups += [bare_setup(cores, f"setup{i}") for i in range(1, SETUPS)]
    results = check_outputs(args.workload, args.seed, cyc["out"])
    metrics = {
        "setup_s": statistics.median(setups),
        "job_s": cyc["job_s"],
        "worker_peak_rss_mb": cyc["rss_mb"],
    }
    failed = sum(1 for _, ok in results if not ok)
    print(
        f"perfbench {args.workload} seed={args.seed} inputs={inp.sizes}:"
        f" setup_s={metrics['setup_s']:.3f} s (median of {len(setups)})"
        f" job_s={metrics['job_s']:.3f} s"
        f" geometries_per_s={cyc['aois'] / cyc['job_s']:.2f} AOIs/s ({cyc['aois']} AOIs)"
        f" worker_peak_rss_mb={metrics['worker_peak_rss_mb']:.1f} MB"
        f" error_rate={failed / len(results):.4f} fraction ({failed}/{len(results)})"
        f" host_steal_frac={cyc['steal_frac']:.3f}"
    )
    return _result(results, metrics, END_TO_END)


def traced(args, inp, cores: int) -> dict:
    import bench_checks as C
    import bench_kernels as K
    import bench_session as S
    import bench_trace as T
    import bench_workloads as W
    from pyspark.sql import functions as F

    from azure_workflow_for_kml_satellite_spark import pipeline as P

    base = job_cycle(args.workload, inp, cores, "untraced")
    tag = "traced"
    out = WORK / "out" / tag
    shutil.rmtree(out, ignore_errors=True)
    events = WORK / "events" / tag
    shutil.rmtree(events, ignore_errors=True)
    sess = S.launch(WORK, tag, cores, event_dir=events)
    spark = sess.spark
    tr = T.Tracer(spark)
    m: dict[str, float] = dict.fromkeys(per_layer_units(), 0.0)
    rows: dict[str, int] = {}
    try:
        with tr.span("job", root=True):
            state = W.TRACED_JOBS[args.workload](spark, tr, inp, out)
        plans = W.plan_checks(spark, args.workload, inp, state)
        spark.sparkContext.setJobGroup("counts", "untimed counts", False)
        rows["extract"] = state["feats"].count()
        rows["aoi"] = state["aois"].count()
        m["extract.quarantined"] = state["feats"].filter(F.col("error").isNotNull()).count()
        m["extract.pages"] = inp.sizes["pages"]
        window = W.NDVI_WINDOW if args.workload == "ndvi_season" else W.CATALOG_WINDOW
        m["spatial_join.candidates"] = W.candidate_count(state, window)
        if args.workload == "ndvi_season":
            rows["spatial_join"] = state["best"].count()
            rows["ndvi"] = state["ndvi"].count()
            W.ndvi_side_runs(spark, tr, state)
            m["ndvi.arrow_floor_s"] = tr.seconds("ndvi.arrow_floor")
            m["ndvi.warm_s"] = tr.seconds("ndvi.warm")
        if args.workload == "catalog_join_10y":
            W.text_side_runs(spark, tr, inp, out)
    finally:
        P.evict_memo()
        sess.close()
    shutil.rmtree(WORK / "local" / tag, ignore_errors=True)
    m["session.s"] = sess.setup_s
    groups = T.read_event_log(events)

    def parquet_rows(name):
        return C.read_output(out / name).num_rows

    if args.workload == "catalog_join_10y":
        rows["spatial_join"] = parquet_rows("best")
    else:
        rows["change"] = parquet_rows("change")
        rows["metrics"] = parquet_rows("trend")
    for layer, n in rows.items():
        wall = tr.seconds(layer)
        m[f"{layer}.s"] = wall
        m[f"{layer}.rows"] = n
        for k, v in T.stage_metrics(groups.get(layer), wall, cores).items():
            m[f"{layer}.{k}"] = v
    if args.workload == "ndvi_season":
        nd = C.read_output(out / "ndvi").to_pylist()
        ch = C.read_output(out / "change")
        m["ndvi.mpx_total"] = sum(r["total_pixels"] or 0 for r in nd) / 1e6
        m["ndvi.mpx_valid"] = sum(r["valid_pixels"] or 0 for r in nd) / 1e6
        m["ndvi.mpx_per_core_s"] = m["ndvi.mpx_total"] / (cores * m["ndvi.s"])
        m["change.pairs"] = ch.num_rows
        m["change.valid_mpx"] = sum(ch.column("valid_change_pixels").to_pylist()) / 1e6
        m.update(K.run(nd, args.seed))
    else:
        m["native.path"] = K.native_path()
        m["native.available"] = 1 if m["native.path"] else 0
    if args.workload == "catalog_join_10y":
        for layer in TEXT_LAYERS:
            g = groups.get(layer) or T.empty_group()
            m[f"{layer}.s"] = tr.seconds(layer)
            m[f"{layer}.jobs"] = g["jobs"]
            m[f"{layer}.tasks"] = len(g["run_ms"])
            m[f"{layer}.shuffle_write_mb"] = g["shuffle_write_b"] / 1e6
        m["dedup.ngram.pairs"] = parquet_rows("ngram")
        m["similarity.lsh.recall10"] = _recall(C.read_output(out / "lsh"), C.read_output(out / "brute"))
        m["similarity.ivf.recall10"] = _recall(C.read_output(out / "ivf"), C.read_output(out / "brute"))
    job_wall = tr.seconds("job")
    m["trace.overhead_frac"] = (job_wall - base["job_s"]) / base["job_s"]
    m["host.steal_frac"] = base["steal_frac"]
    m["trace.span_cover_frac"] = sum(
        s["end"] - s["start"] for s in tr.children_of("job")
    ) / job_wall
    tr.write(WORK / "trace" / f"{args.workload}-{args.seed}.json", tr.spans[0]["start"])
    jobs = (args.workload, "text_ann") if args.workload == "catalog_join_10y" else None
    results = check_outputs(args.workload, args.seed, out, jobs)
    for what, ok in plans:
        if not ok:
            print(f"perfbench: traced {what} differs from the engine's plan", file=sys.stderr)
    results += plans
    print(
        f"perfbench {args.workload} seed={args.seed} traced: job {job_wall:.3f} s"
        f" vs untraced {base['job_s']:.3f} s; native.path="
        f"{K.PATH_LABELS[int(m['native.path'])]}"
    )
    return _result(results, m, per_layer_units())


def _recall(approx, exact) -> float:
    def sets(t):
        out: dict[int, set] = {}
        for q, n in zip(t.column("query_id").to_pylist(), t.column("neighbor_id").to_pylist()):
            out.setdefault(q, set()).add(n)
        return out

    a, e = sets(approx), sets(exact)
    hit = sum(len(e[q] & a.get(q, set())) for q in e)
    return hit / sum(len(v) for v in e.values())


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: engine package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    # tempfile, the native compile cache and Python workers all follow TMPDIR
    os.environ["TMPDIR"] = str(WORK / "tmp")
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)
    shutil.rmtree(WORK / "out", ignore_errors=True)
    shutil.rmtree(WORK / "local", ignore_errors=True)
    build_native_cache()

    import bench_workloads as W

    cores = len(os.sched_getaffinity(0))
    inp = W.make_inputs(args.workload, args.seed, WORK)
    result = (traced if args.trace else untraced)(args, inp, cores)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
