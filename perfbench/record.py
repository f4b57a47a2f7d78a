#!/usr/bin/env python3
"""Record the output digests every seed is checked against.

Runs each job once for every input set (seed class), digests
every output and writes ``perfbench/expected.json``. The NDVI and change
outputs of every input set must first pass the independent oracle sample,
so a digest is only recorded for outputs the oracle agrees with. Run it
from the repository root when the engine's outputs change on purpose:

    python3 perfbench/record.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import bench_workloads as W
import run as R


def main() -> int:
    (R.WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(R.WORK / "tmp")
    sys.path.insert(0, str(R.ROOT))
    R.build_native_cache()

    import bench_checks as C
    import bench_session as S
    from azure_workflow_for_kml_satellite_spark import pipeline as P

    expected = {}
    cores = len(os.sched_getaffinity(0))
    sess = S.launch(R.WORK, "record", cores)
    try:
        for workload in W.JOBS:
            table = expected[workload] = {}
            for cls in range(W.SEED_CLASSES):
                inp = W.make_inputs(workload, cls, R.WORK)
                out = R.WORK / "out" / "record"
                shutil.rmtree(out, ignore_errors=True)
                W.run_job(workload, sess.spark, inp, out)
                P.evict_memo()
                if workload == "ndvi_season":
                    bad = [what for what, ok in C.oracle_checks(out, cls) if not ok]
                    if bad:
                        raise SystemExit(f"{workload} class {cls}: oracle mismatch {bad}")
                table[str(cls)] = {name: C.digest_output(out / name) for name in W.OUTPUTS[workload]}
                print(workload, cls, table[str(cls)], flush=True)
    finally:
        sess.close()
    R.EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
