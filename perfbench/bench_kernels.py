"""Single-threaded kernel microbenchmark on the driver.

Times the production row function and its two native halves over a seeded
sample of join rows that always includes monster and mega windows. Runs
after the traced session has stopped, so nothing else competes for a core.
"""

from __future__ import annotations

import os
import random
import sys
import time

import numpy as np

PATH_NUMPY, PATH_PORTABLE_C, PATH_NATIVE_C = 0, 1, 2
PATH_LABELS = {PATH_NUMPY: "numpy", PATH_PORTABLE_C: "portable C", PATH_NATIVE_C: "C -march=native"}

_ROW_FIELDS = [
    "scene_id", "s_min_lon", "s_min_lat", "s_max_lon", "s_max_lat",
    "resolution_m", "ndvi_collection", "min_lon", "min_lat", "max_lon", "max_lat",
]


def native_path() -> int:
    """Which kernel build this process loaded, from the cached .so's name.
    Raises if the name matches neither build, so a change to the engine's
    naming rule fails loudly instead of being reported as the wrong path."""
    import hashlib

    from azure_workflow_for_kml_satellite_spark.functions import native as N

    if N.LIB is None:
        return PATH_NUMPY
    with open(N._SRC, "rb") as f:
        src = f.read()
    loaded = os.path.basename(N.LIB._name)
    for flags, path in ((N._CFLAGS, PATH_NATIVE_C), (N._CFLAGS_FALLBACK, PATH_PORTABLE_C)):
        if hashlib.sha1(src + " ".join(flags).encode()).hexdigest()[:16] in loaded:
            return path
    raise RuntimeError(f"perfbench: loaded kernel library {loaded} matches neither build's tag")


def _sample(rows: list[dict], seed: int, n: int = 160) -> tuple[list[dict], list[dict]]:
    """(rows drawn at random, monster and mega rows added on top)."""
    def page(r):
        return int(r["url"].rsplit("/", 1)[1])

    rng = random.Random(seed)
    mega = [r for r in rows if page(r) % 1000 == 13]
    monster = [r for r in rows if page(r) % 500 == 7]
    heavy = rng.sample(monster, min(32, len(monster))) + rng.sample(mega, min(4, len(mega)))
    return rng.sample(rows, min(n, len(rows))), heavy


def run(rows: list[dict], seed: int) -> dict[str, float]:
    from azure_workflow_for_kml_satellite_spark.functions import raster as R
    from azure_workflow_for_kml_satellite_spark.functions import native as N
    from azure_workflow_for_kml_satellite_spark.operators.ndvi import (
        compute_ndvi_for_row,
    )

    path = native_path()
    if path == PATH_NUMPY:
        print(
            "perfbench: native kernels unavailable; kernel metrics time the numpy path",
            file=sys.stderr,
        )
    drawn, heavy = _sample(rows, seed)
    n_drawn = len(drawn)
    recs = [{k: r[k] for k in _ROW_FIELDS} for r in drawn + heavy]
    for _pass in range(2):  # the first pass warms scratch buffers
        row_s, win_s, stats_s = [], [], []
        px = values = 0
        for rec in recs:
            t0 = time.perf_counter()
            compute_ndvi_for_row(rec)
            row_s.append(time.perf_counter() - t0)
            win_s.append(0.0)
            stats_s.append(0.0)
            scene_bbox = [rec["s_min_lon"], rec["s_min_lat"], rec["s_max_lon"], rec["s_max_lat"]]
            read_bbox = [rec["min_lon"], rec["min_lat"], rec["max_lon"], rec["max_lat"]]
            win = R.window_from_bounds(scene_bbox, rec["resolution_m"], read_bbox)
            if win is None:
                continue
            coll = rec["ndvi_collection"]
            aux = win if coll == "landsat-c2-l2" else R.s2_aux_win(
                scene_bbox, rec["resolution_m"], read_bbox
            )
            total = (win[1] - win[0]) * (win[3] - win[2])
            t0 = time.perf_counter()
            if N.available():
                vals, _ = R.native_window_valid(R.scene_seed(rec["scene_id"]), coll, win, aux)
            else:
                bands = R.read_window_bands(
                    rec["scene_id"], scene_bbox, rec["resolution_m"], read_bbox, coll
                )
                kernel = R.ndvi_landsat if coll == "landsat-c2-l2" else R.ndvi_s2
                ndvi, mask, _ = kernel(
                    bands["red"], bands["nir"], bands.get("qa" if coll == "landsat-c2-l2" else "scl")
                )
                vals = np.ascontiguousarray(ndvi[mask])
            t1 = time.perf_counter()
            R.ndvi_statistics_from_values(vals, total)
            t2 = time.perf_counter()
            win_s[-1] = t1 - t0
            stats_s[-1] = t2 - t1
            px += total
            values += len(vals)
    # glue over the randomly drawn rows only: the added heavy windows would
    # otherwise swamp the per-row Python cost with pixel work
    drawn_s = sum(row_s[:n_drawn])
    kernel_s = sum(win_s[:n_drawn]) + sum(stats_s[:n_drawn])
    return {
        "native.available": 1 if N.available() else 0,
        "native.path": path,
        "native.window_ns_per_px": sum(win_s) / px * 1e9 if px else 0.0,
        "native.stats_ns_per_value": sum(stats_s) / values * 1e9 if values else 0.0,
        "ndvi.row_us_p50": float(np.percentile(row_s, 50) * 1e6),
        "ndvi.row_us_p99": float(np.percentile(row_s, 99) * 1e6),
        "ndvi.glue_frac": (drawn_s - kernel_s) / drawn_s,
    }
