"""Per-row cost breakdown of the NDVI hot path (guide §1: measure first).

Phase 1 (spark): materialize the spatial-join output's recipe columns for
$SPARK_GRAFT_SF_DIR to /tmp/ndvi_recipes.parquet (runs once, cached on disk).
Phase 2 (pure python, single core): replay N sampled rows through
compute_ndvi_for_row with a per-phase timer (band gen red/nir/scl, kernel,
stats) and a window-size histogram. Prints a JSON summary.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

RECIPES = "/tmp/ndvi_recipes.parquet"
NEEDED = [
    "scene_id", "s_min_lon", "s_min_lat", "s_max_lon", "s_max_lat",
    "resolution_m", "ndvi_collection", "min_lon", "min_lat", "max_lon", "max_lat",
    "url", "feature_index", "season", "year", "frame_id",
]


def dump_recipes() -> None:
    from azure_workflow_for_kml_satellite_spark import get_spark
    from azure_workflow_for_kml_satellite_spark.constants import (
        RUN_DATE_END,
        RUN_DATE_START,
    )
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        spatial_join_best_scene,
    )
    from azure_workflow_for_kml_satellite_spark.pipeline import (
        build_aois,
        engine_dir,
        load_tables,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = get_spark("ndvi-profile-dump", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    best = spatial_join_best_scene(
        aois, t["scenes"], t["frames"], RUN_DATE_START, RUN_DATE_END
    )
    best.select(*NEEDED).write.mode("overwrite").parquet(RECIPES)
    spark.stop()


def profile(n_rows: int = 4000, seed: int = 7) -> None:
    import numpy as np
    import pyarrow.parquet as pq

    from azure_workflow_for_kml_satellite_spark.functions import raster as R

    tbl = pq.read_table(RECIPES).to_pandas()
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(tbl), size=min(n_rows, len(tbl)), replace=False)
    sample = tbl.iloc[idx]

    phases = {"window": 0.0, "red": 0.0, "nir": 0.0, "scl": 0.0,
              "kernel": 0.0, "stats": 0.0}
    px_total = 0
    px_sizes = []
    t_all = time.perf_counter()
    for rec in sample.to_dict("records"):
        read_bbox = [rec["min_lon"], rec["min_lat"], rec["max_lon"], rec["max_lat"]]
        scene_bbox = [rec["s_min_lon"], rec["s_min_lat"], rec["s_max_lon"], rec["s_max_lat"]]
        coll = rec["ndvi_collection"]
        res = rec["resolution_m"]
        seed32 = R.scene_seed(rec["scene_id"])
        t0 = time.perf_counter()
        win = R.window_from_bounds(scene_bbox, res, read_bbox)
        t1 = time.perf_counter()
        phases["window"] += t1 - t0
        if win is None:
            continue
        npx = (win[1] - win[0]) * (win[3] - win[2])
        px_total += npx
        px_sizes.append(npx)
        red = R.gen_band(seed32, R.BAND_RED, win)
        t2 = time.perf_counter()
        phases["red"] += t2 - t1
        nir = R.gen_band(seed32, R.BAND_NIR, win)
        t3 = time.perf_counter()
        phases["nir"] += t3 - t2
        aux = None
        if coll == "sentinel-2-l2a":
            scl_win = R.window_from_bounds(scene_bbox, res * 2, read_bbox)
            if scl_win is not None:
                aux = R.gen_band(seed32, R.BAND_SCL, scl_win)
        elif coll == "landsat-c2-l2":
            aux = R.gen_band(seed32, R.BAND_QA, win)
        t4 = time.perf_counter()
        phases["scl"] += t4 - t3
        if coll == "landsat-c2-l2":
            ndvi, mask, masked = R.ndvi_landsat(red, nir, aux)
        else:
            ndvi, mask, masked = R.ndvi_s2(red, nir, aux)
        t5 = time.perf_counter()
        phases["kernel"] += t5 - t4
        R.ndvi_statistics(ndvi, mask)
        t6 = time.perf_counter()
        phases["stats"] += t6 - t5
    wall = time.perf_counter() - t_all
    px_sizes.sort()
    n = len(px_sizes)
    out = {
        "rows": n,
        "wall_s": round(wall, 3),
        "ms_per_row": round(1000 * wall / max(1, n), 3),
        "mpx_per_s": round(px_total / wall / 1e6, 1),
        "px_p50": px_sizes[n // 2] if n else 0,
        "px_p90": px_sizes[int(n * 0.9)] if n else 0,
        "px_p99": px_sizes[int(n * 0.99)] if n else 0,
        "px_max": px_sizes[-1] if n else 0,
        "px_mean": round(px_total / max(1, n), 1),
        "phases_pct": {
            k: round(100 * v / wall, 1) for k, v in phases.items()
        },
        "phases_s": {k: round(v, 3) for k, v in phases.items()},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    if not Path(RECIPES).exists() or "--dump" in sys.argv:
        dump_recipes()
    n = int(sys.argv[sys.argv.index("--rows") + 1]) if "--rows" in sys.argv else 4000
    profile(n)
