"""Extra noop-sink stage isolation benches (guide §1.4) — bench.py is frozen;
round-8 numbers quoted in OPTIMIZATION_r08.md come from here.

Usage:
    python scripts/bench_extra.py --stage ndvi --cores 32 [--repeat 1]
    python scripts/bench_extra.py --stage change --cores 32
    python scripts/bench_extra.py --stage join --cores 32
    python scripts/bench_extra.py --stage extract --cores 32
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", required=True)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1))
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    from azure_workflow_for_kml_satellite_spark import get_spark
    from azure_workflow_for_kml_satellite_spark.constants import (
        RUN_DATE_END,
        RUN_DATE_START,
    )
    from azure_workflow_for_kml_satellite_spark.pipeline import (
        _ndvi_repartition,
        build_aois,
        engine_dir,
        load_tables,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-extra", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)

    def noop(df) -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    out = {"stage": args.stage, "cores": args.cores, "sf": Path(sf_dir).name, "runs": []}

    for _ in range(args.repeat):
        if args.stage == "extract":
            from azure_workflow_for_kml_satellite_spark.operators.aoi import prepare_aois
            from azure_workflow_for_kml_satellite_spark.operators.extract import (
                extract_features,
            )
            from azure_workflow_for_kml_satellite_spark.pipeline import (
                default_parallelism,
            )

            pages = t["pages"].repartition(max(16, 2 * default_parallelism(spark)))
            spark.sparkContext.setJobDescription("extract+aoi noop")
            out["runs"].append(noop(prepare_aois(extract_features(pages))))
            continue

        aois = build_aois(spark, ed)
        aois.count()  # materialize the cache outside the timed region

        from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
            spatial_join_best_scene,
        )

        best = spatial_join_best_scene(
            aois, t["scenes"], t["frames"], RUN_DATE_START, RUN_DATE_END
        )
        if args.stage == "join":
            spark.sparkContext.setJobDescription("spatial join noop")
            out["runs"].append(noop(best))
            continue

        from azure_workflow_for_kml_satellite_spark.operators.ndvi import ndvi_stats

        nd = ndvi_stats(_ndvi_repartition(spark, best))
        if args.stage == "ndvi":
            spark.sparkContext.setJobDescription("ndvi noop")
            out["runs"].append(noop(nd))
            continue

        if args.stage == "change":
            from azure_workflow_for_kml_satellite_spark.operators.change import (
                season_changes,
            )

            ndc = nd.cache()
            ndc.count()  # input materialized outside the timed region
            spark.sparkContext.setJobDescription("season_changes noop")
            out["runs"].append(noop(season_changes(ndc)))
            ndc.unpersist()
            continue

        raise SystemExit(f"unknown stage {args.stage}")

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
