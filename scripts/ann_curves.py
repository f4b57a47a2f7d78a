#!/usr/bin/env python
"""ANN operating-curve evidence (round-4 verdict item 9).

Measures, on the driver's embeddings table:
- IVF-Flat recall@k vs n_probe (the knob that trades scan fraction for
  recall) at fixed n_centroids;
- LSH recall@k vs signature width (band shape = 3 bands of planes/3 bits);
- LSH bucket-size distribution for the pruned default (planes=12) — the
  skew evidence: a bucket with an outsized share of rows becomes one hot
  shuffle partition of the bucket equi-join, which AQE's skew join splits.

    PYTHONPATH=/root/repo python scripts/ann_curves.py [--sf-dir DIR]

Prints one JSON line; numbers recorded in BASELINE.md, floors asserted in
tests/test_dedup_scale_ops.py.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def recall(approx_rows, exact_rows) -> float:
    ex = {(r.query_id, r.neighbor_id) for r in exact_rows}
    ap = {(r.query_id, r.neighbor_id) for r in approx_rows}
    return round(len(ex & ap) / len(ex), 4) if ex else 1.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--queries", type=int, default=50)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from azure_workflow_for_kml_satellite_spark import get_spark
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
        _plane_weights,
        _rh_band_buckets_vec,
    )

    spark = get_spark("ann-curves", cores=16)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet").cache()
    n_vec = emb.count()
    qids = list(range(args.queries))
    k = args.k

    t0 = time.time()
    exact = brute_force_topk(emb, qids, k).collect()
    exact_sec = round(time.time() - t0, 2)

    ivf_curve = []
    n_centroids = 16
    for n_probe in (1, 2, 4, 8, 16):
        t0 = time.time()
        rows = ivf_topk(emb, qids, k, n_centroids=n_centroids, n_probe=n_probe).collect()
        ivf_curve.append(
            {
                "n_probe": n_probe,
                "scan_fraction": round(n_probe / n_centroids, 3),
                "recall_at_k": recall(rows, exact),
                "sec": round(time.time() - t0, 2),
            }
        )

    lsh_curve = []
    for planes in (6, 9, 12, 18, 24):
        t0 = time.time()
        rows = lsh_topk(emb, qids, k, planes=planes).collect()
        lsh_curve.append(
            {
                "planes": planes,
                "band_bits": planes // 3,
                "recall_at_k": recall(rows, exact),
                "sec": round(time.time() - t0, 2),
            }
        )

    # bucket-size histogram for the pruned default (planes=12, 3 bands of 4
    # bits): join-side skew evidence
    planes = 12
    band_size = planes // 3
    buckets = emb.select(
        F.explode(
            _rh_band_buckets_vec(
                F.col("embedding").cast("array<double>"), planes, 3, _plane_weights(emb, planes)
            )
        ).alias("bucket")
    ).groupBy("bucket").count()
    stats = buckets.agg(
        F.count("*").alias("n_buckets"),
        F.max("count").alias("max"),
        F.expr("percentile_approx(count, 0.5)").alias("p50"),
        F.expr("percentile_approx(count, 0.99)").alias("p99"),
        F.avg("count").alias("mean"),
    ).collect()[0]
    total_entries = n_vec * 3
    bucket_stats = {
        "planes": planes,
        "bands": 3,
        "band_bits": band_size,
        "n_buckets": int(stats["n_buckets"]),
        "mean": round(float(stats["mean"]), 1),
        "p50": int(stats["p50"]),
        "p99": int(stats["p99"]),
        "max": int(stats["max"]),
        "max_share_of_entries": round(int(stats["max"]) / total_entries, 4),
        "ideal_uniform": round(total_entries / (3 * 2**band_size), 1),
    }

    out = {
        "sf_dir": args.sf_dir,
        "n_vectors": n_vec,
        "k": k,
        "n_queries": len(qids),
        "exact_baseline_sec": exact_sec,
        "ivf": {"n_centroids": n_centroids, "curve": ivf_curve},
        "lsh": {"curve": lsh_curve},
        "lsh_bucket_stats": bucket_stats,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
