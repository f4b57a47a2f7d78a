"""Plan audit: dump the physical-plan properties that matter at 100 TB for
the headline queries into PLANS.md — scan pruning (PushedFilters/ReadSchema),
join strategies (broadcast vs shuffle; no cartesian), whole-stage codegen
spans, and shuffle counts.

Usage:
    PYTHONPATH=/root/repo python scripts/explain_audit.py [--sf sf0.001]
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

AUDITED = [
    "q_extract_features",
    "q_aoi_prep",
    "q_spatial_join",
    "q_tile_assignment",
    "q_display_scene",
    "q_landsat_baseline",
    "q_ndvi_stats",
    "q_ndvi_utm",
    "q_season_changes",
    "q_weather_summary",
    "q_dedup_exact",
    "q_ngram_jaccard",
    "q_ngram_jaccard_capped",
    "q_minhash_lsh",
    "q_dedup_clusters",
    "q_simhash_pairs",
    "q_embed_near_dup",
    "q_embed_near_dup_lsh",
    "q_ann_topk",
    "q_ann_lsh",
    "q_ann_ivf",
    "q_monthly_frames",
    "q_knn_gauges",
    "q_portfolio",
    "q_source_stats",
    "q_cell_density",
    "q_page_text",
    "q_coord_text",
    "q_events_hourly",
    "q_pricing_summary",
]

# Queries whose one BroadcastNestedLoopJoin is intended: a non-equi predicate
# against a broadcast-small side, or an exact all-pairs baseline; any other
# nested loop is flagged for a look.
NESTED_LOOP_OK = {
    "q_embed_near_dup": "`<` over all vector pairs: the exact baseline "
    "(its scale path is q_embed_near_dup_lsh)",
    "q_weather_summary": "AOI → region bbox against the small regions table",
    "q_ann_topk": "`!=` against the broadcast query set",
    "q_monthly_frames": "a date range against the broadcast month frames",
    "q_knn_gauges": "no key: every AOI centroid is scored against the 100-row "
    "broadcast gauge table",
}


def audit_one(name: str, df) -> str:
    df.count()  # materialize so AQE finalizes the plan (codegen ids appear)
    plan = df._jdf.queryExecution().executedPlan().toString()
    formatted = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    lines = [f"### {name}\n"]
    joins = sorted(set(re.findall(r"(\w*HashJoin\w*|SortMergeJoin|BroadcastNestedLoopJoin|CartesianProduct)", plan)))
    n_exchanges = len(re.findall(r"Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan))
    n_wsc = len(set(re.findall(r"codegen id : (\d+)", formatted)))
    pushed = sorted(set(re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)))
    read_schemas = sorted(set(re.findall(r"ReadSchema: struct<([^>]*)>", formatted)))
    lines.append(f"- joins: {', '.join(joins) if joins else 'none'}")
    lines.append(f"- shuffles (Exchange nodes): {n_exchanges}")
    lines.append(f"- whole-stage codegen spans: {n_wsc}")
    for p in pushed:
        if p.strip():
            lines.append(f"- PushedFilters: `[{p[:160]}]`")
    for rs in read_schemas:
        cols = [c.split(":")[0] for c in rs.split(",") if ":" in c]
        lines.append(f"- scan columns: `{', '.join(cols[:12])}`" + (" …" if len(cols) > 12 else ""))
    if "CartesianProduct" in joins:
        lines.append("- **CartesianProduct present — scale bug**")
    elif "BroadcastNestedLoopJoin" in joins and name in NESTED_LOOP_OK:
        lines.append(
            f"- BroadcastNestedLoopJoin: {NESTED_LOOP_OK[name]} — intentional; "
            "the big side streams, never materializes the cross"
        )
    elif "BroadcastNestedLoopJoin" in joins:
        lines.append("- **BroadcastNestedLoopJoin present — check for a missing equi-key**")
    else:
        lines.append("- no cartesian / nested-loop nodes")
    return "\n".join(lines) + "\n"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="sf0.001")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    import __spark_entry__ as E
    from azure_workflow_for_kml_satellite_spark import get_spark

    spark = get_spark("plan-audit", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    sf_dir = f"/root/testdata/{args.sf}"
    out = [
        "# Physical-plan audit (headline queries)\n",
        f"Generated by scripts/explain_audit.py at {args.sf}. Properties that",
        "decide 100 TB behaviour: filter/column pushdown reaching the parquet",
        "scan, broadcast vs shuffle joins (and no accidental cartesian),",
        "codegen coverage, shuffle count.\n",
    ]
    for name in AUDITED:
        df = qs[name](spark, sf_dir)
        out.append(audit_one(name, df))
    Path(args.out).write_text("\n".join(out))
    print(f"wrote {args.out} ({len(AUDITED)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
