#!/usr/bin/env python
"""Generate PLANS.md: physical-plan evidence for the headline queries.

For each query the report records the scan-level optimizations (pushed
filters, pruned read schema) and the plan shape (exchanges, join
strategies, whole-stage-codegen spans, any cartesian fallback) — the
".explain and iterate" audit trail, kept as a committed artifact so plan
regressions show up in review diffs.

Usage: python tools/plan_report.py [query ...]   (default: HEADLINE below)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

import bench  # noqa: E402 — side-effect free; its main() sits behind __main__

#: the bench.py measured sets (headline, then extended, in bench order),
#: plus plan-shape-interesting queries the bench does not time
HEADLINE = bench.HEADLINE + bench.EXTENDED + [
    "q17_small_quantity_revenue",
    "graph_shortest_paths",
    "ml_auc_roc",
    "sample_shard_assignment",
    "text_vocab_oov",
    "stats_chi_square",
    "sample_rendezvous_reshard",
    "quality_l_diversity",
    "stats_cramers_v",
    "ts_ljung_box",
    "dedup_remove_spans",
    "dedup_duplicated_spans",
    "dedup_containment",
    "sim_knn_graph",
    "sim_retrieval_metrics",
    "text_boilerplate",
    "entity_resolution",
    "ml_threshold_sweep",
    "geo_nearest_poi",
    "geo_trajectory_pairs",
    "graph_triangles",
    "graph_link_pred",
    "text_augment_spans",
    "text_pii_redact",
    "text_dsir",
    "sample_negatives",
    "multimodal_features",
    "multimodal_phash_pairs",
    "multimodal_resize",
    "multimodal_png_filters_roundtrip",
    "multimodal_wav_depths_roundtrip",
    "multimodal_subtitle_cues",
]


def audit(plan: str) -> dict:
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    return {
        "pushed": sum(1 for p in pushed if p.strip()),
        # count scan NODES, not ReadSchema strings — wide schemas get
        # elided from the plan text and would undercount (pushed > scans)
        "scans": len(re.findall(r"FileScan|Scan parquet", plan)),
        "scan_cols": [len([c for c in s.split(",") if ":" in c]) for s in schemas],
        "exchanges": plan.count("Exchange "),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "cartesian": "CartesianProduct" in plan,
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
    }


def main() -> None:
    from pipes_spark.catalog import QUERIES
    from pipes_spark.session import get_spark

    spark = get_spark("plan_report")
    # Two plan-string truncations undercounted the audit (q6 read 0/1
    # pushed while tests/test_plans.py proves 3/3 predicates reach the
    # scan): scan-node METADATA entries (PushedFilters/ReadSchema) are cut
    # at spark.sql.maxMetadataStringLength (default 100 — the unclosed
    # "[IsNotNull(l_shipdate), IsNot..." never matches the bracket regex),
    # and node FIELD lists at spark.sql.debug.maxToStringFields (default
    # 25). Both are runtime SQLConfs; raise them so the committed artifact
    # matches the asserted plans.
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    spark.conf.set("spark.sql.debug.maxToStringFields", "4000")
    names = sys.argv[1:] or HEADLINE
    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/plan_report.py` at {SF_DIR} (plan shape is",
        "scale-independent; re-run after changing any headline operator).",
        "Columns: parquet scans with pushed filters / total scans, per-scan",
        "projected column counts (pruning evidence), shuffle exchange count,",
        "join strategies (broadcast/sort-merge/shuffled-hash), distinct",
        "whole-stage-codegen spans, broadcast-nested-loop count (benign",
        "when it is a deliberate all-pairs loop or a 1-row scalar attach),",
        "and whether a true CartesianProduct appears (it must not).",
        "Iterative queries (graph_shortest_paths) checkpoint every round,",
        "so their FINAL plan is checkpoint scans — the per-round join",
        "shape is asserted in tests/test_plans.py via the operator's",
        "cut_lineage=False audit switch instead. streaming_* rows audit",
        "the returned memory-sink read (0 scans); the streaming plan",
        "itself is covered by tests/test_streaming.py.",
        "",
        "| query | pushed/scans | scan cols | exchanges | BHJ/SMJ/SHJ | codegen | BNLJ | cartesian |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in names:
        df = QUERIES[name].fn(spark, SF_DIR)
        # execute first: AQE only stamps the FINAL plan (join strategy
        # re-selection, codegen span ids) after the query has run
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the adaptive plan string appends the pre-AQE "Initial Plan" —
        # audit only the final executed section
        plan = plan.split("== Initial Plan ==")[0]
        a = audit(plan)
        lines.append(
            f"| `{name}` | {a['pushed']}/{a['scans']} | "
            f"{','.join(map(str, a['scan_cols']))} | {a['exchanges']} | "
            f"{a['bhj']}/{a['smj']}/{a['shj']} | {a['codegen']} | "
            f"{a['bnlj']} | {'YES' if a['cartesian'] else 'no'} |"
        )
        print(lines[-1], flush=True)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
