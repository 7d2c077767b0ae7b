"""Dump formatted physical plans for the headline queries into PLANS.md —
reviewable evidence that the scale-relevant plan shapes (pruned scans,
broadcasts, single exchanges, top-k) actually materialize.

Usage: python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry
from data_pipeline_4_online_retail_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

SHOWCASE = [
    ("star_report_customer", "flagship: revenue by country top-10"),
    ("star_fct_invoice_line_value", "fact build: key-gen + 3 dim joins"),
    ("dedup_minhash_lsh_fast", "MinHash+LSH near-dup (production variant)"),
    ("sim_topk_bruteforce", "cosine top-k"),
    ("ev_session_window", "session windows"),
    ("text_quality_filters", "curation: repetition gates — zero-shuffle codegen"),
    ("text_contamination", "curation: decontamination — broadcast benchmark side"),
    ("ev_asof_join", "curation: as-of join — one exchange, one window pass"),
    ("text_pack_sequences", "curation: packing — fixed-width shuffle, Arrow groups"),
    ("ev_funnel", "analytics: funnel — all stages share one user_id partitioning"),
    ("sim_kmeans", "iterative k-means — broadcast centroids, cached scan"),
    (
        "text_dup_span_removal",
        "curation: repeated-span removal — codegen slice, one span shuffle",
    ),
    (
        "dedup_semantic_within_label",
        "SemDeDup: within-cluster cosine as a label equi-join",
    ),
    (
        "text_source_cap",
        "curation: per-source cap — WindowGroupLimit two-phase pre-cap",
    ),
    (
        "sim_topk_batch",
        "batched top-k: broadcast query batch, per-query window limit",
    ),
    (
        "wh_pit_snapshot",
        "PIT over SCD2: interval predicate on a user_id equi-join",
    ),
    (
        "tpch_q01",
        "TPC-H Q1: integer-cents aggregate — one scan, 6-row shuffle",
    ),
    (
        "tpch_q11",
        "TPC-H Q11: semi-join pushdown below the pair agg, window threshold",
    ),
    (
        "ev_sessionize",
        "sessionize: one user_id exchange for two windows + the aggregate",
    ),
    (
        "op_bitmap_distinct",
        "bitmap exact-distinct: mergeable per-bucket partials",
    ),
    (
        "wh_scd2_asof_join",
        "SCD2 as-of: equi-join + validity residuals, bounded fan-out",
    ),
    (
        "op_lateral_join",
        "LATERAL: correlated LIMIT rewritten to a window top-k",
    ),
    (
        "graph_triangle_count",
        "triangles: pruned edge set, all equi-joins",
    ),
    (
        "ev_peak_concurrency",
        "sweep line: running-sum depth (plain window at this SF — the adaptive bypass; see the skyline pair below)",
    ),
    (
        "op_quantile_normalization",
        "quantile matching: union-window as-of on exact percent_rank (bypass at this SF)",
    ),
]


def main() -> None:
    spark = get_spark("explain-report", shuffle_partitions=8)
    qs = entry.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by tools/explain_report.py against {SF_DIR}.",
        "AdaptiveSparkPlan nodes re-optimize at runtime (AQE): broadcast",
        "conversion, partition coalescing, and skew splitting happen against",
        "real sizes, so these initial plans are the *conservative* shapes.",
        "",
    ]
    def emit(name: str, blurb: str, df) -> None:
        plan = df._jdf.queryExecution().explainString(mode)
        # keep the tree + scan details; drop the long per-node I/O sections
        tree, _, details = plan.partition("\n\n")
        keep = [
            chunk
            for chunk in details.split("\n\n")
            if "Scan parquet" in chunk or "PushedFilters" in chunk
        ]
        out.extend([f"## {name} — {blurb}", "", "```", tree.strip()])
        for chunk in keep:
            out.extend(["", chunk.strip()])
        out.extend(["```", ""])

    for name, blurb in SHOWCASE:
        emit(name, blurb, qs[name](spark, SF_DIR))

    # r7: the adaptive bypass, as reviewable plan evidence — the SAME
    # query under both size regimes (forced here through the module's
    # thresholds; in production the Catalyst size estimate picks).
    from data_pipeline_4_online_retail_spark.functions import prefix

    for limit, label, blurb in (
        (
            1 << 64,
            "small input -> bypass",
            "adaptive prefix: plain single-partition window below the "
            "crossover — the decomposition's constant is not paid",
        ),
        (
            0,
            "large input -> decomposed",
            "adaptive prefix: range-bucket hash exchange + <=n_buckets-row "
            "triangle carry — no Exchange SinglePartition under the fact "
            "window",
        ),
    ):
        prefix._SMALL_BYTES = prefix._SMALL_ROWS = limit
        emit(f"op_skyline_pareto ({label})", blurb, qs["op_skyline_pareto"](spark, SF_DIR))
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
