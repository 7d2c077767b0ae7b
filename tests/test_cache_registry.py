"""One sweep over every registered query, feeding four checks.

Each query is built once at sf0.001. Its physical plan is recorded, then
it runs through the ``noop`` sink and the scoped-persist registry
(``session.persist_scoped`` / ``session.release_caches``) is released.
The checks read what that one pass recorded:

- every query builds, analyzes and runs (a Spark DataFrame is analyzed
  when it is built, so an analysis error fails here with its text);
- a persisted RDD left behind that is not a ``localCheckpoint`` copy is
  a leak: some persist bypassed the registry;
- ``localCheckpoint`` blocks are deliberately not released (unpersisting
  them would make the returned DataFrame impossible to recompute;
  Spark's ContextCleaner frees them once the DataFrame is
  garbage-collected), so the set of queries that leave them is pinned
  exactly — any new retention shows up as a diff;
- join shape: no physical plan holds a CartesianProduct, nor a
  BroadcastNestedLoopJoin outside ``ALLOWED_BNLJ``.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from data_pipeline_4_online_retail_spark import session
from tests.conftest import SF_DIR

LOCAL_CHECKPOINT_QUERIES = {
    "dedup_clusters",
    "dedup_corpus",
    "dedup_clusters_fast",
    "dedup_corpus_fast",
    "graph_pagerank_copurchase",
    "graph_bfs_distances",
}

# Queries whose physical plan may hold a BroadcastNestedLoopJoin.
ALLOWED_BNLJ = {
    # deliberate broadcast-of-tiny-frame crossJoins
    "sim_topk_bruteforce",  # broadcast 1-row query vector
    "sim_topk_pandas_udf",
    "sim_ann_ivf",  # broadcast query row
    "sim_ann_pq_adc",  # broadcast M*K distance table (1 row)
    "sim_ann_pq_refine",  # same table + broadcast 1-row query vector
    "sim_ann_ivf_pq",  # same broadcast table, cell-pruned scan
    "text_mixture_sample",  # broadcast 1-row min_n frame
    "text_contamination",  # broadcast benchmark side (tiny by design)
    "text_bm25",  # broadcast corpus-stats row
    "text_pack_sequences",
    "text_quality_sample",
    "dedup_incremental",  # asymmetric probe against empty-index edge
    "dedup_incremental_fast",
    "text_lm_score",  # broadcast vocab-total row
    "text_repetition_stats",
    "sim_topk_batch",  # broadcast Q-row query batch (Q=5)
    "sim_ann_recall_report",  # same Q-row batch + 1-row corpus count
    "sim_knn_classify",  # same broadcast Q-row query batch
    "text_dsir_weights",  # broadcast 1-row target/raw token totals
    "tpch_q22",  # broadcast 1-row avg-acctbal threshold (scalar subquery)
    "tpch_q11",  # r6: broadcast 1-row value-total threshold (was a
    # global window funneling the |parts| frame through one task)
    "tpch_q15",  # r6: broadcast 1-row max-revenue threshold (same)
    "ev_ab_test_metrics",  # 1-row x 1-row variant crossJoin (A x B)
    "sim_range_search",  # broadcast Q-row query batch (Q=10), radius filter
    "ev_conversion_lag",  # broadcast 1-row global-percentile frame
    "wh_dim_surrogate_assign",  # broadcast 1-row high-water frame
    "wh_data_diff_summary",  # 1-row x 1-row profile crossJoin (old x new)
    "text_filter_attrition",  # broadcast 1-row corpus-total frame
    "op_did_analysis",  # four 1-row cell frames crossJoined (2x2 design)
    # (tpch_q11 left the list in-round: its threshold is now a global
    # window over the per-part frame, no BNLJ remains)
    # documented inequality joins
    "dedup_embedding_cosine",  # the explicit O(n^2) verification
    # baseline (vec_id < vec_id is its only condition); production
    # paths are dedup_semantic_within_label / sim_ann_*
    "op_join_range",  # broadcast 3-row literal band table — bounded
    "op_sql_udf",  # broadcast 6-row size_bands table function, range
    # predicate p_size BETWEEN lo AND hi — bounded by construction
    # range-bucket prefix carry (functions/prefix.py): the strictly-
    # lower-triangle self-join over the <= n_buckets-row per-bucket
    # totals — <= 64x64 broadcast rows by construction, the explicit
    # replacement for an unpartitioned fact-sized WindowExec
    "ev_peak_concurrency",
    "op_skyline_pareto",
    "op_sequence_gaps",
    "op_quantile_normalization",
    # same carry + a broadcast 1-row total/count frame (global_ntile
    # / cumulative share over the per-customer/part aggregates)
    "op_rfm_segments",
    "op_lorenz_curve",
    "op_abc_classification",
    "op_gini_revenue_concentration",
    "text_vocab_growth",
}


def _persistent_rdds(spark) -> dict[int, bool]:
    """id -> isCheckpointed for every RDD the SparkContext holds persisted."""
    held = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k): bool(held[k].rdd().isCheckpointed()) for k in held.keySet()}


@pytest.fixture(scope="module")
def sweep(spark):
    """Build and run every registered query once; per query, record its
    physical plan and the persisted RDDs it left behind after
    ``release_caches()``."""
    plans: dict[str, str] = {}
    leaks: dict[str, list[int]] = {}
    checkpointers: set[str] = set()
    errors: dict[str, str] = {}
    session.release_caches()
    for name, fn in entry.queries().items():
        before = set(_persistent_rdds(spark))
        try:
            df = fn(spark, SF_DIR)
            plans[name] = df._jdf.queryExecution().executedPlan().toString()
            df.write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001 — collect all, report once
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        session.release_caches()
        left = {
            rdd: ckpt
            for rdd, ckpt in _persistent_rdds(spark).items()
            if rdd not in before
        }
        if any(ckpt for ckpt in left.values()):
            checkpointers.add(name)
        if not all(left.values()):
            leaks[name] = sorted(rdd for rdd, ckpt in left.items() if not ckpt)
    return plans, leaks, checkpointers, errors


def test_every_registered_query_runs(sweep):
    _, _, _, errors = sweep
    assert not errors, errors


def test_no_registered_query_leaks_a_cache(sweep):
    _, leaks, _, _ = sweep
    assert not leaks, leaks


def test_only_known_queries_leave_local_checkpoints(sweep):
    _, _, checkpointers, _ = sweep
    assert checkpointers == LOCAL_CHECKPOINT_QUERIES


def test_no_unintended_cartesian_or_nested_loop_joins(sweep):
    """A CartesianProduct or a non-trivial BroadcastNestedLoopJoin in a
    physical plan is the classic silent scale-killer (an equi-condition
    that fell out of the join clause). ``ALLOWED_BNLJ`` holds the queries
    that deliberately crossJoin a broadcast tiny frame (query vectors,
    centroid/codebook tables, global stats) or run a documented bounded
    inequality join. The O(n^2) baselines (ngram_jaccard,
    embedding_cosine) use equi-join candidate generation, so even they
    must NOT plan a cartesian. A query whose plan failed to build is
    reported by ``test_every_registered_query_runs``."""
    plans, _, _, _ = sweep
    offenders = {}
    for name, plan in plans.items():
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in ALLOWED_BNLJ:
            offenders[name] = "BroadcastNestedLoopJoin (not whitelisted)"
    assert not offenders, offenders
