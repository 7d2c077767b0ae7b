"""The one scoped-persist registry (``session.persist_scoped`` /
``session.release_caches``), checked across every registered query.

Each query runs at sf0.001 through the ``noop`` sink and is then released.
A persisted RDD left behind that is not a ``localCheckpoint`` copy is a
leak: some persist bypassed the registry. ``localCheckpoint`` blocks are
deliberately not released (unpersisting them would make the returned
DataFrame impossible to recompute; Spark's ContextCleaner frees them once
the DataFrame is garbage-collected), so the set of queries that leave
them is pinned exactly — any new retention shows up as a diff.
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


def _persistent_rdds(spark) -> dict[int, bool]:
    """id -> isCheckpointed for every RDD the SparkContext holds persisted."""
    held = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k): bool(held[k].rdd().isCheckpointed()) for k in held.keySet()}


@pytest.fixture(scope="module")
def sweep(spark):
    """Run every registered query once; per query, record the persisted
    RDDs it left behind after ``release_caches()``."""
    leaks: dict[str, list[int]] = {}
    checkpointers: set[str] = set()
    errors: dict[str, str] = {}
    session.release_caches()
    for name, fn in entry.queries().items():
        before = set(_persistent_rdds(spark))
        try:
            df = fn(spark, SF_DIR)
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
    return leaks, checkpointers, errors


def test_every_registered_query_runs(sweep):
    _, _, errors = sweep
    assert not errors, errors


def test_no_registered_query_leaks_a_cache(sweep):
    leaks, _, _ = sweep
    assert not leaks, leaks


def test_only_known_queries_leave_local_checkpoints(sweep):
    _, checkpointers, _ = sweep
    assert checkpointers == LOCAL_CHECKPOINT_QUERIES
