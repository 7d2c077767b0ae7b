"""Plan-shape guards for the r13 optimization round.

These pin physical-plan properties that carry performance claims, so a
Spark upgrade or refactor that silently regresses them fails a test
instead of only a bench number:

1. mm_phash_dedup materializes its Python signature pass ONCE (persist) —
   both band-join sides must read an InMemoryTableScan (VERDICT r12
   item 4: the unpersisted plan ran the MapInPandas stage twice).
2. text_dsir_stats keeps its single-tokenize shape: exactly one scan of
   documents in the final plan (ADVICE r12: the exchange-identity reuse
   is a plan property no result test can see).
"""

from __future__ import annotations

import pytest

from data_pipeline_4_online_retail_spark import session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    import __spark_entry__ as entry

    return entry.queries()


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_phash_dedup_python_pass_materializes_once(spark, qs):
    df = qs["mm_phash_dedup"](spark, SF_DIR)
    try:
        plan = _formatted_plan(df)
        # both self-join sides read the cached signatures...
        assert plan.count("InMemoryTableScan") >= 2, plan
        # ...and the only MapInPandas lives inside the (single) cached
        # relation's build lineage, not as two live operator nodes: the
        # executed plan's operator list above the InMemoryRelation block
        # must contain none.
        live = plan.split("InMemoryRelation")[0]
        assert "MapInPandas" not in live, live
    finally:
        session.release_caches()


def test_phash_dedup_cache_released_on_reentry(spark, qs):
    qs["mm_phash_dedup"](spark, SF_DIR)
    assert len(session._RETAINED) == 1
    qs["mm_phash_dedup"](spark, SF_DIR)  # builder entry releases the last
    assert len(session._RETAINED) == 1
    session.release_caches()
    assert not session._RETAINED


@pytest.mark.parametrize("entered", ["tpch_q01", "star_report_customer"])
def test_registered_query_entry_releases_other_modules_caches(spark, qs, entered):
    """One registry across modules: entering a query that persists
    nothing (an operator module's or a star-schema model's) drops the
    caches a dedup query left behind."""
    qs["dedup_minhash_lsh_fast"](spark, SF_DIR)
    assert session._RETAINED
    qs[entered](spark, SF_DIR)
    assert not session._RETAINED


def test_every_registered_build_goes_through_register(qs):
    """Only ``register`` wraps a builder (functools.wraps sets
    ``__wrapped__``), so an entry added beside it would skip the
    release-on-entry above."""
    from data_pipeline_4_online_retail_spark.plans.registry import REGISTRY

    assert REGISTRY
    unwrapped = [n for n, q in REGISTRY.items() if not hasattr(q.build, "__wrapped__")]
    assert not unwrapped, unwrapped


def test_dsir_stats_single_documents_scan(spark, qs):
    """The conditional-sum regroup (r12) lets the bucket-mass branch reuse
    the per-(doc,source,bucket) exchange; if Catalyst ever re-splits the
    branches, a second documents scan appears. With AQE on the reuse
    happens at runtime (stage cache), so assert on the AQE-off plan —
    the canonical-identity property both mechanisms depend on
    (plans/r12/text_dsir_stats_after_noaqe.txt is the committed twin)."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = qs["text_dsir_stats"](spark, SF_DIR)
        plan = _formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ReusedExchange" in plan, plan
    n_doc_scans = plan.count("documents.parquet")
    assert n_doc_scans == 1, f"{n_doc_scans} scans\n{plan}"
