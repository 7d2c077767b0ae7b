"""Soda-style checks as aggregate columns (quality.py).

Each constructor gets a pass and a fail case on a tiny frame, including
the empty-table and NULL rules; the retail gates are pinned to one
aggregate per table and a job budget, and to fail-stop on a data
violation. The pipeline's materialized stage tables are pinned by a job
budget for a run plus its parquet writes, and by their lifetime.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import DataFrame

from data_pipeline_4_online_retail_spark import quality as Q
from data_pipeline_4_online_retail_spark.pipeline import (
    build_retail_pipeline,
    run_retail_pipeline,
)
from data_pipeline_4_online_retail_spark.plans.retail import MODELS
from data_pipeline_4_online_retail_spark.quality import (
    QualityGateError,
    gate,
    ratio_between,
)
from data_pipeline_4_online_retail_spark.session import (
    pin_session_semantics,
    release_caches,
)
from data_pipeline_4_online_retail_spark.sources import fixtures
from data_pipeline_4_online_retail_spark.sources.catalog import Catalog
from data_pipeline_4_online_retail_spark.sources.schemas import RAW_INVOICES
from tests.conftest import SF_DIR


# (constructor, args, column values, passed, detail); Checks hold Columns,
# which need the session, so the cases name constructors, not Checks.
CASES = [
    ("not_null", ("x",), [1, 2], True, "0 nulls"),
    ("not_null", ("x",), [1, None], False, "1 nulls"),
    ("unique", ("x",), [1, 2], True, "0 duplicate rows"),
    ("unique", ("x",), [1, None], True, "0 duplicate rows"),
    ("unique", ("x",), [None, None, 1], False, "1 duplicate rows"),
    ("unique", ("x",), [1, 1, 1, 2], False, "2 duplicate rows"),
    ("accepted_range", ("x", 1, 7), [1, 7], True, "0 out of range"),
    ("accepted_range", ("x", 1, 7), [0, 8, 3], False, "2 out of range"),
    ("accepted_range", ("x", 1, 7), [3, None], False, "1 out of range"),
    ("min_threshold", ("x", 1), [1, 5], True, "min=1"),
    ("min_threshold", ("x", 1), [0, 5], False, "min=0"),
    ("failed_rows", ("x < 0",), [0, 1], True, "0 rows"),
    ("failed_rows", ("x < 0",), [-1, 1], False, "1 rows"),
    ("ratio_between", ("x > 0", 0.4, 0.6), [0, 1], True, "1/2 = 0.5000"),
    ("ratio_between", ("x > 0", 0.6, 1.0), [0, 1], False, "1/2 = 0.5000"),
    # an empty table passes the zero-count checks and fails the rest
    ("not_null", ("x",), [], True, "0 nulls"),
    ("unique", ("x",), [], True, "0 duplicate rows"),
    ("failed_rows", ("x < 0",), [], True, "0 rows"),
    ("min_threshold", ("x", 1), [], False, "min=None"),
    (
        "ratio_between",
        ("x > 0", 0.0, 0.9),
        [],
        False,
        "0/0 rows — empty input, rate undefined (fail-stop)",
    ),
]


def _frame(spark, values) -> DataFrame:
    return spark.createDataFrame([(v,) for v in values], "x INT")


@pytest.mark.parametrize(("ctor", "args", "values", "passed", "detail"), CASES)
def test_check_constructor(spark, ctor, args, values, passed, detail):
    rep = gate(_frame(spark, values), [getattr(Q, ctor)(*args)], table="t")
    (res,) = rep.results
    assert (res.table, res.passed, res.detail) == ("t", passed, detail)
    assert rep.rows == {"t": len(values)}


def test_ratio_between_empty_table_fails(spark):
    """A 0-row input must FAIL the rate gate even when the band includes
    0.0 — an upstream bug that drops all rows is exactly what fail-stop
    exists to catch."""
    empty = spark.createDataFrame([], "x INT")
    (res,) = gate(empty, [ratio_between("x > 0", 0.0, 0.9)], table="t").results
    assert not res.passed
    some = spark.createDataFrame([(1,), (2,)], "x INT")
    assert not gate(some, [ratio_between("x > 0", 0.9, 1.0)], table="t").failures


def test_curation_quality_gate_fails_on_bad_band(spark):
    """The gate actually gates: an impossible keep-rate band trips it."""
    from data_pipeline_4_online_retail_spark.operators import curation as C

    qf = C.text_quality_filters(spark, SF_DIR)
    rep = gate(qf, [ratio_between("keep = 1", 0.999, 1.0)], table="text_quality_filters")
    assert rep.failures
    with pytest.raises(QualityGateError):
        rep.raise_on_failure()


@contextmanager
def _job_group(sc, group: str):
    """Tag the Spark jobs run inside the block; yields a job counter."""

    def jobs() -> int:
        # job starts reach the status tracker through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_retail_gates_one_aggregate_per_table(spark, monkeypatch):
    """check_transform + check_report: one ``agg`` per gated table, 19
    check names with the load gate, a timing per table, and a pinned Spark
    job budget."""
    cat = run_retail_pipeline(spark)
    calls = []
    cls = type(cat.table("dim_customer"))
    agg = cls.agg
    monkeypatch.setattr(cls, "agg", lambda self, *a: calls.append(1) or agg(self, *a))
    with _job_group(spark.sparkContext, "quality-gate-jobs") as jobs:
        reps = [Q.check_transform(cat), Q.check_report(cat)]
    tables = [t for rep in reps for t in rep.rows]
    assert tables == [name for name, _ in MODELS]
    assert len(calls) == len(MODELS)
    assert sum(len(rep.results) for rep in reps) == 17  # + 2 schema checks
    assert not any(rep.failures for rep in reps)
    seconds = {t: s for rep in reps for t, s in rep.seconds.items()}
    assert list(seconds) == tables and all(s >= 0 for s in seconds.values())
    # Re-gating the run's materialized tables: 18 jobs measured at 4 and 32
    # cores. A gate that re-derived its table's lineage would add tens.
    assert jobs() <= 20, jobs()


def test_retail_pipeline_job_budget(spark, tmp_path):
    """Each stage table is materialized once: the gates fill the caches, so
    each parquet write is one job over its materialized table."""
    per_write = []
    with _job_group(spark.sparkContext, "retail-pipeline-jobs") as jobs:
        cat = run_retail_pipeline(spark)
        for name, _ in MODELS:
            before = jobs()
            cat.table(name).write.mode("overwrite").parquet(str(tmp_path / name))
            per_write.append(jobs() - before)
    assert per_write == [1] * len(MODELS)
    # Measured 52 (44 for the run, 8 for the writes) at 4 and 32 cores,
    # plus a few jobs of headroom for AQE's stage split.
    assert jobs() <= 57, jobs()


def test_pipeline_holds_one_runs_stage_tables(spark):
    """Two runs hold one run's 9 stage tables (raw_invoices + 8 models),
    not 18, and ``release_caches`` drops them."""

    def held() -> set[int]:
        return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    release_caches()
    before = held()
    run_retail_pipeline(spark)
    run_retail_pipeline(spark)
    assert len(held() - before) == len(MODELS) + 1
    release_caches()
    assert not held() - before


def test_duplicate_invoice_key_fails_stop_before_reports(spark):
    """One invoice under two customers gives dim_invoice two rows with one
    key: the transform gate raises, and no report table is built."""
    rows = fixtures.RAW_INVOICE_ROWS + [
        ("536365", "22111", "X", 1, "12/01/2010 08:26 AM", 1.0, 12583.0, "France")
    ]
    pin_session_semantics(spark)
    cat = Catalog(spark)
    pipe = build_retail_pipeline(
        lambda s: s.createDataFrame(rows, RAW_INVOICES), fixtures.country_fixture
    )
    with pytest.raises(QualityGateError, match=r"dim_invoice\.unique\(invoice_key\)"):
        pipe.execute(cat)
    assert "dim_invoice" in cat
    assert not [name for name, _ in MODELS[5:] if name in cat]
