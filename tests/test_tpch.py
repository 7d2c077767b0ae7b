"""Adapted TPC-H family: DuckDB parity at sf0.001 + the plan shapes the
100 TB design notes promise (broadcast dims, pushed filters, semi joins,
TakeOrderedAndProject top-k).
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from perfbench.checks import canon_rows

SF_DIR = "/root/testdata/sf0.001"

TPCH = [
    "tpch_q01",
    "tpch_q03",
    "tpch_q04",
    "tpch_q05",
    "tpch_q06",
    "tpch_q07",
    "tpch_q08",
    "tpch_q09",
    "tpch_q10",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q21",
    "tpch_q22",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem").split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", TPCH)
def test_tpch_matches_duckdb(spark, duck, name):
    """Row-count + column-set + order-insensitive canonical-row parity — the
    driver's exact comparison, at the test scale factor."""
    sdf = entry.queries()[name](spark, SF_DIR)
    s_rows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(entry.oracle_sql()[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert sorted(sdf.columns) == sorted(d_cols)
    assert len(s_rows) == len(d_rows), f"{name}: row count"
    assert canon_rows(s_rows, sdf.columns) == canon_rows(d_rows, d_cols), (
        f"{name}: canonical rows"
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_topk_avoids_global_sort(spark):
    plan = _plan(entry.queries()["tpch_q03"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_q4_exists_is_semi_join(spark):
    plan = _plan(entry.queries()["tpch_q04"](spark, SF_DIR))
    assert "LeftSemi" in plan


def test_q5_broadcasts_fixed_dims(spark):
    """supplier/nation/region ride broadcasts — no shuffle on the fact
    side for the size-fixed dimensions."""
    plan = _plan(entry.queries()["tpch_q05"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3


def test_q6_filters_reach_the_scan(spark):
    plan = _plan(entry.queries()["tpch_q06"](spark, SF_DIR))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0] and "l_discount" in pushed[0]


def test_q13_keeps_orderless_customers(spark, catalog):
    """LEFT OUTER semantics: every customer lands in exactly one
    histogram bucket, including the zero-order bucket."""
    rows = entry.queries()["tpch_q13"](spark, SF_DIR).collect()
    n_cust = catalog.table("customer").count()
    assert sum(r.custdist for r in rows) == n_cust


def test_q18_threshold_holds(spark):
    rows = entry.queries()["tpch_q18"](spark, SF_DIR).collect()
    assert all(r.sum_qty > 260 for r in rows)
