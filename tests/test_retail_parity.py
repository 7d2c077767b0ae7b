"""Reference-parity tests: the fixture pipeline must reproduce every edge
semantic of the reference (SURVEY.md §2, FIXTURES.md §A), with surrogate
keys cross-checked against an independent hashlib implementation of the
dbt-utils 1.1.1 macro.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.pipeline import run_retail_pipeline
from data_pipeline_4_online_retail_spark.quality import QualityGateError

SENTINEL = "_dbt_utils_surrogate_key_null_"


def sk(*vals) -> str:
    """Independent reimplementation of generate_surrogate_key for
    cross-checking: coalesce(cast(v as string), sentinel) joined by '-'."""
    parts = [SENTINEL if v is None else str(v) for v in vals]
    return hashlib.md5("-".join(parts).encode()).hexdigest()


@pytest.fixture(scope="module")
def built(spark):
    return run_retail_pipeline(spark)


def test_preprocess_canonicalizes_invoice_timestamps(built):
    """The 1-minute-skew invoice's lines all get the per-invoice MAX
    (dags/online_retail.py:46; README.md:159)."""
    raw = built.table("raw_invoices")
    dates = [
        r["InvoiceDate"]
        for r in raw.filter(F.col("InvoiceNo") == "536366").collect()
    ]
    assert dates == ["12/01/2010 08:35 AM", "12/01/2010 08:35 AM"]


def test_preprocess_coerces_unparseable_dates_to_null(built):
    raw = built.table("raw_invoices")
    row = raw.filter(F.col("InvoiceNo") == "536372").head()
    assert row["InvoiceDate"] is None


def test_dim_customer_semantics(built):
    dc = built.table("dim_customer")
    rows = {r["customer_key"]: r for r in dc.collect()}
    # null CustomerID excluded → 6 distinct (customer, country) pairs
    assert len(rows) == 6
    # double-typed CustomerID hashes its '17850.0' rendering
    key_uk = sk(17850.0, "United Kingdom")
    assert key_uk in rows
    assert rows[key_uk]["iso"] == "GB"
    # same customer id under two countries → two keys (composite rationale)
    assert sk(12583.0, "France") in rows and sk(12583.0, "Germany") in rows
    # unmatched country → NULL iso (LEFT JOIN semantics)
    assert rows[sk(14688.0, "Narnia")]["iso"] is None


def test_dim_product_semantics(built):
    dp = built.table("dim_product")
    keys = {r["product_key"] for r in dp.collect()}
    # NULL Description participates via sentinel
    assert sk("22728", None, 3.75) in keys
    # NULL StockCode and nonpositive prices excluded
    stock_codes = {r["stock_code"] for r in dp.collect()}
    assert None not in stock_codes
    assert "BANK" not in stock_codes and "B" not in stock_codes
    prices = [r["price"] for r in dp.collect()]
    assert all(p > 0 for p in prices)


def test_dim_datetime_weekday_convention(built):
    dt = built.table("dim_datetime")
    rows = dt.collect()
    assert all(1 <= r["weekday"] <= 7 for r in rows)
    # 2010-12-01 was a Wednesday → BigQuery/Spark DAYOFWEEK = 4
    wed = [r for r in rows if r["day"] == 1 and r["month"] == 12]
    assert wed and all(r["weekday"] == 4 for r in wed)


def test_dim_invoice_drops_null_customer_invoices(built):
    di = built.table("dim_invoice")
    invoicenos = {r["invoiceno"] for r in di.collect()}
    assert "536367" not in invoicenos  # NULL CustomerID → dropped by J2
    assert "C536368" in invoicenos  # cancellations keep their invoice row
    assert len(invoicenos) == 10


def test_fct_implicit_join_drops(built):
    fct = built.table("fct_invoice_line_value")
    rows = fct.collect()
    assert len(rows) == 10  # see fixture inventory in sources/fixtures.py
    keys = {r["invoice_key"] for r in rows}
    assert sk("C536368") not in keys  # negative quantity filtered
    assert sk("536369") not in keys  # nonpositive price dropped via J4
    assert sk("536367") not in keys  # null customer dropped via J5
    assert sk("536372") not in keys  # unparseable date dropped via J3
    # duplicate line kept twice (no dedup in the fact)
    dup = [r for r in rows if r["invoice_key"] == sk("536375")]
    assert len(dup) == 2


def test_report_customer_invoices_values(built):
    rc = built.table("report_customer_invoices")
    rows = {r["country"]: r for r in rc.collect()}
    uk = rows["United Kingdom"]
    assert uk["total_invoices"] == 4  # LINE count, not invoice count
    assert uk["total_revenue"] == pytest.approx(
        6 * 2.55 + 6 * 3.39 + 8 * 2.75 + 2 * 2.75
    )
    assert rows["EIRE"]["total_invoices"] == 2  # the duplicated line counts twice
    assert rows["Narnia"]["iso"] is None


def test_report_year_invoices_distinct_count(built):
    ry = built.table("report_year_invoices")
    rows = ry.collect()
    assert [(r["year"], r["month"]) for r in rows] == [(2010, 12)]
    # distinct invoices in the fact: 536365/66/70/73/74/75
    assert rows[0]["num_invoices"] == 6


def test_quality_gate_fails_stop(spark):
    """A pipeline whose data violates a gate must raise before reports."""
    from data_pipeline_4_online_retail_spark.sources import fixtures

    def bad_raw(s):
        return fixtures.raw_invoices_fixture(s).drop("Quantity")

    with pytest.raises(QualityGateError, match=r"raw_invoices\.schema: missing: Quantity"):
        run_retail_pipeline(spark, raw_loader=bad_raw)


def test_surrogate_key_matches_dbt_utils_semantics(spark):
    """Column-expression key == independent hashlib implementation across
    null/typed/multi-column cases."""
    from data_pipeline_4_online_retail_spark.functions.keys import surrogate_key

    df = spark.createDataFrame(
        [("a", 1.5, None), (None, 2.0, "x"), (None, None, None)],
        "s string, d double, t string",
    ).select(surrogate_key("s", "d", "t").alias("k"), "s", "d", "t")
    for r in df.collect():
        assert r["k"] == sk(r["s"], r["d"], r["t"])
