"""Literal reference parity: the Online-Retail pipeline as PySpark models.

One function per reference stage, same semantics, same quirks:

- ``preprocess``            the pandas date-canonicalization step
                            (dags/online_retail.py:34-50) as window max +
                            date_format — no separate local engine
- ``dim_customer``          include/dbt/models/transform/dim_customer.sql
- ``dim_datetime``          dim_datetime.sql (weekday 1=Sun..7=Sat)
- ``dim_product``           dim_product.sql
- ``dim_invoice``           dim_invoice.sql (inner join to dim_customer —
                            the implicit null-customer drop, SURVEY §2.3 J2)
- ``fct_invoice_line_value``fct_invoice_line_value.sql (J3/J4/J5 drops)
- ``report_customer_invoices`` / ``report_product_invoices`` /
  ``report_year_invoices``  the three report models

All models take a Catalog (the dbt ``source()``/``ref()`` role) and return
DataFrames; ``pipeline.py``'s transform and report stages run them in
``MODELS`` (topological) order, registering each result so downstream
``ref()`` reads hit the built stage.

Quirks preserved on purpose (documented deviations belong in quality
checks, not silently fixed):
- ``total_invoices`` counts invoice LINES (report_customer_invoices.sql:4),
- inner joins silently drop null-customer invoices and nonpositive-price
  lines from the fact,
- surrogate keys hash the *string renderings* incl. the double-typed
  CustomerID ('17850.0') and the null sentinel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.functions.datetime import (
    format_invoice_datetime,
    parse_invoice_datetime,
)
from data_pipeline_4_online_retail_spark.functions.keys import surrogate_key
from data_pipeline_4_online_retail_spark.sources.catalog import Catalog


def preprocess(raw: DataFrame) -> DataFrame:
    """dags/online_retail.py:34-50 — parse InvoiceDate (coerce errors to
    NULL), canonicalize every line to the per-invoice MAX timestamp, format
    back to the '%m/%d/%Y %I:%M %p' string.

    The pandas groupby-transform becomes a window max: one shuffle on
    InvoiceNo, no self-join, no driver collection.
    """
    parsed = parse_invoice_datetime(F.col("InvoiceDate"))
    w = Window.partitionBy("InvoiceNo")
    canonical = F.max(parsed).over(w)
    return raw.withColumn("InvoiceDate", format_invoice_datetime(canonical))


def dim_customer(cat: Catalog) -> DataFrame:
    """dim_customer.sql:1-13 — DISTINCT (key, id, country) over non-null
    customers, LEFT JOIN country on the display name."""
    raw = cat.table("raw_invoices")
    country = cat.table("country")
    cust = (
        raw.filter(F.col("CustomerID").isNotNull())
        .select(
            surrogate_key("CustomerID", "Country").alias("customer_key"),
            F.col("CustomerID").alias("customer_id"),
            F.col("Country").alias("country"),
        )
        .distinct()
    )
    return cust.join(
        F.broadcast(country), cust.country == country.name, "left"
    ).select("customer_key", "customer_id", "country", "iso")


def dim_datetime(cat: Catalog) -> DataFrame:
    """dim_datetime.sql:1-20 — parse the formatted string back to a
    timestamp and extract the date parts. Weekday follows BigQuery
    DAYOFWEEK = Spark dayofweek (1=Sunday..7=Saturday)."""
    raw = cat.table("raw_invoices")
    parsed = parse_invoice_datetime(F.col("InvoiceDate"))
    return (
        raw.filter(F.col("InvoiceDate").isNotNull())
        .select(
            surrogate_key("InvoiceDate").alias("date_key"),
            F.col("InvoiceDate").alias("datetime_id"),
            parsed.alias("datetime"),
        )
        .distinct()
        .select(
            "date_key",
            "datetime_id",
            "datetime",
            F.year("datetime").alias("year"),
            F.month("datetime").alias("month"),
            F.dayofmonth("datetime").alias("day"),
            F.hour("datetime").alias("hour"),
            F.minute("datetime").alias("minute"),
            F.dayofweek("datetime").alias("weekday"),
        )
    )


def dim_product(cat: Catalog) -> DataFrame:
    """dim_product.sql:1-8 — DISTINCT product projection; keeps NULL
    Description (sentinel in the key), drops NULL StockCode and
    nonpositive prices."""
    raw = cat.table("raw_invoices")
    return (
        raw.filter(F.col("StockCode").isNotNull() & (F.col("UnitPrice") > 0))
        .select(
            surrogate_key("StockCode", "Description", "UnitPrice").alias(
                "product_key"
            ),
            F.col("StockCode").alias("stock_code"),
            F.col("Description").alias("description"),
            F.col("UnitPrice").alias("price"),
        )
        .distinct()
    )


def dim_invoice(cat: Catalog) -> DataFrame:
    """dim_invoice.sql:1-16 — DISTINCT invoice projection INNER-joined to
    dim_customer: invoices whose CustomerID is NULL vanish here (J2)."""
    raw = cat.table("raw_invoices")
    inv = raw.select(
        surrogate_key("InvoiceNo").alias("invoice_key"),
        F.col("InvoiceNo").alias("invoiceno"),
        F.col("InvoiceDate").alias("invoicedate"),
        surrogate_key("CustomerID", "Country").alias("customer_key"),
    ).distinct()
    dc = cat.table("dim_customer").select("customer_key")
    return inv.join(dc, "customer_key", "inner").select(
        "invoice_key", "invoiceno", "invoicedate", "customer_key"
    )


def fct_invoice_line_value(cat: Catalog) -> DataFrame:
    """fct_invoice_line_value.sql:1-23 — keyed fact lines with Quantity > 0,
    INNER joins to the three dims; inherits their implicit filters
    (nonpositive price via J4, null customer via J5)."""
    raw = cat.table("raw_invoices")
    fct = raw.filter(F.col("Quantity") > 0).select(
        surrogate_key("InvoiceNo").alias("invoice_key"),
        surrogate_key("InvoiceDate").alias("date_key"),
        surrogate_key("StockCode", "Description", "UnitPrice").alias("product_key"),
        F.col("Quantity").alias("quantity"),
        (F.col("Quantity") * F.col("UnitPrice")).alias("total_price"),
    )
    # No broadcast hints: dim_invoice/dim_product/dim_datetime all grow
    # with the data (one row per invoice/product/timestamp), so a forced
    # broadcast is a guaranteed driver OOM at scale. AQE converts any
    # runtime-small side to broadcast on its own (star tier policy,
    # plans/star.py:16-21).
    dt = cat.table("dim_datetime").select("date_key")
    dp = cat.table("dim_product").select("product_key")
    di = cat.table("dim_invoice").select("invoice_key")
    return (
        fct.join(dt, "date_key", "inner")
        .join(dp, "product_key", "inner")
        .join(di, "invoice_key", "inner")
        .select("invoice_key", "date_key", "product_key", "quantity", "total_price")
    )


def report_customer_invoices(cat: Catalog) -> DataFrame:
    """report_customer_invoices.sql — top-10 countries by revenue.
    COUNT(invoice_key) counts LINES (the reference's naming quirk)."""
    fct = cat.table("fct_invoice_line_value")
    di = cat.table("dim_invoice").select("invoice_key", "customer_key")
    dc = cat.table("dim_customer").select("customer_key", "country", "iso")
    return (
        fct.join(di, "invoice_key", "inner")
        .join(dc, "customer_key", "inner")
        .groupBy("country", "iso")
        .agg(
            F.count("invoice_key").alias("total_invoices"),
            F.sum("total_price").alias("total_revenue"),
        )
        .orderBy(F.desc("total_revenue"))
        .limit(10)
    )


def report_product_invoices(cat: Catalog) -> DataFrame:
    """report_product_invoices.sql — top-10 products by quantity sold."""
    fct = cat.table("fct_invoice_line_value")
    dp = cat.table("dim_product")
    return (
        fct.join(dp, "product_key", "inner")
        .groupBy("product_key", "stock_code", "description")
        .agg(F.sum("quantity").alias("total_quantity_sold"))
        .orderBy(F.desc("total_quantity_sold"))
        .limit(10)
    )


def report_year_invoices(cat: Catalog) -> DataFrame:
    """report_year_invoices.sql — per (year, month): distinct invoices +
    revenue, fully ordered."""
    fct = cat.table("fct_invoice_line_value")
    dt = cat.table("dim_datetime").select("date_key", "year", "month")
    return (
        fct.join(dt, "date_key", "inner")
        .groupBy("year", "month")
        .agg(
            F.countDistinct("invoice_key").alias("num_invoices"),
            F.sum("total_price").alias("total_revenue"),
        )
        .orderBy("year", "month")
    )


# Topological build order: the dbt DAG (ref() edges) flattened.
MODELS = [
    ("dim_customer", dim_customer),
    ("dim_datetime", dim_datetime),
    ("dim_product", dim_product),
    ("dim_invoice", dim_invoice),
    ("fct_invoice_line_value", fct_invoice_line_value),
    ("report_customer_invoices", report_customer_invoices),
    ("report_product_invoices", report_product_invoices),
    ("report_year_invoices", report_year_invoices),
]
