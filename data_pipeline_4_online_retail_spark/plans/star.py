"""The reference's star-schema semantics over the driver's TPC-H-ish tables.

Mapping (FIXTURES.md §B): invoice line → ``lineitem`` row, invoice →
``orders``, product → ``part``, customer → ``customer``, country →
``nation`` (ISO-lookup role played by ``region`` via a left join).

Each model mirrors a reference dbt model's operator pipeline
(include/dbt/models/transform/*.sql, report/*.sql):

- dims are DISTINCT projections of the denormalized line table with
  md5 surrogate keys (dim_customer.sql:2-7, dim_product.sql:1-8),
- the fact joins back to dims with INNER joins whose implicit row-drop
  side effects are part of the semantics (SURVEY.md §2.3 J2/J4/J5),
- reports are grouped aggregates with top-k or full ordering
  (report_*.sql).

Scale design: nation/region are broadcast explicitly (tiny dims);
customer/part-sized dims are left to AQE (sort-merge with skew splitting at
100 TB, runtime-converted to broadcast when small). Revenue sums accumulate
exact DECIMAL(18,4) (order-independent, engine-independent); per-row money
arithmetic stays raw double (IEEE-deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.functions.keys import (
    surrogate_key,
    surrogate_key_sql,
)
from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.sources.catalog import Catalog, load_tables

# ---------------------------------------------------------------------------
# Denormalized "raw invoice lines" (the raw_invoices analogue)
# ---------------------------------------------------------------------------


def lines(cat: Catalog) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation — the denormalized line table
    every dim/fact derives from, like the reference's ``raw_invoices``.

    Join strategy: lineitem⋈orders and orders⋈customer are large-large at
    scale → shuffle hash/sort-merge on the keys (AQE decides); nation is
    tiny → explicit broadcast.
    """
    li = cat.table("lineitem")
    o = cat.table("orders")
    c = cat.table("customer")
    n = cat.table("nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
    )


# SQL twin of lines() for the DuckDB oracles.
LINES_CTE = """
lines AS (
    SELECT l.*, o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice,
           c.c_custkey, c.c_name, c.c_nationkey, c.c_mktsegment,
           n.n_name, n.n_regionkey
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
)
"""

REVENUE = "l_extendedprice * (1 - l_discount)"

# Cross-engine float discipline (see tools/oracle_check.py findings):
# - per-row arithmetic on identical inputs is IEEE-deterministic → emit raw
#   doubles, never round them (round() tie-breaking differs across engines
#   for values like x.xx5),
# - SUM(double) is partition-order-dependent → sum exact DECIMALs instead,
# - AVG → exact decimal sum cast to double, divided by count (one double
#   division on identical operands → bit-identical),
# - driver-visible outputs must be pandas-NATIVE types (int64/float64/
#   string/timestamp): DECIMAL survives Spark→pandas as Decimal objects but
#   DuckDB→pandas as float64, so any value with a trailing zero in its
#   scale ('100.50' vs 100.5) hash-mismatches in the driver's
#   canonicalizer even when the engines agree exactly. Accumulate in
#   DECIMAL (exact, order-free), then cast the FINAL aggregate to DOUBLE
#   on both sides — the unscaled values stay < 2^53, so decimal→double is
#   the same correctly-rounded IEEE value in both engines.
SUM_REVENUE_SQL = (
    f"CAST(CAST(SUM(CAST({REVENUE} AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE)"
)


def revenue_col() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


def sum_revenue_col() -> F.Column:
    return (
        F.sum(revenue_col().cast("decimal(18,4)")).cast("decimal(18,4)").cast("double")
    )


# ---------------------------------------------------------------------------
# Dimensions (mirror dim_customer / dim_product / dim_datetime / dim_invoice)
# ---------------------------------------------------------------------------


def dim_customer(cat: Catalog) -> DataFrame:
    """dim_customer.sql analogue: DISTINCT (key, id, country) projection of
    the line table + LEFT JOIN to a lookup, unmatched → NULL (J1).

    The ISO-lookup role is played by ``region`` restricted to r_regionkey<3
    so some nations exercise the null-extension path.
    """
    c = cat.table("customer")
    n = cat.table("nation")
    region = cat.table("region").filter(F.col("r_regionkey") < 3)
    cust = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .select(
            surrogate_key("c_custkey", "n_name").alias("customer_key"),
            F.col("c_custkey").alias("customer_id"),
            F.col("n_name").alias("country"),
            F.col("n_regionkey"),
        )
        .distinct()
    )
    return cust.join(
        F.broadcast(region), cust.n_regionkey == region.r_regionkey, "left"
    ).select("customer_key", "customer_id", "country", F.col("r_name").alias("region"))


DIM_CUSTOMER_SQL = f"""
WITH cust AS (
    SELECT DISTINCT
        {surrogate_key_sql('c_custkey', 'n_name')} AS customer_key,
        c_custkey AS customer_id,
        n_name AS country,
        n_regionkey
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
)
SELECT customer_key, customer_id, country, r.r_name AS region
FROM cust
LEFT JOIN (SELECT * FROM region WHERE r_regionkey < 3) r
       ON cust.n_regionkey = r.r_regionkey
"""


def dim_product(cat: Catalog) -> DataFrame:
    """dim_product.sql analogue: DISTINCT projection + not-null/positive
    filters (P3/P4) + 3-column surrogate key (§2.4)."""
    p = cat.table("part")
    return (
        p.filter(F.col("p_partkey").isNotNull() & (F.col("p_retailprice") > 0))
        .select(
            surrogate_key("p_partkey", "p_brand", "p_type").alias("product_key"),
            F.col("p_partkey").alias("stock_code"),
            F.col("p_name").alias("description"),
            F.col("p_retailprice").alias("price"),
        )
        .distinct()
    )


DIM_PRODUCT_SQL = f"""
SELECT DISTINCT
    {surrogate_key_sql('p_partkey', 'p_brand', 'p_type')} AS product_key,
    p_partkey AS stock_code,
    p_name AS description,
    p_retailprice AS price
FROM part
WHERE p_partkey IS NOT NULL AND p_retailprice > 0
"""


def dim_datetime(cat: Catalog) -> DataFrame:
    """dim_datetime.sql analogue: DISTINCT date key + EXTRACT family
    (F4/F5). ``weekday`` keeps the BigQuery/Spark 1=Sunday..7=Saturday
    convention."""
    # spread(): the per-row md5 + date_format projection precedes the
    # distinct's exchange; a narrow layout would run it on one core.
    o = cat.spread("orders", "o_orderkey", min_speedup=4.0)
    ds = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    return (
        o.filter(F.col("o_orderdate").isNotNull())
        .select(
            surrogate_key(ds).alias("date_key"),
            ds.alias("datetime_id"),
            F.col("o_orderdate").alias("datetime"),
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
            F.dayofmonth("o_orderdate").alias("day"),
            F.hour("o_orderdate").alias("hour"),
            F.minute("o_orderdate").alias("minute"),
            F.dayofweek("o_orderdate").alias("weekday"),
        )
        .distinct()
    )


_DS_SQL = "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')"
DIM_DATETIME_SQL = f"""
SELECT DISTINCT
    md5(concat_ws('-', coalesce({_DS_SQL}, '_dbt_utils_surrogate_key_null_'))) AS date_key,
    {_DS_SQL} AS datetime_id,
    o_orderdate AS datetime,
    CAST(year(o_orderdate) AS INT) AS year,
    CAST(month(o_orderdate) AS INT) AS month,
    CAST(day(o_orderdate) AS INT) AS day,
    CAST(hour(o_orderdate) AS INT) AS hour,
    CAST(minute(o_orderdate) AS INT) AS minute,
    CAST(dayofweek(o_orderdate) + 1 AS INT) AS weekday
FROM orders
WHERE o_orderdate IS NOT NULL
"""


def dim_invoice(cat: Catalog) -> DataFrame:
    """dim_invoice.sql analogue: DISTINCT invoice projection with the
    dim_customer membership semantics (J2's implicit semi-filter: orders
    whose customer fell out of dim_customer are silently dropped).

    Natural-key formulation: dim_customer's membership set is exactly the
    customers that survive customer⋈nation, so the reference's
    join-on-md5 reduces to that same inner join on the natural keys —
    DISTINCT runs over naturals (8-byte longs + strings, not md5 hex) and
    both surrogate keys are attached once afterwards. The DuckDB oracle
    keeps the literal key-join shape and hash-matches.
    """
    o = cat.table("orders")
    c = cat.table("customer")
    n = cat.table("nation")
    inv_nat = (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .select(
            F.col("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("invoicedate"),
            F.col("o_custkey"),
            F.col("n_name"),
        )
        .distinct()
    )
    return inv_nat.select(
        surrogate_key("o_orderkey").alias("invoice_key"),
        F.col("o_orderkey").alias("invoiceno"),
        "invoicedate",
        surrogate_key("o_custkey", "n_name").alias("customer_key"),
    )


DIM_INVOICE_SQL = f"""
WITH inv AS (
    SELECT DISTINCT
        {surrogate_key_sql('o_orderkey')} AS invoice_key,
        o_orderkey AS invoiceno,
        strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS invoicedate,
        {surrogate_key_sql('o_custkey', 'n_name')} AS customer_key_raw
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
),
dc AS (
    SELECT DISTINCT {surrogate_key_sql('c_custkey', 'n_name')} AS customer_key
    FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT invoice_key, invoiceno, invoicedate, dc.customer_key
FROM inv INNER JOIN dc ON inv.customer_key_raw = dc.customer_key
"""


# ---------------------------------------------------------------------------
# Fact (mirrors fct_invoice_line_value.sql)
# ---------------------------------------------------------------------------


def fct_invoice_line_value(cat: Catalog) -> DataFrame:
    """fct_invoice_line_value.sql analogue: keyed fact lines with
    quantity > 0 and the three dims' membership semantics (J3/J4/J5 —
    the implicit drops are part of the contract).

    Spark-first formulation: the reference joins on *computed md5 keys*;
    since every surrogate key is a deterministic function of natural
    columns, joining on the naturals and attaching the md5 keys once in
    the final projection is result-identical (the DuckDB oracle keeps the
    literal key-join shape and hash-matches) while joining on 8-byte longs
    instead of 32-char strings and skipping the dim rebuild sub-plans:

    - J3 (dim_datetime membership) ≡ ``o_orderdate IS NOT NULL``,
    - J4 (dim_product membership)  ≡ part's own filters, supplied by the
      join to part,
    - J5 (dim_invoice membership)  ≡ LEFT SEMI against customer⋈nation on
      the natural customer key — the reference's null-customer drop.

    The literal join-on-md5 pipeline shape is preserved verbatim in
    plans/retail.py (parity tier); this is the plan you'd run at 100 TB.

    Key-computation placement (re-measured r8 at the sf100 replica): the
    md5 key that can only come from a dimension (product_key — needs
    p_brand/p_type) is computed dim-side on the LAST-joined input, so
    the 32-char string rides only the |part|-row exchange, never a
    fact-sized one. The orders-derived keys are NOT computed dim-side
    any more: invoice_key is a function of the join key itself
    (md5(o_orderkey) ≡ md5(l_orderkey) under the inner join) and
    date_key of the carried 4-byte o_orderdate, so both are computed in
    the final post-join projection — map-side, fused into the output
    codegen stage. The r4 dim-side placement (|orders| hashes instead of
    |fact|) minimized md5 CPU, but it made 600M fact rows carry 64 bytes
    of high-entropy (incompressible) hex through the second sort-merge
    exchange — at the sf100 replica that is ~35 GB of extra shuffle
    write + the same again read, and it is what filled the 60 GB-scratch
    decade probe's disk. |fact| md5s are whole-stage-codegen CPU
    (~150 ns/row, seconds at sf100, scales with cores); fact-wide
    shuffle bytes are the scarce resource at 100 TB. SCALING.md §r8 has
    the measurement.
    """
    # spread(): the md5 key projection + joins are map-side CPU over every
    # fact row; on a narrow layout (single-row-group fixture file → one
    # scan task) they would run on ONE core (measured 1.43 → 0.48 s at
    # sf0.1, OPTIMIZATION_r13.md). On a many-file layout the gate
    # compiles to a plain scan — no exchange in the plan (guide §2.4/§6).
    li = cat.spread("lineitem", "l_orderkey", min_speedup=4.0)
    o = cat.table("orders")
    p = cat.table("part")
    c = cat.table("customer")
    n = cat.table("nation")

    customers_with_nation = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner"
    ).select("c_custkey")
    orders_kept = (
        o.filter(F.col("o_orderdate").isNotNull())
        .join(customers_with_nation, o.o_custkey == F.col("c_custkey"), "left_semi")
        # naturals only: the fact-sized exchanges must stay narrow (see
        # the key-placement note above) — o_orderdate is 4 bytes, the md5
        # it feeds is computed post-join.
        .select("o_orderkey", "o_orderdate")
    )
    part_kept = p.filter(
        F.col("p_partkey").isNotNull() & (F.col("p_retailprice") > 0)
    ).select(
        "p_partkey",
        surrogate_key("p_partkey", "p_brand", "p_type").alias("product_key"),
    )
    return (
        li.filter(F.col("l_quantity") > 0)
        .join(orders_kept, li.l_orderkey == orders_kept.o_orderkey, "inner")
        .join(part_kept, li.l_partkey == part_kept.p_partkey, "inner")
        .select(
            surrogate_key("l_orderkey").alias("invoice_key"),
            surrogate_key(
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
            ).alias("date_key"),
            "product_key",
            F.col("l_quantity").alias("quantity"),
            revenue_col().alias("total_price"),
        )
    )


FCT_SQL = f"""
WITH fct AS (
    SELECT
        {surrogate_key_sql('o_orderkey')} AS invoice_key,
        md5(concat_ws('-', coalesce({_DS_SQL}, '_dbt_utils_surrogate_key_null_'))) AS date_key,
        {surrogate_key_sql('p_partkey', 'p_brand', 'p_type')} AS product_key,
        l_quantity AS quantity,
        {REVENUE} AS total_price
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part   ON l_partkey = p_partkey
    WHERE l_quantity > 0
),
dt AS ({DIM_DATETIME_SQL}),
dp AS ({DIM_PRODUCT_SQL}),
di AS ({DIM_INVOICE_SQL})
SELECT fct.invoice_key, fct.date_key, fct.product_key, quantity, total_price
FROM fct
JOIN dt ON fct.date_key = dt.date_key
JOIN dp ON fct.product_key = dp.product_key
JOIN di ON fct.invoice_key = di.invoice_key
"""


# ---------------------------------------------------------------------------
# Reports (mirror report_customer/product/year_invoices.sql)
# ---------------------------------------------------------------------------


def report_customer(cat: Catalog) -> DataFrame:
    """report_customer_invoices.sql analogue — the flagship query.

    COUNT counts invoice LINES (not distinct invoices), replicating the
    reference's naming quirk (SURVEY.md §2.6 A1). Top-10 with a
    deterministic country tie-break.

    Two-level rollup (the report_year/report_product rewrite applied to
    the flagship): lineitem pre-aggregates to (orderkey, line count,
    decimal revenue partial) with map-side combine, the orders join then
    carries |orders| narrow rows instead of |lineitem| wide ones, and a
    second rollup to custkey shrinks the customer-join input to
    |customers|. Decimal addition is associative/exact and the line
    counts are integers, so the staged sums are bit-identical to the
    single-pass aggregate the oracle runs. Honest local A/B (same
    session, min-of-3, sf0.1 / 10x): 0.97->1.03 s / 1.36->1.33 s — a
    wash where fixed overheads dominate; the rewrite is kept because
    the quantity that decides at 100 TB is shuffle BYTES through the
    two wide exchanges (|orders| narrow vs |lineitem| wide), the same
    argument already carried by report_year and report_product.
    """
    # spread() keyed on the first rollup's group key: the gated exchange
    # (narrow layouts only) is the SAME partitioning the l_orderkey
    # aggregate requires, so the rollup rides it with no second shuffle.
    li = cat.spread("lineitem", "l_orderkey", min_speedup=4.0)
    o = cat.table("orders")
    c = cat.table("customer")
    n = cat.table("nation")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("l_orderkey").alias("n_lines"),
        F.sum(revenue_col().cast("decimal(18,4)")).alias("order_revenue"),
    )
    per_cust = (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_custkey")
        .agg(
            F.sum("n_lines").alias("n_lines"),
            F.sum("order_revenue").alias("cust_revenue"),
        )
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .groupBy(F.col("n_name").alias("country"))
        .agg(
            F.sum("n_lines").cast("long").alias("total_invoices"),
            F.sum("cust_revenue")
            .cast("decimal(18,4)")
            .cast("double")
            .alias("total_revenue"),
        )
        .orderBy(F.desc("total_revenue"), F.asc("country"))
        .limit(10)
    )


REPORT_CUSTOMER_SQL = f"""
WITH {LINES_CTE.strip()}
SELECT n_name AS country,
       COUNT(l_orderkey) AS total_invoices,
       {SUM_REVENUE_SQL} AS total_revenue
FROM lines
GROUP BY n_name
ORDER BY total_revenue DESC, country ASC
LIMIT 10
"""


def report_product(cat: Catalog) -> DataFrame:
    """report_product_invoices.sql analogue: top-10 products by quantity.

    Aggregate-before-join: p_partkey is part's primary key and every
    other group column (surrogate key, name) is a function of it, so
    grouping lineitem by l_partkey first and joining part onto the
    |part|-sized aggregate is group-identical — the shuffle carries
    (l_partkey, partial sum) longs instead of fact rows widened with a
    32-char md5 group key, and the md5 runs once per surviving part
    (~2k) instead of once per lineitem (~600k). Catalyst doesn't push
    aggregations through joins on computed keys; this is that rewrite
    done by hand. (quantities are integral, so the double sum is exact
    under any grouping/order.)
    """
    # No spread() here (measured: 0.28 plain vs 0.36 spread at sf0.1) —
    # the pre-exchange work is a cheap double-sum partial aggregate with
    # no per-row md5, so the narrow-layout crutch exchange costs more
    # than the serial scan it parallelizes.
    li = cat.table("lineitem")
    p = cat.table("part")
    per_part = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("total_quantity_sold")
    )
    return (
        per_part.join(p, per_part.l_partkey == p.p_partkey, "inner")
        .select(
            surrogate_key("p_partkey", "p_brand", "p_type").alias("product_key"),
            F.col("p_partkey").alias("stock_code"),
            F.col("p_name").alias("description"),
            "total_quantity_sold",
        )
        .orderBy(F.desc("total_quantity_sold"), F.asc("stock_code"))
        .limit(10)
    )


REPORT_PRODUCT_SQL = f"""
SELECT {surrogate_key_sql('p_partkey', 'p_brand', 'p_type')} AS product_key,
       p_partkey AS stock_code,
       p_name AS description,
       SUM(l_quantity) AS total_quantity_sold
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2, 3
ORDER BY total_quantity_sold DESC, stock_code ASC
LIMIT 10
"""


def report_year(cat: Catalog) -> DataFrame:
    """report_year_invoices.sql analogue: per (year, month) distinct-invoice
    count (A4 COUNT(DISTINCT)) + revenue, fully ordered (O3).

    Rolled up per order first: lineitem pre-aggregates to one decimal
    partial revenue per l_orderkey (a long-keyed shuffle with map-side
    combine), the order join then produces exactly one row per invoice,
    and COUNT(DISTINCT o_orderkey) degrades to a plain COUNT — removing
    the expensive two-phase distinct aggregation entirely. Decimal
    addition is associative/exact, so the two-level sum is bit-identical
    to the single-pass one.
    """
    li = cat.spread("lineitem", "l_orderkey", min_speedup=4.0)
    o = cat.table("orders")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(revenue_col().cast("decimal(18,4)")).alias("order_revenue")
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey, "inner")
        .groupBy(
            F.year("o_orderdate").alias("year"), F.month("o_orderdate").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("num_invoices"),
            F.sum("order_revenue")
            .cast("decimal(18,4)")
            .cast("double")
            .alias("total_revenue"),
        )
        .orderBy("year", "month")
    )


REPORT_YEAR_SQL = f"""
SELECT CAST(year(o_orderdate) AS INT) AS year,
       CAST(month(o_orderdate) AS INT) AS month,
       COUNT(DISTINCT o_orderkey) AS num_invoices,
       {SUM_REVENUE_SQL} AS total_revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
ORDER BY year, month
"""


# ---------------------------------------------------------------------------
# Registration
# ---------------------------------------------------------------------------


def _with_catalog(model):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return model(load_tables(spark, sf_dir))

    return run


register(
    "star_dim_customer",
    DIM_CUSTOMER_SQL,
    doc="star schema: dim_customer.sql analogue — DISTINCT (md5 key, id, "
    "country) projection with a LEFT JOIN lookup whose unmatched rows "
    "null-extend.",
)(_with_catalog(dim_customer))
register(
    "star_dim_product",
    DIM_PRODUCT_SQL,
    doc="star schema: dim_product.sql analogue — DISTINCT projection with "
    "not-null/positive-price filters and a 3-column md5 surrogate key.",
)(_with_catalog(dim_product))
register(
    "star_dim_datetime",
    DIM_DATETIME_SQL,
    doc="star schema: dim_datetime.sql analogue — DISTINCT date key plus the "
    "EXTRACT family (year..minute, 1=Sunday weekday).",
)(_with_catalog(dim_datetime))
register(
    "star_dim_invoice",
    DIM_INVOICE_SQL,
    doc="star schema: dim_invoice.sql analogue — DISTINCT invoices whose "
    "customer survives dim_customer (the implicit inner-join drop).",
)(_with_catalog(dim_invoice))
register(
    "star_fct_invoice_line_value",
    FCT_SQL,
    doc="star schema: fct_invoice_line_value.sql analogue — keyed fact lines "
    "with quantity > 0 and the three dims' membership drops, joined on "
    "natural keys with the md5 keys attached after the last exchange.",
)(_with_catalog(fct_invoice_line_value))
register(
    "star_report_customer",
    REPORT_CUSTOMER_SQL,
    doc="star schema: report_customer_invoices.sql analogue, the flagship — "
    "top-10 countries by revenue over a two-level (order, customer) "
    "rollup; COUNT counts invoice lines like the reference.",
)(_with_catalog(report_customer))
register(
    "star_report_product",
    REPORT_PRODUCT_SQL,
    doc="star schema: report_product_invoices.sql analogue — top-10 products "
    "by quantity, aggregated per part before the part join.",
)(_with_catalog(report_product))
register(
    "star_report_year",
    REPORT_YEAR_SQL,
    doc="star schema: report_year_invoices.sql analogue — per (year, month) "
    "distinct-invoice count and revenue over a per-order rollup.",
)(_with_catalog(report_year))
