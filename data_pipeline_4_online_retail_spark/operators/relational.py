"""SURVEY.md §2 relational operator inventory as oracle-checked micro-queries.

Each query isolates one operator family over the driver's TPC-H-ish tables
and registers both the Spark builder and the DuckDB oracle. Reference
citations point at the construct being replicated.

Design-for-scale notes appear per operator; the general rules:
- filters/projections go first so Catalyst pushes them into the parquet scan,
- tiny relations are broadcast, large joins left to AQE sort-merge,
- all expressions are built-ins → whole-stage codegen end-to-end.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.functions.keys import (
    surrogate_key,
    surrogate_key_sql,
)
from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir).table(name)


# ---------------------------------------------------------------------------
# Projection / filter / derived columns (P1-P6)
# ---------------------------------------------------------------------------


@register(
    "op_project_alias",
    "SELECT c_custkey AS customer_id, c_name AS name, c_mktsegment AS segment FROM customer",
    doc="P1: column select + alias (dim_customer.sql:4-5)",
)
def op_project_alias(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )


@register(
    "op_filter_predicates",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity > 25 AND l_discount BETWEEN 0.02 AND 0.06
      AND l_shipdate IS NOT NULL
    """,
    doc="P3/P4: IS NOT NULL + numeric comparison filters "
    "(dim_customer.sql:7, dim_product.sql:8, fct_invoice_line_value.sql:9); "
    "predicates push into the parquet scan",
)
def op_filter_predicates(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 25)
        & F.col("l_discount").between(0.02, 0.06)
        & F.col("l_shipdate").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@register(
    "op_derived_arithmetic",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
    FROM lineitem
    """,
    doc="P5/F8: derived arithmetic columns (fct_invoice_line_value.sql:7). "
    "Raw doubles: per-row IEEE arithmetic on identical inputs is "
    "bit-identical across engines; round() is not (tie-break differs).",
)
def op_derived_arithmetic(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rev.alias("revenue"),
        (rev * (F.lit(1.0) + F.col("l_tax"))).alias("charged"),
    )


@register(
    "op_conditional_case",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity >= 40 THEN 'bulk'
                WHEN l_quantity >= 10 THEN 'standard'
                ELSE 'small' END AS size_class
    FROM lineitem
    """,
    doc="P6 family: conditional expression (CASE/when)",
)
def op_conditional_case(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") >= 40, "bulk")
        .when(F.col("l_quantity") >= 10, "standard")
        .otherwise("small")
        .alias("size_class"),
    )


# ---------------------------------------------------------------------------
# Surrogate keys (§2.4) — incl. the NULL-sentinel path
# ---------------------------------------------------------------------------


@register(
    "op_surrogate_key",
    f"""
    SELECT {surrogate_key_sql('p_partkey', 'p_brand')} AS product_key,
           md5(concat_ws('-',
               coalesce(cast(p_partkey as varchar), '_dbt_utils_surrogate_key_null_'),
               coalesce(cast(NULL as varchar), '_dbt_utils_surrogate_key_null_')))
             AS key_with_null,
           p_partkey
    FROM part
    """,
    doc="§2.4: dbt_utils.generate_surrogate_key semantics incl. NULL "
    "sentinel (dim_product.sql:2; NULL Description participates via "
    "sentinel). Pure built-ins → codegen-friendly at 100 TB.",
)
def op_surrogate_key(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        surrogate_key("p_partkey", "p_brand").alias("product_key"),
        surrogate_key(F.col("p_partkey"), F.lit(None).cast("string")).alias(
            "key_with_null"
        ),
        "p_partkey",
    )


# ---------------------------------------------------------------------------
# Distinct / dedup (D1-D3) + windows (W1/W2 + extensions)
# ---------------------------------------------------------------------------


@register(
    "op_distinct_projection",
    "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
    doc="D1: SELECT DISTINCT after projection (dim_customer.sql:2). "
    "Planned as hash-aggregate on the projected cols only.",
)
def op_distinct_projection(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()


@register(
    "op_window_group_max",
    """
    SELECT l_orderkey, l_linenumber,
           MAX(l_shipdate) OVER (PARTITION BY l_orderkey) AS canonical_shipdate
    FROM lineitem
    """,
    doc="D2/W1/A6: per-group max broadcast back to rows — the pandas "
    "groupby-transform canonicalization (dags/online_retail.py:46) as a "
    "window aggregate (one shuffle, no self-join)",
)
def op_window_group_max(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.max("l_shipdate").over(w).alias("canonical_shipdate"),
    )


@register(
    "op_dedup_row_number",
    """
    SELECT l_orderkey, l_linenumber, l_shipdate
    FROM (
        SELECT l_orderkey, l_linenumber, l_shipdate,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_shipdate DESC, l_linenumber) AS rn
        FROM lineitem
    ) WHERE rn = 1
    """,
    doc="D3/W2: keep-latest-row dedup via row_number "
    "(reference README.md:361-378 appendix variant)",
)
def op_dedup_row_number(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_shipdate"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


@register(
    "op_window_running_sum",
    """
    SELECT l_orderkey, l_linenumber, l_partkey,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_shipdate, l_partkey, l_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DECIMAL(18,4)) AS DOUBLE) AS running_revenue
    FROM lineitem
    """,
    doc="window extension: explicit ROWS frame running total. DECIMAL "
    "accumulator (exact, order-stable) over a fully-deterministic sort key "
    "— (l_orderkey, l_linenumber) alone is NOT unique in this data. "
    "Final cast to DOUBLE: driver-visible outputs stay pandas-native "
    "(plans/star.py float discipline).",
)
def op_window_running_sum(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_shipdate", "l_partkey", "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.sum(rev.cast("decimal(18,4)"))
        .over(w)
        .cast("decimal(18,4)")
        .cast("double")
        .alias("running_revenue"),
    )


@register(
    "op_window_lead_lag",
    """
    SELECT l_orderkey, l_linenumber, l_partkey,
           LAG(l_shipdate) OVER w AS prev_ship,
           LEAD(l_shipdate) OVER w AS next_ship
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_shipdate, l_partkey, l_suppkey)
    """,
    doc="window extension: lead/lag navigation over a fully-deterministic "
    "sort key",
)
def op_window_lead_lag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_shipdate", "l_partkey", "l_suppkey"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.lag("l_shipdate").over(w).alias("prev_ship"),
        F.lead("l_shipdate").over(w).alias("next_ship"),
    )


@register(
    "op_window_rank",
    """
    SELECT c_custkey, c_nationkey,
           RANK() OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC, c_custkey) AS bal_rank,
           DENSE_RANK() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS bal_dense_rank
    FROM customer
    """,
    doc="window extension: rank/dense_rank with deterministic tie-break. "
    "Scale shape (r6): PARTITION BY c_nationkey is a bounded-cardinality "
    "key (25 nations) over a fact-sized input — an ordinary partitioned "
    "window serializes |customer|/25 rows through one task each. "
    "Because the ordering (c_acctbal DESC, c_custkey) is UNIQUE "
    "(c_custkey is a key), rank == dense_rank == row position, so the "
    "scale-safe form is the partitioned range-bucket count prefix "
    "(functions/prefix.py): buckets on -c_acctbal split every nation "
    "across ~64 parallel tasks, and the triangle carry re-assembles the "
    "global position — same values, no fact-sized window partition. "
    "(Under a TIED ordering rank/dense_rank diverge from position and "
    "want a value-keyed carry instead — that variant belongs to the "
    "helper, not this demo.)",
)
def op_window_rank(spark, sf_dir):
    from data_pipeline_4_online_retail_spark.functions.prefix import global_prefix

    c = _t(spark, sf_dir, "customer")
    ranked = global_prefix(
        c.select("c_custkey", "c_nationkey", "c_acctbal"),
        [F.desc("c_acctbal"), F.asc("c_custkey")],
        {"__pos": ("count", F.lit(1), True)},
        -F.col("c_acctbal"),
        partition_cols=["c_nationkey"],
        salt_expr=F.col("c_custkey"),
    )
    return ranked.select(
        "c_custkey",
        "c_nationkey",
        F.col("__pos").cast("int").alias("bal_rank"),
        F.col("__pos").cast("int").alias("bal_dense_rank"),
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A7 + rollup/pivot extensions)
# ---------------------------------------------------------------------------


@register(
    "op_agg_group_multi",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="A1/A2 family: grouped hash-agg, count/sum/avg/min/max. Catalyst "
    "plans partial (map-side) + final aggregation automatically.",
)
def op_agg_group_multi(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec).cast("decimal(18,2)").cast("double").alias("sum_price"),
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "op_agg_count_distinct",
    """
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS num_customers
    FROM orders GROUP BY o_orderstatus
    """,
    doc="A4: exact COUNT(DISTINCT) (report_year_invoices.sql:4). At 100 TB "
    "prefer approx_count_distinct (HLL) — see op_agg_approx_distinct's "
    "rows-only variant.",
)
def op_agg_count_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("num_customers")
    )


@register(
    "op_agg_rollup",
    """
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    doc="aggregation extension: ROLLUP grouping sets",
)
def op_agg_rollup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "op_agg_conditional_pivot",
    """
    SELECT o_orderpriority,
           CAST(CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS DOUBLE) AS f_total,
           CAST(CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS DOUBLE) AS o_total,
           CAST(CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2)) AS DOUBLE) AS p_total
    FROM orders GROUP BY o_orderpriority
    """,
    doc="aggregation extension: pivot as conditional aggregation "
    "(single shuffle; no per-value scans)",
)
def op_agg_conditional_pivot(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")

    def bucket(status, alias):
        dec = F.col("o_totalprice").cast("decimal(18,2)")
        return (
            F.coalesce(F.sum(F.when(F.col("o_orderstatus") == status, dec)), F.lit(0))
            .cast("decimal(18,2)")
            .cast("double")
            .alias(alias)
        )

    return o.groupBy("o_orderpriority").agg(
        bucket("F", "f_total"), bucket("O", "o_total"), bucket("P", "p_total")
    )


@register(
    "op_quality_metrics",
    """
    SELECT COUNT(*) AS row_count,
           COUNT(*) - COUNT(lang) AS missing_lang,
           COUNT(*) - COUNT(DISTINCT text) AS duplicate_texts,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    """,
    doc="A7: the Soda metric aggregates (missing_count, duplicate_count, "
    "min/max thresholds — include/soda/checks/**) as one whole-table agg",
)
def op_quality_metrics(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("row_count"),
        (F.count(F.lit(1)) - F.count("lang")).alias("missing_lang"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("duplicate_texts"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Joins (J-family beyond the star models): semi / anti / non-equi
# ---------------------------------------------------------------------------


@register(
    "op_join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
    doc="join family: LEFT SEMI — the explicit form of the implicit "
    "semi-filter the reference gets from its inner joins (SURVEY §2.3 J2)",
)
def op_join_semi(spark, sf_dir):
    cat = load_tables(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "op_join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    """,
    doc="join family: LEFT ANTI (customers with no orders)",
)
def op_join_anti(spark, sf_dir):
    cat = load_tables(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "op_join_range",
    """
    SELECT b.band, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
    FROM part p
    JOIN (VALUES ('budget', 0.0, 930.0),
                 ('mid', 930.0, 970.0),
                 ('premium', 970.0, 1e9)) AS b(band, lo, hi)
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
    """,
    doc="join family: non-equi (range) join against a broadcast literal "
    "band table — planned as BroadcastNestedLoopJoin; the band side is "
    "tiny by construction so this stays cheap at any scale",
)
def op_join_range(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 0.0, 930.0), ("mid", 930.0, 970.0), ("premium", 970.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
            "inner",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (
                F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.8 extension surface)
# ---------------------------------------------------------------------------

_SET_A = "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
_SET_B = "SELECT c_custkey FROM customer WHERE c_acctbal > 5000"


@register(
    "op_set_union",
    f"SELECT DISTINCT c_custkey FROM ({_SET_A} UNION {_SET_B})",
    doc="set ops: UNION (distinct)",
)
def op_set_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.union(b).distinct()


@register(
    "op_set_intersect",
    f"{_SET_A} INTERSECT {_SET_B}",
    doc="set ops: INTERSECT",
)
def op_set_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.intersect(b)


@register(
    "op_set_except",
    f"{_SET_A} EXCEPT {_SET_B}",
    doc="set ops: EXCEPT",
)
def op_set_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    # subtract = SQL EXCEPT (distinct) — exceptAll().distinct() is NOT the
    # same: for a=[x,x], b=[x] it keeps x while EXCEPT drops it
    return a.subtract(b)


# ---------------------------------------------------------------------------
# Sorts / top-k (O1-O3)
# ---------------------------------------------------------------------------


@register(
    "op_topk",
    """
    SELECT o_orderkey, o_totalprice AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
    """,
    doc="O1/O2: ORDER BY + LIMIT top-k — Spark plans TakeOrderedAndProject "
    "(per-partition heap + driver merge, no global sort)",
)
def op_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
        .select("o_orderkey", F.col("o_totalprice").alias("total_price"))
    )


@register(
    "op_order_by_full",
    "SELECT n_nationkey, n_name FROM nation ORDER BY n_name",
    doc="O3: full ordered output (order-insensitive hash makes this safe)",
)
def op_order_by_full(spark, sf_dir):
    return _t(spark, sf_dir, "nation").select("n_nationkey", "n_name").orderBy("n_name")


# ---------------------------------------------------------------------------
# Scalar functions: datetime round-trip (F1-F3) + JSON (extension)
# ---------------------------------------------------------------------------


@register(
    "op_datetime_roundtrip",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%m/%d/%Y %I:%M %p') AS formatted,
           strptime(strftime(o_orderdate, '%m/%d/%Y %I:%M %p'), '%m/%d/%Y %I:%M %p') AS reparsed
    FROM orders
    """,
    doc="F1/F2/F3: the reference's InvoiceDate string round-trip "
    "(dags/online_retail.py:48 writes %m/%d/%Y %I:%M %p; "
    "dim_datetime.sql:5 parses it back) incl. 12-hour-clock edge cases",
)
def op_datetime_roundtrip(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    fmt = "MM/dd/yyyy hh:mm a"
    formatted = F.date_format("o_orderdate", fmt)
    return o.select(
        "o_orderkey",
        formatted.alias("formatted"),
        F.to_timestamp(formatted, fmt).alias("reparsed"),
    )


@register(
    "op_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events GROUP BY event_type
    """,
    doc="scalar extension: JSON extraction from events.props "
    "(get_json_object stays JVM-side; no Python)",
)
def op_json_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.get_json_object("props", "$.k").cast("int")).alias("sum_k"),
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_value"),
    )


@register(
    "op_deterministic_sample",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) < '20'
    """,
    doc="deterministic hash sampling (~1/8 expected: md5 hex < '20'): "
    "seed-free, engine-reproducible, stable under retries and resumable "
    "pipelines — the training-data-curation sampling idiom (rand()-based "
    "sampling is neither cross-engine nor retry-stable)",
)
def op_deterministic_sample(spark, sf_dir):
    d = load_tables(spark, sf_dir).table("documents")
    return d.filter(F.md5(F.col("doc_id").cast("string")) < "20").select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "op_stratified_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE md5(concat_ws(':', lang, CAST(doc_id AS VARCHAR)))
          < CASE WHEN lang = 'en' THEN '20' ELSE '80' END
    """,
    doc="deterministic stratified sampling — per-stratum rates via the "
    "hash threshold (dominant 'en' stratum downsampled to ~12.5%, the "
    "rest kept at ~50%): the class-rebalancing idiom for training-data "
    "curation, with the same seed-free retry-stable hash discipline as "
    "op_deterministic_sample. One scan, no shuffle, no per-stratum "
    "passes (sampleBy needs fractions known up front; the hash form "
    "composes with any CASE over the stratum columns).",
)
def op_stratified_sample(spark, sf_dir):
    d = load_tables(spark, sf_dir).table("documents")
    h = F.md5(F.concat_ws(":", "lang", F.col("doc_id").cast("string")))
    rate = F.when(F.col("lang") == "en", F.lit("20")).otherwise(F.lit("80"))
    return d.filter(h < rate).select("doc_id", "lang")


@register(
    "op_group_topk",
    """
    SELECT p_brand, p_partkey, p_retailprice
    FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               ROW_NUMBER() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part
    ) WHERE rn <= 3
    """,
    doc="per-group top-k: rank window + filter — one shuffle on the group "
    "key; rows beyond k never leave the sort (the distributed GROUP BY "
    "... LIMIT k per group idiom)",
)
def op_group_topk(spark, sf_dir):
    p = load_tables(spark, sf_dir).table("part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice")
    )


_SQL_API_QUERY = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
GROUP BY o_orderpriority
"""


@register(
    "op_sql_api",
    _SQL_API_QUERY,
    doc="the spark.sql surface: the identical SQL text runs on Spark (over "
    "the catalog's temp views) and on DuckDB as its own oracle — the "
    "dialect-shared subset is engine-portable verbatim",
)
def op_sql_api(spark, sf_dir):
    cat = load_tables(spark, sf_dir)
    # re-register this catalog's view explicitly: the memoized catalog only
    # registers temp views on first load, so after another scale factor has
    # been loaded in the same session the global view could point elsewhere
    cat.table("orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL_API_QUERY)


@register(
    "op_from_json_struct",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS INT) * 2 AS k_doubled,
           CAST(json_extract_string(props, '$.missing') AS INT) AS absent
    FROM events
    """,
    doc="nested-data family: from_json into a typed struct + field access "
    "(missing keys → NULL). The struct parse happens once per row; "
    "repeated get_json_object calls would re-parse per field.",
)
def op_from_json_struct(spark, sf_dir):
    e = load_tables(spark, sf_dir).table("events")
    parsed = e.select(
        "event_id",
        F.from_json("props", "k INT, missing INT").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p.k") * 2).alias("k_doubled"),
        F.col("p.missing").alias("absent"),
    )


@register(
    "op_array_functions",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           embedding[1] AS first_val,
           embedding[len(embedding)] AS last_val,
           list_sort(embedding)[1] AS min_val,
           list_sort(embedding)[len(embedding)] AS max_val,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           list_reverse(embedding)[1] AS reversed_first
    FROM embeddings
    """,
    doc="array family: size/index/sort/filter/reverse over the embedding "
    "column — all codegen'd array kernels, no UDFs",
)
def op_array_functions(spark, sf_dir):
    e = load_tables(spark, sf_dir).table("embeddings")
    emb = F.col("embedding")
    sorted_ = F.array_sort(emb)
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.element_at(emb, 1).alias("first_val"),
        F.element_at(emb, F.size(emb)).alias("last_val"),
        F.element_at(sorted_, 1).alias("min_val"),
        F.element_at(sorted_, F.size(emb)).alias("max_val"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_positive"),
        F.element_at(F.reverse(emb), 1).alias("reversed_first"),
    )


@register(
    "op_table_profile",
    """
    SELECT 'doc_id' AS column_name, COUNT(*) AS row_count,
           COUNT(*) - COUNT(doc_id) AS null_count,
           COUNT(DISTINCT doc_id) AS distinct_count,
           CAST(MIN(doc_id) AS VARCHAR) AS min_value,
           CAST(MAX(doc_id) AS VARCHAR) AS max_value
    FROM documents
    UNION ALL
    SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
           CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
           CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
           CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
    FROM documents
    """,
    doc="table profiling: per-column null/distinct/min/max stats in one "
    "result — the dataset-health report a curation pipeline runs before "
    "training. Spark computes every column's stats in a single scan "
    "(one multi-aggregate) and unpivots, rather than one pass per column.",
)
def op_table_profile(spark, sf_dir):
    d = load_tables(spark, sf_dir).table("documents")
    cols = ["doc_id", "lang", "source", "n_chars"]
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = d.agg(*aggs)
    profiles = [
        one.select(
            F.lit(c).alias("column_name"),
            F.col("row_count"),
            F.col(f"{c}__nulls").alias("null_count"),
            F.col(f"{c}__distinct").alias("distinct_count"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        )
        for c in cols
    ]
    out = profiles[0]
    for pdf in profiles[1:]:
        out = out.unionByName(pdf)
    return out


# ---------------------------------------------------------------------------
# Window completeness: RANGE frames, value functions, distribution functions,
# and GROUPING SETS (late round-2 additions)
# ---------------------------------------------------------------------------


@register(
    "op_window_range_frame",
    """
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate
                RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS trailing_7d_total,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER w AS latest_order,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="window extension: time-RANGE frame (trailing 7-day spend per "
    "customer — the frame is value-based, so same-date orders aggregate "
    "together regardless of row order, making the decimal sum "
    "deterministic without a full tie-break) plus "
    "first/last/nth_value over a deterministic ROWS frame. One shuffle "
    "on o_custkey shared by both window specs.",
)
def op_window_range_frame(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    # Order by a tz-FREE day number: o_orderdate is timestamp_ntz (all
    # values midnight), and unix_timestamp(cast(ntz AS timestamp)) would
    # route through the session timezone — on a DST host under the
    # driver's default-tz session, 7-day boundaries shift by ±3600s vs
    # DuckDB's tz-less INTERVAL 7 DAY. ntz→date is a pure calendar cast,
    # and unix_date is days since epoch, so the frame is engine-exact.
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_date(F.col("o_orderdate").cast("date")))
        .rangeBetween(-7, 0)
    )
    ww = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(wr)
        .cast("double")
        .alias("trailing_7d_total"),
        F.first("o_orderkey").over(ww).alias("first_order"),
        F.last("o_orderkey").over(ww).alias("latest_order"),
        F.nth_value("o_orderkey", 2).over(ww).alias("second_order"),
    )


@register(
    "op_window_distribution",
    """
    SELECT c_custkey, c_mktsegment,
           NTILE(4) OVER w AS bal_quartile,
           PERCENT_RANK() OVER w AS bal_pct_rank,
           CUME_DIST() OVER w AS bal_cume_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    doc="window extension: distribution functions — ntile quartiles, "
    "percent_rank ((rank-1)/(n-1): integer-derived, engine-exact), "
    "cume_dist. Deterministic (c_acctbal, c_custkey) ordering.",
)
def op_window_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.percent_rank().over(w).alias("bal_pct_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
    )


@register(
    "op_agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority))
    """,
    doc="aggregation extension: explicit GROUPING SETS with GROUPING() "
    "flags disambiguating which NULLs are subtotal markers vs data — the "
    "general form behind the rollup/cube queries. Spark expands the sets "
    "into one Expand + single hash aggregate (one shuffle).",
)
def op_agg_grouping_sets(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "g_status", "g_priority",
            "n_orders", "total_price",
        )
    )


@register(
    "op_fuzzy_match_blocked",
    """
    SELECT a.p_brand AS brand,
           a.p_partkey AS a_key, b.p_partkey AS b_key,
           a.p_name AS a_name, b.p_name AS b_name,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
    doc="entity resolution: blocked fuzzy matching — candidate pairs are "
    "generated only within a blocking key (p_brand) and kept when edit "
    "distance <= 2. The block equi-join keeps the shuffle keyed and the "
    "pair count O(sum of block², not corpus²) — the standard blocking "
    "discipline; LSH blocking (dedup_minhash_*) is the scale path when "
    "no natural key exists. a<b canonicalizes pairs.",
)
def op_fuzzy_match_blocked(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    a = p.alias("a")
    b = p.alias("b")
    # r13: thresholded levenshtein (3-arg form, Spark 3.5+) — the DP
    # early-exits once the distance provably exceeds 2 (incl. the O(1)
    # length-gap check), O(k*n) instead of O(n^2) per pair across the
    # blocked pair space. Returns -1 past the threshold, so `>= 0` is
    # exactly the old `dist <= 2`, and at-or-under the threshold the
    # returned value IS the true distance — output bit-identical
    # (exceptAll-verified both directions at sf0.1; 14.5 -> 5.8 s).
    dist = F.expr("levenshtein(a.p_name, b.p_name, 2)")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(dist >= 0)
        .select(
            F.col("a.p_brand").alias("brand"),
            F.col("a.p_partkey").alias("a_key"),
            F.col("b.p_partkey").alias("b_key"),
            F.col("a.p_name").alias("a_name"),
            F.col("b.p_name").alias("b_name"),
            dist.alias("edit_dist"),
        )
    )


@register(
    "op_unpivot_melt",
    """
    SELECT p_partkey, metric, value FROM (
        SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
        FROM part) u
    """,
    doc="relational completeness: unpivot/melt — wide numeric columns to "
    "long (key, metric, value) triples via DataFrame.unpivot (Spark "
    "plans a single Expand over one scan: each input row fans to one "
    "output row per metric with no join or shuffle; the UNION ALL oracle "
    "is the semantic spec, not the plan). The inverse of "
    "op_agg_conditional_pivot.",
)
def op_unpivot_melt(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "op_pivot_native",
    """
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="relational completeness: native groupBy().pivot() with an "
    "explicit value list (no extra distinct-scan job, deterministic "
    "column set — the form you use at scale; unlisted statuses are "
    "dropped, matching the oracle's CASE buckets). Spark compiles it to "
    "the same single hash aggregate as the manual conditional pivot "
    "(op_agg_conditional_pivot); this registers the operator surface "
    "itself.",
)
def op_pivot_native(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_finished"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_pending"),
    )


@register(
    "op_map_functions",
    """
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
    m AS (
        SELECT user_id,
               map_from_entries(list_sort(list(struct_pack(k := event_type,
                                                           v := n)))) AS mp
        FROM counts GROUP BY user_id)
    SELECT user_id,
           CAST(cardinality(mp) AS INT) AS n_types,
           CAST(COALESCE(mp['click'][1], 0) AS BIGINT) AS clicks,
           CAST(COALESCE(mp['view'][1], 0) AS BIGINT) AS views
    FROM m
    """,
    doc="scalar extension: MAP-type functions — per-user event-type "
    "count maps via map_from_entries over sorted (key, value) structs, "
    "probed with element_at/cardinality (the per-entity feature-bag "
    "shape: one map column instead of N sparse columns). The map stays "
    "INTERNAL to the plan; outputs are extracted scalars, since map "
    "columns don't canonicalize across engines. Sorted entries make "
    "construction order deterministic. One groupBy(user, type) + one "
    "map-side map build.",
)
def op_map_functions(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("event_type").alias("k"), F.col("n").alias("v")
                    )
                )
            )
        ).alias("mp")
    )
    return m.select(
        "user_id",
        F.size("mp").alias("n_types"),
        F.coalesce(F.element_at("mp", F.lit("click")), F.lit(0))
        .cast("long")
        .alias("clicks"),
        F.coalesce(F.element_at("mp", F.lit("view")), F.lit(0))
        .cast("long")
        .alias("views"),
    )


_RECURSIVE_CHAIN_SQL = """
WITH RECURSIVE nxt AS (
    SELECT o_custkey, o_orderkey,
           LEAD(o_orderkey) OVER w AS next_key,
           ROW_NUMBER() OVER w AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
chain(o_custkey, o_orderkey, depth, next_key) AS (
    SELECT o_custkey, o_orderkey, 1, next_key
    FROM nxt WHERE rn = 1
    UNION ALL
    SELECT c.o_custkey, n.o_orderkey, c.depth + 1, n.next_key
    FROM chain c JOIN nxt n ON c.next_key = n.o_orderkey)
SELECT o_custkey, o_orderkey, CAST(depth AS BIGINT) AS depth
FROM chain
"""


@register(
    "op_recursive_cte_chain",
    _RECURSIVE_CHAIN_SQL,
    doc="recursive CTE (Spark 4 WITH RECURSIVE): per-customer order "
    "chains walked edge-by-edge from each customer's first order — the "
    "IDENTICAL SQL text runs on Spark and as its own DuckDB oracle. "
    "The successor relation is a linear DAG (one LEAD edge per order), "
    "so UNION ALL recursion terminates in max-chain-length iterations "
    "with no duplicate paths (Spark doesn't yet allow UNION DISTINCT "
    "in recursion — cyclic closure needs the star-contraction loop in "
    "dedup.connected_components instead). Each "
    "iteration is one equi-join on next_key: hash-partitioned, "
    "AQE-sized; depth_i frontier rows only, never the whole history.",
    tags=("relational",),
)
def op_recursive_cte_chain(spark, sf_dir):
    cat = load_tables(spark, sf_dir)
    cat.table("orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_CHAIN_SQL)


_LATERAL_TOPK_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n JOIN LATERAL (
    SELECT c_name, c_acctbal FROM customer
    WHERE c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_name LIMIT 2) t
"""


@register(
    "op_lateral_join",
    # DuckDB spells the same correlated-subquery join with comma syntax.
    _LATERAL_TOPK_SQL.replace("JOIN LATERAL", ", LATERAL"),
    doc="SQL LATERAL join (Spark 3.2+ correlated subquery in FROM): "
    "top-2 customers by balance per nation, the per-row-subquery idiom "
    "ETL authors port from Postgres/BigQuery. Catalyst rewrites the "
    "correlated LIMIT into a partitioned window top-k (no per-row "
    "re-execution), so the plan is the same single customer-side "
    "shuffle as op_group_topk — the point of declaring it "
    "declaratively instead of looping. Identical SQL text runs on "
    "DuckDB modulo the JOIN LATERAL/comma spelling.",
    tags=("engine",),
)
def op_lateral_join(spark, sf_dir):
    cat = load_tables(spark, sf_dir)
    cat.table("nation").createOrReplaceTempView("nation")
    cat.table("customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_TOPK_SQL)


@register(
    "op_sequence_gaps",
    """
    WITH present AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 7 <> 3),
    edges AS (
        SELECT o_orderkey AS gap_after,
               lead(o_orderkey) OVER (ORDER BY o_orderkey) AS next_key
        FROM present)
    SELECT gap_after, next_key,
           CAST(next_key - gap_after - 1 AS BIGINT) AS n_missing
    FROM edges
    WHERE next_key - gap_after > 1
    """,
    doc="data-quality: sequence-gap detection over an id column — "
    "lead() per ordered key, report (gap_after, next_key, n_missing) "
    "for every hole. The %7 filter synthesizes deterministic holes in "
    "the dense fixture keyspace so the operator has work to do. "
    "Scale (r6 rewrite): the global lead() runs through "
    "functions/prefix.py's global_lead — keys hash-exchange on a "
    "key-quantile bucket id, lead() is computed per bucket, and each "
    "bucket's tail row takes the next non-empty bucket's head from a "
    "broadcast <= n_buckets-row heads table — no fact-sized single-"
    "partition window. Output is O(holes), not O(rows).",
    tags=("quality",),
)
def op_sequence_gaps(spark, sf_dir):
    from data_pipeline_4_online_retail_spark.functions.prefix import global_lead

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 != 3)
    edges = global_lead(
        o.select("o_orderkey"),
        ["o_orderkey"],
        "o_orderkey",
        F.col("o_orderkey"),
        out_name="next_key",
    ).withColumnRenamed("o_orderkey", "gap_after")
    return edges.filter(F.col("next_key") - F.col("gap_after") > 1).select(
        "gap_after",
        "next_key",
        (F.col("next_key") - F.col("gap_after") - 1)
        .cast("long")
        .alias("n_missing"),
    )


@register(
    "op_checksum_table",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(CAST('0x' || substr(md5(concat_ws('|',
               CAST(o_orderkey AS VARCHAR),
               CAST(o_custkey AS VARCHAR),
               o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
               CAST(o_orderdate AS VARCHAR),
               o_orderpriority)), 1, 15) AS BIGINT)) AS checksum
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="data-quality: engine-portable table checksum — each row's "
    "canonical string (decimals rendered with fixed scale; doubles "
    "never stringified raw, the scientific-notation trap) md5-hashes "
    "to a 60-bit fingerprint and XOR-folds per group. XOR is "
    "commutative/associative with no overflow, so the checksum is "
    "partition-layout-independent (pytest re-derives it under a "
    "different repartitioning) and map-side combinable — the shape "
    "migration validators use to compare a 100 TB table across "
    "engines without moving rows. Spark conv(hex,16,10) == DuckDB "
    "CAST('0x…'), both exact at 15 hex digits.",
    tags=("quality",),
)
def op_checksum_table(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    payload = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.col("o_orderdate").cast("string"),
        F.col("o_orderpriority"),
    )
    fp = F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(fp).alias("checksum"),
    )


@register(
    "op_date_spine",
    """
    WITH bounds AS (
        SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
               CAST(MAX(o_orderdate) AS DATE) AS hi
        FROM orders)
    SELECT CAST(d AS DATE) AS day,
           CAST(EXTRACT(year FROM d) AS INTEGER) AS year,
           CAST(EXTRACT(quarter FROM d) AS INTEGER) AS quarter,
           CAST(EXTRACT(month FROM d) AS INTEGER) AS month,
           CAST(EXTRACT(day FROM d) AS INTEGER) AS day_of_month,
           CAST(isodow(d) AS INTEGER) AS iso_dow,
           CAST(d = date_trunc('month', d) AS INTEGER) AS is_month_start,
           CAST(d = last_day(CAST(d AS DATE)) AS INTEGER) AS is_month_end
    FROM bounds, LATERAL (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d)
    """,
    doc="calendar generation: the dbt-utils date_spine idiom — a dense "
    "day dimension spanning the fact's date range, generated with "
    "sequence()+explode (no source rows needed, unlike the reference's "
    "dim_datetime which only contains OBSERVED datetimes — "
    "include/model/dim_datetime.sql — and therefore has holes that "
    "break rolling-window joins). Attributes use engine-portable "
    "definitions (ISO day-of-week via weekday+1 / isodow; month "
    "boundaries via date_trunc/last_day). Scale: the spine is "
    "O(days) — generated at the driver-free expression level and "
    "broadcastable to any fact join.",
    tags=("calendar",),
)
def op_date_spine(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    d = F.col("day")
    return days.select(
        d,
        F.year(d).cast("integer").alias("year"),
        F.quarter(d).cast("integer").alias("quarter"),
        F.month(d).cast("integer").alias("month"),
        F.dayofmonth(d).cast("integer").alias("day_of_month"),
        (F.weekday(d) + 1).cast("integer").alias("iso_dow"),
        (d == F.date_trunc("month", d).cast("date"))
        .cast("integer")
        .alias("is_month_start"),
        (d == F.last_day(d)).cast("integer").alias("is_month_end"),
    )


@register(
    "op_percent_change_mom",
    """
    WITH monthly AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
               CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY 1, 2)
    SELECT year, month, revenue,
           (revenue - lag(revenue) OVER (ORDER BY year, month))
               / lag(revenue) OVER (ORDER BY year, month) AS mom_change
    FROM monthly
    """,
    doc="BI staple: month-over-month revenue change — DECIMAL-exact "
    "monthly sums cast to double, then a lag ratio. The division "
    "consumes two identically-derived doubles, so the result is "
    "IEEE-identical on both engines without rounding (first month's "
    "change is NULL). Scale: the global window runs over the MONTH "
    "frame (|months| rows) after the aggregate — the one place an "
    "unpartitioned window is the right call.",
    tags=("analytics",),
)
def op_percent_change_mom(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("integer").alias("year"),
        F.month("o_orderdate").cast("integer").alias("month"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("year", "month")
    prev = F.lag("revenue").over(w)
    return monthly.withColumn("mom_change", (F.col("revenue") - prev) / prev)


HIST_BIN_WIDTH = 25_000.0


@register(
    "op_histogram_fixed_bins",
    f"""
    SELECT CAST(floor(o_totalprice / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
           CAST(CAST(floor(o_totalprice / {HIST_BIN_WIDTH}) AS BIGINT)
               * {HIST_BIN_WIDTH} AS DOUBLE) AS bin_lo,
           CAST((CAST(floor(o_totalprice / {HIST_BIN_WIDTH}) AS BIGINT) + 1)
               * {HIST_BIN_WIDTH} AS DOUBLE) AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY 1
    """,
    doc="profiling: fixed-width histogram — floor(x/width) bin ids with "
    "explicit edges. One IEEE-exact division + floor per row (identical "
    "on both engines), then a bins-sized aggregate: the map-side "
    "combine reduces every partition to at most |bins| rows, so the "
    "shuffle is O(bins x partitions) regardless of table size — why "
    "fixed-bin histograms beat exact percentiles for dashboard-scale "
    "profiling (op_percentiles_approx covers the adaptive case).",
    tags=("profiling",),
)
def op_histogram_fixed_bins(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH).cast("long")
    return (
        o.select(
            b.alias("bin"),
            (b * HIST_BIN_WIDTH).alias("bin_lo"),
            ((b + 1) * HIST_BIN_WIDTH).alias("bin_hi"),
        )
        .groupBy("bin", "bin_lo", "bin_hi")
        .agg(F.count(F.lit(1)).alias("n"))
    )


GROUP_SAMPLE_K = 5


@register(
    "op_group_sample_exact_k",
    f"""
    SELECT source, doc_id, lang
    FROM (
        SELECT source, doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('gs:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= {GROUP_SAMPLE_K}
    """,
    doc="curation: exact-k-per-group deterministic sample — rank each "
    "group by a salted content hash (uniform, seed-free, retry-stable) "
    "and keep the first k. Unlike the rate-based "
    "op_deterministic/stratified_sample (whose per-group size "
    "fluctuates binomially), this guarantees EXACTLY k rows per group "
    "— the contract eval-set builders need. Scale: one group-key "
    "shuffle; rows beyond k never leave the per-partition sort "
    "(WindowGroupLimit pushes the limit below the exchange, "
    "pytest-pinned). The md5 ordering also makes the sample stable "
    "under re-partitioning and data arrival order.",
    tags=("curation",),
)
def op_group_sample_exact_k(spark, sf_dir):
    d = load_tables(spark, sf_dir).table("documents")
    h = F.md5(F.concat(F.lit("gs:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= GROUP_SAMPLE_K)
        .select("source", "doc_id", "lang")
    )


@register(
    "op_parameterized_sql",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_big,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_totalprice > 100000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    doc="SQL surface: parameterized queries — spark.sql(query, args=...) "
    "with named :parameter markers. The binding happens at parse time "
    "as literals in the plan (NOT string interpolation), so Catalyst "
    "constant-folds and pushes the bound predicates into the scan like "
    "hand-written literals, while callers get injection-safe templating "
    "— the JDBC-prepared-statement contract on the DataFrame API. "
    "Oracle inlines the same literals.",
    tags=("sql",),
)
def op_parameterized_sql(spark, sf_dir):
    cat = load_tables(spark, sf_dir)
    cat.table("orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_big,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total
        FROM orders
        WHERE o_totalprice > :lo AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"lo": 100000.0, "status": "F"},
    )


@register(
    "op_sql_scripting",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_over,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_final
    FROM orders
    WHERE o_totalprice > 100000.0 * 1.5
    GROUP BY o_orderpriority
    """,
    doc="SQL surface: SQL scripting (Spark 4 BEGIN...END) — procedural "
    "blocks with DECLAREd session variables computed by intermediate "
    "statements, the migration path for warehouse stored procedures "
    "(BigQuery scripting / T-SQL). The script's final SELECT is the "
    "result; variables bind as constants so the optimized plan is "
    "identical to a literal query (no lost pushdown). The oracle runs "
    "the equivalent flat SQL with the variable's arithmetic inlined.",
    tags=("sql",),
)
def op_sql_scripting(spark, sf_dir):
    cat = load_tables(spark, sf_dir)
    cat.table("orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        BEGIN
          DECLARE base DOUBLE DEFAULT 100000.0;
          DECLARE threshold DOUBLE;
          SET threshold = base * 1.5;
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_over,
                 CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_final
          FROM orders
          WHERE o_totalprice > threshold
          GROUP BY o_orderpriority;
        END
        """
    )


@register(
    "op_skyline_pareto",
    """
    WITH pts AS (
        SELECT o_orderkey, o_totalprice, o_orderdate,
               MAX(o_totalprice) OVER (
                   ORDER BY o_orderdate, o_totalprice DESC, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS best_earlier
        FROM orders)
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM pts
    WHERE best_earlier IS NULL OR o_totalprice > best_earlier
    """,
    doc="skyline / Pareto frontier (2-D): orders not dominated by any "
    "EARLIER-OR-SAME-DATE order of >= price — maximal (recency, value) "
    "trade-offs. The naive formulation is an O(n^2) dominance "
    "anti-join; sorting on one dimension reduces 2-D skyline to a "
    "running-max window (price-desc tie-break makes same-instant "
    "dominance exact). Scale (r6 rewrite): the strict-prefix max runs "
    "through functions/prefix.py — orders hash-exchange on a date-"
    "quantile bucket id, each bucket computes its local frontier max, "
    "and only per-bucket max prices (<= n_buckets rows, broadcast) "
    "cascade forward as offsets — the 'hierarchical prefix-max' the r5 "
    "docstring promised, now implemented: no fact-sized single-"
    "partition window remains. Output is O(frontier).",
    tags=("analytics",),
)
def op_skyline_pareto(spark, sf_dir):
    from data_pipeline_4_online_retail_spark.functions.prefix import global_prefix

    o = _t(spark, sf_dir, "orders")
    pts = global_prefix(
        o.select("o_orderkey", "o_totalprice", "o_orderdate"),
        ["o_orderdate", F.desc("o_totalprice"), "o_orderkey"],
        {"best_earlier": ("max", F.col("o_totalprice"), False)},
        F.unix_micros(F.col("o_orderdate")),
        salt_expr=-F.col("o_totalprice"),
    )
    return pts.filter(
        F.col("best_earlier").isNull()
        | (F.col("o_totalprice") > F.col("best_earlier"))
    ).select("o_orderkey", "o_totalprice", "o_orderdate")


@register(
    "op_not_in_null_semantics",
    """
    WITH holders AS (
        SELECT o_custkey FROM orders
        UNION ALL SELECT NULL::BIGINT),
    counts AS (
        SELECT
            (SELECT COUNT(*) FROM customer
             WHERE c_custkey NOT IN (SELECT o_custkey FROM holders))
                AS via_not_in,
            (SELECT COUNT(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM holders h
                               WHERE h.o_custkey = c.c_custkey))
                AS via_not_exists,
            (SELECT COUNT(*) FROM customer c
             LEFT JOIN (SELECT DISTINCT o_custkey FROM holders) h
               ON c.c_custkey = h.o_custkey
             WHERE h.o_custkey IS NULL) AS via_anti_join)
    SELECT CAST(via_not_in AS BIGINT) AS via_not_in,
           CAST(via_not_exists AS BIGINT) AS via_not_exists,
           CAST(via_anti_join AS BIGINT) AS via_anti_join,
           CAST(via_not_in = 0 AS INTEGER) AS not_in_collapsed,
           CAST(via_not_exists = via_anti_join AS INTEGER)
               AS exists_equals_anti
    FROM counts
    """,
    doc="semantics pin: the NOT IN null trap — one NULL in the subquery "
    "makes `x NOT IN (...)` UNKNOWN for every row (three-valued "
    "logic), so the count silently collapses to 0, while NOT EXISTS "
    "and the null-safe anti-join return the real answer. Both engines "
    "implement the same ANSI rule, so the trap itself is "
    "hash-verifiable: the oracle pins via_not_in=0 AND the agreeing "
    "nonzero NOT EXISTS/anti-join counts. This is the class of "
    "migration bug a user of the reference hits first when BigQuery "
    "SQL moves anywhere else; Catalyst plans the NOT IN as "
    "NullAwareAntiJoin (the expensive null-safe form) — the reason "
    "style guides say NOT EXISTS.",
    tags=("semantics",),
)
def op_not_in_null_semantics(spark, sf_dir):
    cat = load_tables(spark, sf_dir)
    cat.table("orders").createOrReplaceTempView("orders")
    cat.table("customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH holders AS (
            SELECT o_custkey FROM orders
            UNION ALL SELECT CAST(NULL AS BIGINT)),
        counts AS (
            SELECT
                (SELECT COUNT(*) FROM customer
                 WHERE c_custkey NOT IN (SELECT o_custkey FROM holders))
                    AS via_not_in,
                (SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM holders h
                                   WHERE h.o_custkey = c.c_custkey))
                    AS via_not_exists,
                (SELECT COUNT(*) FROM customer c
                 LEFT JOIN (SELECT DISTINCT o_custkey FROM holders) h
                   ON c.c_custkey = h.o_custkey
                 WHERE h.o_custkey IS NULL) AS via_anti_join)
        SELECT CAST(via_not_in AS BIGINT) AS via_not_in,
               CAST(via_not_exists AS BIGINT) AS via_not_exists,
               CAST(via_anti_join AS BIGINT) AS via_anti_join,
               CAST(via_not_in = 0 AS INT) AS not_in_collapsed,
               CAST(via_not_exists = via_anti_join AS INT)
                   AS exists_equals_anti
        FROM counts
        """
    )


@register(
    "op_sql_pipe_syntax",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_totalprice > 100000
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 100
    """,
    doc="SQL surface: pipe syntax (Spark 4 `|>` operators, the "
    "linear-dataflow SQL from the GoogleSQL pipe-query proposal) — "
    "FROM |> WHERE |> AGGREGATE ... GROUP BY |> WHERE reads top-to-"
    "bottom like the DataFrame API and compiles to the IDENTICAL "
    "Catalyst plan as the nested classic form (the oracle runs the "
    "classic spelling). Relevant to reference users: BigQuery ships "
    "the same pipe syntax, so dbt-style SQL migrates verbatim.",
    tags=("sql",),
)
def op_sql_pipe_syntax(spark, sf_dir):
    cat = load_tables(spark, sf_dir)
    cat.table("orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_totalprice > 100000
        |> AGGREGATE COUNT(*) AS n,
                     SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_dec
           GROUP BY o_orderpriority
        |> WHERE n > 100
        |> SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
                  CAST(total_dec AS DOUBLE) AS total
        """
    )


@register(
    "op_moving_average_centered",
    """
    WITH monthly AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
               CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY 1, 2)
    SELECT year, month, revenue,
           AVG(revenue) OVER (ORDER BY year, month
                              ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
               AS ma3_centered,
           CAST(COUNT(*) OVER (ORDER BY year, month
                               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
                AS BIGINT) AS window_n
    FROM monthly
    """,
    doc="time-series smoothing: centered 3-month moving average over "
    "the monthly revenue series — the FOLLOWING-frame window "
    "(trend-extraction convention; op_window_range_frame covers the "
    "trailing form). Edge months average over the truncated window "
    "(window_n exposes the divisor, so consumers can mask partial "
    "edges). AVG here is safe for the hash-compare because each frame "
    "holds <= 3 identically-derived doubles summed in frame order on "
    "both engines. Month frame is tiny; the window runs post-"
    "aggregate.",
    tags=("analytics",),
)
def op_moving_average_centered(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("integer").alias("year"),
        F.month("o_orderdate").cast("integer").alias("month"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("year", "month").rowsBetween(-1, 1)
    return monthly.select(
        "year",
        "month",
        "revenue",
        F.avg("revenue").over(w).alias("ma3_centered"),
        F.count(F.lit(1)).over(w).cast("long").alias("window_n"),
    )


# ---------------------------------------------------------------------------
# Null-preserving explode (round 4, continuation)
# ---------------------------------------------------------------------------


@register(
    "op_explode_outer",
    """
    SELECT o_orderkey, u.v
    FROM orders LEFT JOIN LATERAL (
        SELECT unnest(generate_series(1, CAST(o_orderkey % 4 AS INT))) AS v
    ) u ON TRUE
    """,
    doc="generator family: explode_outer — the null-preserving explode. "
    "A per-row array (here sequence(1, key%4); empty for every 4th key) "
    "fans out to one row per element, and rows whose array is EMPTY "
    "survive with v = NULL instead of vanishing — the left-join-lateral "
    "semantics plain explode silently breaks when downstream counts "
    "must still see every parent row (the classic lost-orders bug when "
    "exploding an optional line-tags column). Spark plans Generate "
    "with outer=true, map-side, no shuffle; the DuckDB oracle spells "
    "the LEFT JOIN LATERAL unnest directly. Note the engine trap the "
    "operator papers over: Spark's sequence(1, 0) yields a DESCENDING "
    "[1, 0], not the empty list DuckDB's generate_series gives — the "
    "CASE guard pins empty-array semantics on both. Reference "
    "analogue: none (no nested data); SURVEY §2.9's array extension "
    "surface.",
    tags=("relational",),
)
def op_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    n = (F.col("o_orderkey") % 4).cast("int")
    arr = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    # (generators can't nest inside expressions — cast in a second select)
    return o.select("o_orderkey", F.explode_outer(arr).alias("v")).select(
        "o_orderkey", F.col("v").cast("long").alias("v")
    )


# ---------------------------------------------------------------------------
# Multiset set-ops + null-safe equality (round 4, continuation)
# ---------------------------------------------------------------------------


@register(
    "op_set_ops_all",
    """
    WITH a AS (SELECT c_nationkey AS k FROM customer
               WHERE c_mktsegment = 'BUILDING'),
    b AS (SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 5000)
    SELECT 'union_all' AS op, k, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT k FROM a UNION ALL SELECT k FROM b) GROUP BY k
    UNION ALL
    SELECT 'except_all', k, CAST(COUNT(*) AS BIGINT)
    FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k
    UNION ALL
    SELECT 'intersect_all', k, CAST(COUNT(*) AS BIGINT)
    FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
    """,
    doc="set ops, MULTISET variants — UNION ALL / EXCEPT ALL / "
    "INTERSECT ALL preserve duplicate multiplicities (|A|+|B|, "
    "max(0, cnt_a-cnt_b), min(cnt_a, cnt_b) per value), which the "
    "distinct forms (op_set_union/except/intersect) silently collapse "
    "— the difference matters whenever rows are observations, not "
    "identities (bag-semantics reconciliation, audit diffs of "
    "duplicated feeds). Spark plans except/intersect-ALL as "
    "count-and-replicate aggregates, not joins; the per-key counts "
    "here pin the multiplicities across engines, not just membership. "
    "Scale: three partial-first aggregates on the same key, no "
    "distinct-expand.",
    tags=("relational",),
)
def op_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_nationkey").alias("k")
    )
    b = c.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_nationkey").alias("k")
    )

    def counted(df: DataFrame, op: str) -> DataFrame:
        return df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(op).alias("op"), "k", "n"
        )

    return (
        counted(a.unionAll(b), "union_all")
        .unionByName(counted(a.exceptAll(b), "except_all"))
        .unionByName(counted(a.intersectAll(b), "intersect_all"))
    )


@register(
    "op_null_safe_join",
    """
    WITH a AS (
        SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
        FROM customer WHERE c_custkey % 2 = 0),
    b AS (
        SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
        FROM customer WHERE c_custkey % 3 = 0)
    SELECT COALESCE(CAST(a.seg AS VARCHAR), '<null>') AS seg_key,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    GROUP BY 1
    """,
    doc="join family: NULL-SAFE equality (<=> / IS NOT DISTINCT FROM) — "
    "NULL keys MATCH each other instead of silently dropping, the "
    "semantics every dedup-by-nullable-column and CDC key-compare "
    "actually wants (plain = drops every NULL row from an inner join; "
    "the reference's J2 implicit-drop is that trap institutionalized). "
    "Spark plans <=> as an ordinary hash-join key (null-safe keys "
    "hash like values — no nested loop, unlike an OR-of-IS-NULL "
    "rewrite); the per-key pair counts pin that the NULL bucket "
    "really joined (segment 'BUILDING' maps to NULL on both sides). "
    "Scale: one equi-shuffle; the NULL bucket is a skew key by "
    "construction — AQE skew-split or pre-count it.",
    tags=("relational",),
)
def op_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    a = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", seg)
    b = c.filter(F.col("c_custkey") % 3 == 0).select("c_custkey", seg)
    return (
        a.join(b, a["seg"].eqNullSafe(b["seg"]))
        .groupBy(
            F.coalesce(a["seg"].cast("string"), F.lit("<null>")).alias(
                "seg_key"
            )
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "op_collation_group",
    """
    WITH mixed AS (
        SELECT CASE WHEN c_custkey % 2 = 1
                    THEN upper(substr(c_mktsegment, 1, 1))
                         || lower(substr(c_mktsegment, 2))
                    ELSE c_mktsegment END AS seg
        FROM customer)
    SELECT lower(seg) AS seg_lc, CAST(COUNT(*) AS BIGINT) AS n
    FROM mixed GROUP BY lower(seg)
    """,
    doc="Spark 4 collation surface: grouping under UTF8_LCASE — half the "
    "rows carry an Initcap'd segment, and the case-insensitive "
    "collation merges the variants into one group (the engine-level "
    "answer to the lower()-everywhere normalization smeared through "
    "ETL SQL; comparisons/joins/DISTINCT inherit the same rule once "
    "the column is collated). The emitted key is lower(representative) "
    "so the result is representative-choice-independent, and the "
    "DuckDB oracle IS the lower()-normalization rewrite — proving the "
    "two formulations equivalent. Scale: collation-aware grouping "
    "hashes the collation key directly (one partial-first aggregate), "
    "vs the rewrite's extra lower() projection — same shuffle either "
    "way; the win is semantic (no normalization drift across queries). "
    "Reference analogue: none (BigQuery CI collation was unused).",
    tags=("relational", "spark4"),
)
def op_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 1,
        F.concat(
            F.upper(F.substring("c_mktsegment", 1, 1)),
            F.lower(F.expr("substr(c_mktsegment, 2)")),
        ),
    ).otherwise(F.col("c_mktsegment"))
    return (
        c.select(F.collate(mixed, "UTF8_LCASE").alias("seg"))
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower(F.col("seg")).cast("string").alias("seg_lc"), "n")
    )


@register(
    "op_window_nth_value",
    """
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           nth_value(o_totalprice, 2) OVER w AS second_price,
           last_value(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS final_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="window family: positional navigation — first_value / "
    "nth_value(2) over the running frame and last_value over the FULL "
    "frame. Pins the frame trap every SQL author hits once: "
    "last_value under the DEFAULT frame (UNBOUNDED PRECEDING..CURRENT "
    "ROW) returns the CURRENT row, so the full-frame spec is spelled "
    "explicitly; nth_value is NULL until the frame holds n rows (the "
    "running-frame semantics both engines share). Deterministic "
    "(date, key) ordering; raw column values, no arithmetic — "
    "hash-exact. One exchange serves all three functions (same "
    "window spec family).",
    tags=("relational",),
)
def op_window_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    running = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(running).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(running).alias("second_price"),
        F.last("o_totalprice").over(full).alias("final_price"),
    )


# ---------------------------------------------------------------------------
# SQL UDFs (Spark 4 CREATE FUNCTION ... RETURN) — round 4, third continuation
# ---------------------------------------------------------------------------


@register(
    "op_sql_udf",
    """
    WITH bands AS (
        SELECT i AS band_id, i * 10 AS lo, (i + 1) * 10 AS hi
        FROM (SELECT UNNEST(range(0, 6)) AS i)),
    rev AS (
        SELECT l.l_partkey,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
                   AS rev_micro
        FROM lineitem l)
    SELECT b.band_id, b.lo, b.hi,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(r.rev_micro) AS BIGINT) AS DOUBLE) / 10000.0
               AS revenue
    FROM bands b
    JOIN part p ON p.p_size >= b.lo AND p.p_size < b.hi
    JOIN rev r ON r.l_partkey = p.p_partkey
    GROUP BY b.band_id, b.lo, b.hi
    """,
    doc="engine surface: SQL UDFs (Spark 4 CREATE OR REPLACE TEMPORARY "
    "FUNCTION ... RETURN, SPARK-44076) — BOTH kinds: a scalar function "
    "(exact discounted revenue in integer hundredths-of-a-cent: 2-dp "
    "price and discount become integers via ROUND(x*100), so every "
    "product and sum is exact — the tpch_q01 cents discipline packaged "
    "as a reusable function) and a TABLE function (parameterized size-"
    "band generator). Catalyst INLINES SQL UDF bodies into the calling "
    "plan at analysis time — the grouped aggregate over the scalar "
    "UDF's output is whole-stage-codegen'd integer arithmetic, no UDF "
    "call boundary survives (unlike Python UDFs, which pin a serialize/"
    "execute barrier into every row). That inlining is the whole point "
    "at 100 TB: shared business logic without paying an interpreter. "
    "Oracle inlines both bodies as plain SQL (DuckDB has no Spark SQL "
    "UDDL); band join is a broadcast of 5 rows; the fact aggregate is "
    "partial-first on the band key.",
    tags=("engine", "sqludf"),
)
def op_sql_udf(spark, sf_dir):
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION rev_micro(p DOUBLE, d DOUBLE)
        RETURNS BIGINT
        RETURN CAST(ROUND(p * 100) AS BIGINT)
               * (100 - CAST(ROUND(d * 100) AS BIGINT))
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION size_bands(width INT)
        RETURNS TABLE(band_id INT, lo INT, hi INT)
        RETURN SELECT i AS band_id, i * width AS lo, (i + 1) * width AS hi
               FROM (SELECT explode(sequence(0, CAST(50 / width AS INT))) AS i)
        """
    )
    cat = load_tables(spark, sf_dir)
    cat.table("part").createOrReplaceTempView("_sqludf_part")
    # layout-gated spread (r13): the inlined rev_micro integer arithmetic
    # is per-fact-row map CPU (0.78 -> 0.48 s at sf0.1 when the narrow
    # fixture layout serialized it; no-op on wide layouts).
    cat.spread("lineitem", "l_partkey").createOrReplaceTempView(
        "_sqludf_lineitem"
    )
    return spark.sql(
        """
        SELECT b.band_id, b.lo, b.hi,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(CAST(SUM(rev_micro(l.l_extendedprice, l.l_discount))
                         AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
        FROM size_bands(10) b
        JOIN _sqludf_part p ON p.p_size >= b.lo AND p.p_size < b.hi
        JOIN _sqludf_lineitem l ON l.l_partkey = p.p_partkey
        GROUP BY b.band_id, b.lo, b.hi
        """
    )


@register(
    "op_stack_long_format",
    """
    WITH long_rows AS (
        SELECT 'price' AS metric, o_totalprice AS val FROM orders
        UNION ALL
        SELECT 'key_mod', CAST(o_orderkey % 100 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'cust_mod', CAST(o_custkey % 50 AS DOUBLE) FROM orders)
    SELECT metric,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS DOUBLE) AS total
    FROM long_rows GROUP BY metric
    """,
    doc="engine surface: stack() generator — the wide-to-long pivot "
    "(three measure expressions become (metric, val) rows in ONE scan; "
    "the UNION ALL oracle form scans the table three times, which is "
    "exactly why stack exists at 100 TB). Decimal-exact sums, one "
    "final decimal->double conversion (verify-skill discipline). "
    "Scale: generator fan-out is 3x map-side, the aggregate is "
    "partial-first on a 3-value key — no shuffle grows with the "
    "fan-out.",
    tags=("engine", "generator"),
)
def op_stack_long_format(spark, sf_dir):
    o = load_tables(spark, sf_dir).table("orders")
    long_rows = o.select(
        F.expr(
            "stack(3, 'price', o_totalprice, "
            "'key_mod', CAST(o_orderkey % 100 AS DOUBLE), "
            "'cust_mod', CAST(o_custkey % 50 AS DOUBLE)) AS (metric, val)"
        )
    )
    return (
        long_rows.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total_d"),
        )
        .select(
            "metric",
            "n",
            F.col("total_d").cast("double").alias("total"),
        )
    )


@register(
    "op_constraint_check",
    """
    WITH agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END)
                    AS BIGINT) AS v_price_positive,
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                             THEN 1 ELSE 0 END) AS BIGINT) AS v_status_domain,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS v_custkey_not_null,
               CAST(SUM(CASE WHEN NOT (o_totalprice <= 250000.0)
                             THEN 1 ELSE 0 END) AS BIGINT) AS v_price_cap,
               CAST(SUM(CASE WHEN NOT (o_orderdate
                                       < TIMESTAMP '2000-01-01 00:00:00')
                             THEN 1 ELSE 0 END) AS BIGINT) AS v_date_before_y2k
        FROM orders)
    SELECT c.constraint_name, c.n_violations, a.n_rows,
           CAST(c.n_violations = 0 AS INT) AS passed
    FROM agg a CROSS JOIN LATERAL (
        SELECT 'price_positive' AS constraint_name,
               a.v_price_positive AS n_violations
        UNION ALL SELECT 'status_domain', a.v_status_domain
        UNION ALL SELECT 'custkey_not_null', a.v_custkey_not_null
        UNION ALL SELECT 'price_cap_250k', a.v_price_cap
        UNION ALL SELECT 'date_before_y2k', a.v_date_before_y2k) c
    """,
    doc="data contracts: declarative CHECK-constraint validation — five "
    "constraints evaluated in ONE scan as conditional aggregates. "
    "NULL predicate rows are NOT violations on either engine (ANSI "
    "CHECK semantics: NULL satisfies the constraint — which is why "
    "null-rejection must be its own explicit IS NOT NULL constraint, "
    "as custkey_not_null is here), then pivoted long via "
    "stack so the report is one row per constraint with its violation "
    "count and pass flag. Two constraints genuinely fail on the "
    "fixture (price cap 250k, date-before-2000) so the nonzero "
    "reporting path is exercised, three pass. This is the contract "
    "gate a lakehouse runs before publishing a table version — the "
    "row-level twin (WHICH rows failed) is quality.py's failed-rows "
    "store, and referential checks are wh_foreign_key_check. Scale: "
    "single partial-first aggregate, no shuffle beyond 1-row partials; "
    "adding a constraint adds a column, not a scan.",
    tags=("engine", "quality"),
)
def op_constraint_check(spark, sf_dir):
    o = load_tables(spark, sf_dir).table("orders")

    def violated(pred):
        return F.sum(F.when(~pred, 1).otherwise(0)).cast("long")

    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        violated(F.col("o_totalprice") > 0).alias("v_price_positive"),
        violated(F.col("o_orderstatus").isin("O", "F", "P")).alias(
            "v_status_domain"
        ),
        violated(F.col("o_custkey").isNotNull()).alias("v_custkey_not_null"),
        violated(F.col("o_totalprice") <= 250000.0).alias("v_price_cap"),
        violated(
            F.col("o_orderdate") < F.lit("2000-01-01 00:00:00").cast("timestamp")
        ).alias("v_date_before_y2k"),
    )
    long_rows = agg.select(
        F.expr(
            "stack(5, "
            "'price_positive', v_price_positive, "
            "'status_domain', v_status_domain, "
            "'custkey_not_null', v_custkey_not_null, "
            "'price_cap_250k', v_price_cap, "
            "'date_before_y2k', v_date_before_y2k) "
            "AS (constraint_name, n_violations)"
        ),
        "n_rows",
    )
    return long_rows.select(
        "constraint_name",
        "n_violations",
        "n_rows",
        (F.col("n_violations") == 0).cast("int").alias("passed"),
    )


@register(
    "op_map_in_arrow",
    r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits
    FROM documents
    """,
    doc="engine surface: mapInArrow — the zero-copy RecordBatch-level "
    "Python API (one step below mapInPandas: no pandas conversion, the "
    "UDF sees pyarrow.RecordBatch and answers with pyarrow.compute "
    "kernels, which are C++ SIMD loops — chars/words/digits per "
    "document here). Both engines run RE2-family regexes ('\\S+', "
    "'[0-9]'), and utf8_length matches SQL length() (codepoints, not "
    "bytes). When Python must touch columnar data wholesale, this is "
    "the cheapest lane: Arrow buffers pass through without a pandas "
    "materialization, and a pytest pins row-identical output against "
    "the pure-JVM built-in form (length/regexp_count). Scale: "
    "map-side only, no shuffle; batch size bounded by "
    "spark.sql.execution.arrow.maxRecordsPerBatch.",
    tags=("engine", "arrow"),
)
def op_map_in_arrow(spark, sf_dir):
    docs = load_tables(spark, sf_dir).table("documents").select("doc_id", "text")

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column(1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(
                        pc.count_substring_regex(text, r"\S+"), pa.int64()
                    ),
                    pc.cast(
                        pc.count_substring_regex(text, r"[0-9]"), pa.int64()
                    ),
                ],
                ["doc_id", "n_chars", "n_words", "n_digits"],
            )

    return docs.mapInArrow(
        run, "doc_id long, n_chars long, n_words long, n_digits long"
    )


@register(
    "op_udtf_polymorphic",
    """
    SELECT split_part(o_orderpriority, '-', 1) AS prio_rank,
           split_part(o_orderpriority, '-', 2) AS prio_label,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
    doc="engine surface: POLYMORPHIC Python UDTF (Spark 4 analyze-time "
    "schema, SPARK-44503) — the static analyze() method receives the "
    "constant argument n and BUILDS the output schema (part_0..part_"
    "{n-1}) before any data flows, so one UDTF serves every column "
    "count; the fixed-schema form is text_udtf_word_positions. Applied "
    "as a LATERAL join splitting o_orderpriority into (rank, label), "
    "then aggregated. For pure splitting the built-in split_part is "
    "the production path (the oracle IS that form) — the registered "
    "query exists to pin the analyze-time contract: isConstantExpression "
    "gating, literal capture, schema construction. Scale: per-row "
    "generator, map-side; the aggregate shuffles a 5-value key.",
    tags=("engine", "udtf"),
)
def op_udtf_polymorphic(spark, sf_dir):
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class SplitCols:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not n.isConstantExpression or n.value is None:
                raise ValueError("n must be a constant literal")
            schema = StructType()
            for i in range(int(n.value)):
                schema = schema.add(f"part_{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            parts = (text or "").split("-")
            yield tuple(
                (parts[i] if i < len(parts) else None) for i in range(n)
            )

    spark.udtf.register("split_cols_poly", SplitCols)
    load_tables(spark, sf_dir).table("orders").createOrReplaceTempView(
        "_udtf_orders"
    )
    return spark.sql(
        """
        SELECT sc.part_0 AS prio_rank, sc.part_1 AS prio_label,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM _udtf_orders, LATERAL split_cols_poly(o_orderpriority, 2) sc
        GROUP BY sc.part_0, sc.part_1
        """
    )


@register(
    "op_transpose_summary",
    """
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n_lines,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                         AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                         AS DECIMAL(18,2)) AS DOUBLE) AS sum_base
        FROM lineitem GROUP BY l_returnflag)
    SELECT 'n_lines' AS key,
           MAX(CASE WHEN l_returnflag = 'A' THEN n_lines END) AS A,
           MAX(CASE WHEN l_returnflag = 'N' THEN n_lines END) AS N,
           MAX(CASE WHEN l_returnflag = 'R' THEN n_lines END) AS R
    FROM s
    UNION ALL
    SELECT 'sum_qty',
           MAX(CASE WHEN l_returnflag = 'A' THEN sum_qty END),
           MAX(CASE WHEN l_returnflag = 'N' THEN sum_qty END),
           MAX(CASE WHEN l_returnflag = 'R' THEN sum_qty END)
    FROM s
    UNION ALL
    SELECT 'sum_base',
           MAX(CASE WHEN l_returnflag = 'A' THEN sum_base END),
           MAX(CASE WHEN l_returnflag = 'N' THEN sum_base END),
           MAX(CASE WHEN l_returnflag = 'R' THEN sum_base END)
    FROM s
    """,
    doc="engine surface: DataFrame.transpose (Spark 4.0, SPARK-47081) — "
    "rows become columns with the first column as the new header: the "
    "metrics-as-rows/segments-as-columns reporting shape analysts "
    "export. Transpose requires a least-common type across the "
    "transposed columns, so every metric is cast DOUBLE after "
    "decimal-exact accumulation (counts are exact in double to 2^53). "
    "The oracle spells the same reshape as conditional aggregates + "
    "UNION ALL — which is also the pre-4.0 fallback and the scale "
    "caveat in one: transpose COLLECTS the header column to the "
    "driver to mint column names, so it is a small-result reporting "
    "tool (3 groups here), never a wide-data operator; at 100 TB the "
    "aggregate runs distributed and only the tiny summary transposes.",
    tags=("engine",),
)
def op_transpose_summary(spark, sf_dir):
    li = load_tables(spark, sf_dir).table("lineitem")
    summary = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("sum_base"),
        )
        .orderBy("l_returnflag")
    )
    return summary.transpose()


@register(
    "op_pandas_api_groupby",
    """
    SELECT o_orderstatus,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
    doc="engine surface: the PANDAS API ON SPARK (pyspark.pandas) — the "
    "drop-in pandas dialect data scientists bring to the cluster: "
    "DataFrame.pandas_api() -> groupby().agg() with named aggregates "
    "-> to_spark(index_col=...), all lowering to the SAME Catalyst "
    "plan a native groupBy builds (distributed partial-first "
    "aggregate, no driver pandas anywhere despite the API's shape). "
    "Aggregates chosen for cross-engine exactness without summation: "
    "count, nunique (exact distinct), min/max of stored doubles "
    "(comparisons, not arithmetic). The scale caveat this surface "
    "hides: pandas-API operations that genuinely need total order "
    "(iloc, default RangeIndex-dependent ops) inject global sorts or "
    "single-partition windows — grouped/columnar usage like this stays "
    "fully distributed, and that distinction is the whole art of "
    "using the dialect at 100 TB.",
    tags=("engine", "pandas-api"),
)
def op_pandas_api_groupby(spark, sf_dir):
    o = load_tables(spark, sf_dir).table("orders")
    with warnings.catch_warnings():
        # pyspark.pandas' type inference converts np.character to a dtype,
        # which numpy deprecates: 55 warnings a build, none about this query
        warnings.filterwarnings(
            "ignore", "Converting `np.character` to a dtype", DeprecationWarning
        )
        out = o.pandas_api().groupby("o_orderstatus").agg(
            n=("o_orderkey", "count"),
            n_cust=("o_custkey", "nunique"),
            min_price=("o_totalprice", "min"),
            max_price=("o_totalprice", "max"),
        )
        return out.to_spark(index_col="o_orderstatus")
