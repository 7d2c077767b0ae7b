"""Classic warehouse analytics: an adapted TPC-H query family.

The driver's TPC-H-ish tables (TESTDATA.md) carry a reduced column set —
no partsupp, no l_commitdate/l_receiptdate/l_shipmode, no addresses — so
each query here is the canonical TPC-H shape adapted to the available
columns. They exercise the reference's join/agg/order semantics
(SURVEY.md §2.3/§2.5: fact→dim joins, grouped aggregation, HAVING,
EXISTS, top-k with deterministic ordering) at multi-table scale, the way
a BI user of the reference's star schema (models/report_*.sql) would.

Float discipline follows plans/star.py: accumulate SUM(double) through
DECIMAL(18,4) (exact, partition-order-free) and cast the FINAL aggregate
to DOUBLE on both engines; AVG = decimal-sum cast double / count.

100 TB design notes:
- only nation/region (size-FIXED: 25/5 rows at any SF) carry explicit
  ``broadcast()`` hints; supplier/part/customer scale linearly with the
  data, so their join strategy is left to size stats + AQE — at bench
  scale they broadcast anyway, at 100 TB they sort-merge (a hard-coded
  hint would OOM the build side there);
- every filter precedes its join so Catalyst pushes it into the parquet
  scan (PushedFilters on l_shipdate / o_orderdate / c_mktsegment ...);
- aggregations are partial-first (map-side combine) by construction;
  top-k uses TakeOrderedAndProject, never a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.session import persist_scoped
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables
from data_pipeline_4_online_retail_spark.plans.star import (
    revenue_col,
    sum_revenue_col,
    SUM_REVENUE_SQL,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir).table(name)


def _dec_sum(col: str) -> F.Column:
    """Exact (order-free) sum of a double column, emitted as double."""
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double")


def _dec_avg(col: str) -> F.Column:
    """AVG as decimal-sum cast double / count: one double division on
    identical operands → bit-identical across engines."""
    return _dec_sum(col) / F.count(F.lit(1))


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# Q1: pricing summary report — the canonical scan-heavy aggregate
# ---------------------------------------------------------------------------


@register(
    "tpch_q01",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_qty,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_base_price,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))
                    * (100 + CAST(round(l_tax * 100) AS BIGINT)))
                AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS avg_price,
           CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary: single-scan grouped aggregate over the "
    "fact table; 6 aggregates share one partial-agg pass. Scale: the "
    "shuffle carries <= |rf|x|ls| = 6 rows per map partition. Exactness "
    "discipline, v2: all money/qty columns are 2-dp, so they accumulate "
    "as INTEGER CENTS (round(x*100) longs; the 2- and 3-factor terms "
    "multiply the integer factors) with ONE final double division — "
    "bit-exact across engines like the previous DECIMAL form, but at "
    "long-sum speed (measured in-round: 2.24s -> ~0.5s at sf0.1; "
    "DECIMAL costs ~3x a long/double sum). Overflow headroom: the "
    "3-factor cell is < 1e11, so BIGINT sums hold to ~1e7 rows per "
    "group per partial — beyond that (true 100 TB groups) promote the "
    "charge term back to DECIMAL or pre-divide per-partial.",
    tags=("tpch",),
)
def tpch_q01(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # Integer-cents accumulation (see doc): every factor becomes an exact
    # long; products of longs are exact; one final double division per
    # output column, spelled identically in the oracle.
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_f = 100 - F.round(F.col("l_discount") * 100).cast("long")
    tax_f = 100 + F.round(F.col("l_tax") * 100).cast("long")
    cnt = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= _ts("2001-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c).cast("double") / 100.0).alias("sum_qty"),
            (F.sum(price_c).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(price_c * disc_f).cast("double") / 10000.0).alias(
                "sum_disc_price"
            ),
            (F.sum(price_c * disc_f * tax_f).cast("double") / 1000000.0).alias(
                "sum_charge"
            ),
            (F.sum(qty_c).cast("double") / 100.0 / cnt).alias("avg_qty"),
            (F.sum(price_c).cast("double") / 100.0 / cnt).alias("avg_price"),
            (
                F.sum(F.round(F.col("l_discount") * 100).cast("long")).cast(
                    "double"
                )
                / 100.0
                / cnt
            ).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q3: shipping priority (adapted: o_orderpriority stands in for the
# missing o_shippriority)
# ---------------------------------------------------------------------------


@register(
    "tpch_q03",
    f"""
    SELECT l_orderkey, {SUM_REVENUE_SQL} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate  > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shipping priority: selective dim filter → fact join → "
    "top-10. Deterministic tie-break (l_orderkey) pins the selected set. "
    "Scale: mktsegment filter collapses customer to 1/5 before the join; "
    "LIMIT runs as TakeOrderedAndProject, no global sort.",
    tags=("tpch",),
)
def tpch_q03(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < _ts("1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > _ts("1997-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum_revenue_col().alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q4: order priority checking (EXISTS → left-semi; adapted predicate:
# a line shipped after the order date, since l_commitdate is absent)
# ---------------------------------------------------------------------------


@register(
    "tpch_q04",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4: EXISTS decorrelated to a LEFT SEMI join (equi key + "
    "residual range predicate). Scale: the quarter filter prunes orders "
    "before the semi join; semi join emits no lineitem columns.",
    tags=("tpch",),
)
def tpch_q04(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-07-01"))
        & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q5: local supplier volume — the 6-way join
# ---------------------------------------------------------------------------


@register(
    "tpch_q05",
    f"""
    SELECT n_name, {SUM_REVENUE_SQL} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 local supplier volume: 6-way join with the local-supplier "
    "condition c_nationkey = s_nationkey. Scale: supplier/nation/region "
    "broadcast (size-fixed), so the only shuffles are the "
    "lineitem⋈orders⋈customer equi-joins; region filter prunes via the "
    "broadcast side.",
    tags=("tpch",),
)
def tpch_q05(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(
        _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(sum_revenue_col().alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# Q6: forecasting revenue change — pure pushed-filter scan
# ---------------------------------------------------------------------------


@register(
    "tpch_q06",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: every predicate pushes into the parquet scan "
    "(PushedFilters on shipdate/discount/quantity); single global "
    "aggregate, one row crosses the network per partition.",
    tags=("tpch",),
)
def tpch_q06(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q7: volume shipping between two nations
# ---------------------------------------------------------------------------


@register(
    "tpch_q07",
    f"""
    SELECT supp_nation, cust_nation, l_year, {SUM_REVENUE_SQL} AS revenue
    FROM (
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               EXTRACT(year FROM l.l_shipdate) AS l_year,
               l.l_extendedprice, l.l_discount
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
        JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
        WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 volume shipping: nation joined twice under different "
    "roles (supp/cust), symmetric OR pair predicate. Scale: both nation "
    "sides broadcast (size-fixed); supplier joins via stats/AQE; the OR "
    "pair predicate is evaluated right after the nation joins.",
    tags=("tpch",),
)
def tpch_q07(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    cn = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
        )
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum_revenue_col().alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q8: national market share (adapted: ECONOMY parts, AMERICA region)
# ---------------------------------------------------------------------------


@register(
    "tpch_q08",
    """
    SELECT o_year,
           CAST(SUM(CAST(CASE WHEN nation = 'NATION_3'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
    FROM (
        SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
               l.l_extendedprice, l.l_discount, sn.n_name AS nation
        FROM lineitem l
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN region r   ON cn.n_regionkey = r.r_regionkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 market share: conditional-sum ratio per year; the "
    "customer side restricts the market (region), the supplier side "
    "labels the share. Ratio = one double division of two decimal-exact "
    "sums → bit-identical across engines. Scale: part filter collapses "
    "the probe side 6×; nation/region broadcast (size-fixed), "
    "supplier/part via stats/AQE.",
    tags=("tpch",),
)
def tpch_q08(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cn = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
        )
    )
    region = F.broadcast(
        _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    )
    sn = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
        )
    )
    rev = revenue_col().cast("decimal(18,4)")
    national = F.when(F.col("nation") == "NATION_3", revenue_col()).otherwise(
        F.lit(0)
    ).cast("decimal(18,4)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .join(region, F.col("cn_region") == region.r_regionkey)
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            (F.sum(national).cast("double") / F.sum(rev).cast("double")).alias(
                "mkt_share"
            )
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q10: returned-item reporting — top 20 customers by lost revenue
# ---------------------------------------------------------------------------


@register(
    "tpch_q10",
    f"""
    SELECT c_custkey, c_name, {SUM_REVENUE_SQL} AS revenue,
           c_acctbal, n_name, c_mktsegment
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 returned items: quarter + returnflag filters push to "
    "both fact scans before the join; top-20 via TakeOrderedAndProject "
    "with c_custkey tie-break.",
    tags=("tpch",),
)
def tpch_q10(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-10-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(sum_revenue_col().alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q13: customer order-count distribution (LEFT OUTER + double group-by)
# ---------------------------------------------------------------------------


@register(
    "tpch_q13",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 customer distribution: LEFT OUTER join keeps order-less "
    "customers (c_count = 0), COUNT(col) ignores the null-extended rows; "
    "second aggregate collapses to a histogram. Scale: both group-bys are "
    "partial-first; the histogram shuffle is ≤ max-order-count rows.",
    tags=("tpch",),
)
def tpch_q13(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_custkey", "o_orderkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Q14: promotion effect — conditional-sum ratio
# ---------------------------------------------------------------------------


@register(
    "tpch_q14",
    """
    SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    doc="TPC-H Q14 promotion effect: month filter pushes into the fact "
    "scan; part joins via stats/AQE; single-row ratio of two "
    "decimal-exact sums "
    "(100.0 * a / b written identically on both engines).",
    tags=("tpch",),
)
def tpch_q14(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", revenue_col()).otherwise(F.lit(0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo.cast("decimal(18,4)")).cast("double")
                / F.sum(revenue_col().cast("decimal(18,4)")).cast("double")
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q15: top supplier (aggregate → max-of-aggregate → equality join)
# ---------------------------------------------------------------------------


@register(
    "tpch_q15",
    f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no, {SUM_REVENUE_SQL} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 top supplier: scalar-subquery max over a derived "
    "aggregate. Spark side: window MAX over the aggregate (one extra "
    "exchange over ~|suppliers| rows, no second scan of lineitem). "
    "Equality on doubles is safe: both engines derive the value from the "
    "same exact decimal sum.",
    tags=("tpch",),
)
def tpch_q15(spark, sf_dir):
    # r6: the max-revenue threshold rides a 1-row agg + broadcast
    # crossJoin over the scoped-persisted per-supplier frame instead of
    # Window.partitionBy() (which funneled the |suppliers|-sized frame
    # through one task); MAX is order-free, so bit-identical.
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    per_supp = persist_scoped(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            sum_revenue_col().alias("total_revenue")
        )
    )
    mx = per_supp.agg(F.max("total_revenue").alias("__mx"))
    revenue = (
        per_supp.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("__mx"))
        .drop("__mx")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(supp, revenue.supplier_no == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q17: small-quantity-order revenue (correlated avg → per-key join)
# ---------------------------------------------------------------------------


@register(
    "tpch_q17",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN (
        SELECT l_partkey AS a_partkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    ) a ON l.l_partkey = a.a_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < 0.2 * a.avg_qty
    """,
    doc="TPC-H Q17: correlated per-part AVG decorrelated to an aggregate + "
    "self-join (both engines compute avg as decimal-sum/count → the "
    "0.2*avg threshold is bit-identical). Scale: the per-part aggregate "
    "shuffles once on l_partkey and AQE reuses that partitioning for the "
    "join; the part filter collapses its side 25x first.",
    tags=("tpch",),
)
def tpch_q17(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = (
        _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1").select("p_partkey")
    )
    avg_qty = (
        li.groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg(_dec_avg("l_quantity").alias("avg_qty"))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == avg_qty.a_partkey)
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg((_dec_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q18: large-volume customers (HAVING over a fact aggregate)
# ---------------------------------------------------------------------------


@register(
    "tpch_q18",
    """
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 260
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    """,
    doc="TPC-H Q18 large-volume customers: HAVING-filtered semi-join "
    "(threshold 260 ≈ p99 of per-order quantity in this data). Scale: "
    "the per-orderkey aggregate emits only keys above threshold AND "
    "carries its quantity sum, so the fact table is scanned ONCE — "
    "the canonical double-scan (semi-filter, then re-aggregate the "
    "joined fact) is replaced by joining the ~1%-of-orders aggregate "
    "straight to orders⋈customer.",
    tags=("tpch",),
)
def tpch_q18(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # The HAVING aggregate already computed every surviving order's
    # quantity sum — carry it instead of re-joining lineitem and
    # re-aggregating (the canonical shape scans the fact twice; the
    # final GROUP BY is one row per order anyway since every other
    # group column is functionally dependent on o_orderkey). Decimal
    # sums make the carried value identical to a recompute.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
        .where(F.col("q") > 260)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("q").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q19: discounted revenue (OR-of-ANDs across two tables)
# ---------------------------------------------------------------------------


@register(
    "tpch_q19",
    f"""
    SELECT {SUM_REVENUE_SQL} AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19: disjunctive mixed-table predicate evaluated as a join "
    "residual. Scale: Catalyst extracts the common l_quantity/p_brand "
    "bounds; the 3-column part projection keeps the build side lean.",
    tags=("tpch",),
)
def tpch_q19(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")

    def block(brand: str, max_size: int, qlo: int, qhi: int) -> F.Column:
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(qlo, qhi)
        )

    cond = (
        block("Brand#1", 15, 1, 11)
        | block("Brand#2", 20, 10, 20)
        | block("Brand#3", 25, 20, 30)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(sum_revenue_col().alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q12: shipping-delay priority classes (adapted: l_returnflag stands in
# for the missing l_shipmode; "late" = shipped after the order date)
# ---------------------------------------------------------------------------


@register(
    "tpch_q12",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_shipdate > o_orderdate
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="TPC-H Q12: conditional counts over a fact-fact join with a "
    "cross-table residual (l_shipdate > o_orderdate). Scale: the year "
    "filter pushes into the lineitem scan; the join shuffles on "
    "orderkey once; both CASE counts share one aggregate pass.",
    tags=("tpch",),
)
def tpch_q12(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q22: global sales opportunity (adapted: nations stand in for phone
# country codes) — scalar subquery threshold + NOT EXISTS anti-join
# ---------------------------------------------------------------------------


@register(
    "tpch_q22",
    """
    SELECT n_name AS cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
           AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1','NATION_2','NATION_3',
                     'NATION_4','NATION_5','NATION_6','NATION_7')
      AND c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(*)
          FROM customer
          WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
    ORDER BY cntrycode
    """,
    doc="TPC-H Q22 (adapted: 'no recent orders' — every synthetic "
    "customer has SOME order, so the original no-orders-ever predicate "
    "selects nothing): scalar-subquery threshold (avg positive balance, "
    "decimal-exact on both engines) + NOT EXISTS → LEFT ANTI join. "
    "Scale: the 1-row threshold broadcasts (whitelisted 1-row "
    "crossJoin); the anti join ships only o_custkey; nation broadcasts.",
    tags=("tpch",),
)
def tpch_q22(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(
        _t(spark, sf_dir, "nation").where(
            F.col("n_name").isin(*[f"NATION_{i}" for i in range(1, 8)])
        )
    )
    threshold = (
        cust.where(F.col("c_acctbal") > 0.0)
        .agg(_dec_avg("c_acctbal").alias("avg_bal"))
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= _ts("2000-01-01"))
        .select("o_custkey")
    )
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .crossJoin(F.broadcast(threshold))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("n_name").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dec_sum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------------------
# Q9: product-type profit (adapted: cost basis 0.6 * p_retailprice since
# partsupp/ps_supplycost is absent — a declared synthetic cost model)
# ---------------------------------------------------------------------------


@register(
    "tpch_q09",
    """
    SELECT nation, o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))
                    - CAST(p_retailprice AS DECIMAL(14,2))
                      * CAST(l_quantity AS DECIMAL(14,2))
                      * CAST(0.6 AS DECIMAL(2,1))) AS DOUBLE) AS sum_profit
    FROM (
        SELECT sn.n_name AS nation,
               EXTRACT(year FROM o.o_orderdate) AS o_year,
               l.l_extendedprice, l.l_discount, l.l_quantity, p.p_retailprice
        FROM lineitem l
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE p.p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 profit: revenue minus cost per (supplier nation, order "
    "year). All profit arithmetic runs in exact DECIMAL (2-dp factor "
    "casts are tie-free, decimal multiply/subtract exact) so both "
    "engines sum identical values. Scale: the p_name filter collapses "
    "part ~8x before its join; the one wide shuffle is "
    "lineitem⋈orders on orderkey.",
    tags=("tpch",),
)
def tpch_q09(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sn = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
        )
    )
    profit = (
        F.col("l_extendedprice").cast("decimal(14,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
        - F.col("p_retailprice").cast("decimal(14,2)")
        * F.col("l_quantity").cast("decimal(14,2)")
        * F.lit(0.6).cast("decimal(2,1)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("nation", "o_year")
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q21: suppliers who kept orders waiting (adapted: "late" = shipped more
# than 45 days after the order date, since receipt/commit dates are
# absent). The oracle keeps the canonical double-correlated
# EXISTS / NOT EXISTS; the Spark side is its decorrelated aggregate
# form — per order: >1 distinct suppliers, exactly 1 with a late line.
# ---------------------------------------------------------------------------


@register(
    "tpch_q21",
    """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND o3.o_orderkey = l3.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 45 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
    doc="TPC-H Q21 waiting suppliers: the canonical double-correlated "
    "EXISTS/NOT-EXISTS (oracle) decorrelated to ONE per-order aggregate "
    "on the Spark side — n_distinct_suppliers > 1 AND exactly one "
    "supplier late means that supplier uniquely kept the order waiting. "
    "A supplier with several late lines in one order counts once per "
    "LINE in the canonical form, so the aggregate carries n_late_lines. "
    "Scale: one (order, supplier) shuffle replaces three correlated "
    "probes of the fact table, and the two-level grouping avoids the "
    "EXPAND a multi-COUNT(DISTINCT) pass would shuffle.",
    tags=("tpch",),
)
def tpch_q21(spark, sf_dir):
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAY"),
    )
    # Two-level aggregate instead of two COUNT(DISTINCT)s in one pass:
    # multiple distinct aggregates plan as an EXPAND (3x the rows into
    # the shuffle); grouping to (order, supplier) first then to order
    # shuffles each row once and the second aggregate runs over the
    # already-tiny pair table (measured 1.4x at sf0.1).
    per_pair = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("n_late_pair")
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.when(F.col("n_late_pair") > 0, 1).otherwise(0)).alias(
            "n_late_supp"
        ),
        F.max(F.when(F.col("n_late_pair") > 0, F.col("l_suppkey"))).alias(
            "the_late_supp"
        ),
        F.sum("n_late_pair").alias("n_late_lines"),
    )
    waits = per_order.where(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waits.join(supp, waits.the_late_supp == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


# ---------------------------------------------------------------------------
# Q2/Q11/Q16/Q20 — the four queries canonical TPC-H builds on partsupp.
# partsupp is absent from the fixture, but lineitem carries the actual
# (l_partkey, l_suppkey) supply relation, so each query below derives the
# partsupp stand-in from it (declared adaptation, same spirit as Q9's
# synthetic cost model):
#   ps_supplycost := MIN(l_extendedprice) per pair  (supplier-varying,
#                    deterministic, no arithmetic — exact both engines)
#   ps_availqty   := SUM(l_quantity) per pair, in DECIMAL
# The derivation is ONE extra aggregate over the fact (partial-agg,
# orderkey-free shuffle on the pair key) — at 100 TB you'd materialize it
# once (bucketed by ps_partkey) rather than re-derive per query.
# ---------------------------------------------------------------------------

_PS_COST_CTE = """
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           MIN(l_extendedprice) AS ps_supplycost
    FROM lineitem GROUP BY 1, 2
"""


@register(
    "tpch_q02",
    f"""
    WITH ps AS ({_PS_COST_CTE}),
    eu AS (
        SELECT ps_partkey, ps_suppkey, ps_supplycost, s_name, s_acctbal, n_name
        FROM ps
        JOIN supplier ON ps_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE')
    SELECT s_acctbal, s_name, n_name,
           p_partkey, p_retailprice, ps_supplycost
    FROM eu JOIN part ON ps_partkey = p_partkey
    WHERE p_type = 'ECONOMY' AND p_size < 15
      AND ps_supplycost = (SELECT MIN(e2.ps_supplycost) FROM eu e2
                           WHERE e2.ps_partkey = eu.ps_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 minimum-cost supplier: for each qualifying part, the "
    "EUROPE supplier with the lowest supply cost. Oracle keeps the "
    "canonical correlated scalar subquery; the Spark side decorrelates "
    "it into a per-part window MIN over the region-restricted pair set "
    "— one exchange on ps_partkey serves both the min and the filter. "
    "Raw column output (no arithmetic): hash-exact. Scale: BOTH "
    "restrictions are on pair keys, so they push below the pair-cost "
    "aggregation as pair-preserving semi-joins (the aggregate reads "
    "the European-economy slice of the fact, measured 1.7x at sf0.1); "
    "supplier attributes join after the per-part min filter (r10 — "
    "sf0.1 0.80 -> 0.62 s, sf100 on the partkey projection 5-6 s with "
    "two fewer exchanges, SCALING §r10); top-100 is "
    "TakeOrderedAndProject with a full deterministic tie-break.",
    tags=("tpch",),
)
def tpch_q02(spark, sf_dir):
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nat = F.broadcast(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    )
    reg = F.broadcast(
        _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    )
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") < 15)
    ).select("p_partkey", "p_retailprice")

    # Both restrictions are on the PAIR KEYS, so they push below the
    # pair-cost aggregation as left-semi joins (pair-preserving: the
    # per-pair MIN is computed within each surviving (part, supplier)
    # group either way, and the per-part window MIN only ever ranged
    # over European suppliers of qualifying parts). The aggregate then
    # reads the European-economy fraction of the fact, not all of it.
    eu_supp = supp.join(nat, F.col("s_nationkey") == F.col("n_nationkey")).join(
        reg, F.col("n_regionkey") == F.col("r_regionkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    # Semi-join order: PARTKEY first, suppkey second. The two semis
    # commute (both are pure filters), but the partkey semi is the more
    # selective one AND it preserves a partkey-clustered fact layout all
    # the way into the (partkey, suppkey) pair aggregation and the
    # per-part window below — hash-partitioning on partkey satisfies
    # both. With the suppkey semi first, the fact is re-exchanged by
    # suppkey before any partkey work and the layout is wasted
    # (measured at the sf100 replica: 38.8 -> 5.3 s on the partkey
    # projection, and 40.9 -> 37.1 s even on plain parquet because the
    # more selective semi now prunes first — SCALING §r9).
    li_f = li.join(
        part.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi"
    ).join(
        eu_supp.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"), "left_semi"
    )
    ps = li_f.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min("l_extendedprice").alias("ps_supplycost"))
    # Supplier attributes join AFTER the per-part min filter, not before
    # (r10; SCALING §r10). The suppkey semi above already restricts ps to
    # European suppliers and s_suppkey is unique, so the window MIN over
    # bare ps equals the old MIN over ps⋈supplier — but the join now
    # touches only the min-cost winners (≈|qualifying parts| rows)
    # instead of every pair: the pair-sized suppkey exchange AND the
    # window's partkey re-exchange both disappear. eu_supp is dim-sized
    # at every SF (supplier ∩ EUROPE), hence broadcast.
    w = Window.partitionBy("ps_partkey")
    best = ps.withColumn("min_cost", F.min("ps_supplycost").over(w)).where(
        F.col("ps_supplycost") == F.col("min_cost")
    )
    return (
        best.join(
            F.broadcast(eu_supp), best.ps_suppkey == eu_supp.s_suppkey
        )
        .join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name",
            "p_partkey", "p_retailprice", "ps_supplycost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "tpch_q11",
    """
    WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DECIMAL(18,2))
                   AS ps_availqty,
               MIN(l_extendedprice) AS ps_supplycost
        FROM lineitem GROUP BY 1, 2),
    nat AS (
        SELECT ps_partkey,
               SUM(CAST(ps_supplycost AS DECIMAL(14,2)) * ps_availqty)
                   AS value_dec
        FROM ps JOIN supplier ON ps_suppkey = s_suppkey
                JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY ps_partkey)
    SELECT ps_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM nat
    WHERE CAST(value_dec AS DOUBLE)
              > (SELECT CAST(SUM(value_dec) AS DOUBLE) * 0.0001 FROM nat)
    ORDER BY part_value DESC, ps_partkey
    """,
    doc="TPC-H Q11 important stock: per-part inventory value for one "
    "nation's suppliers, kept when above a fraction of the nation "
    "total. cost*qty runs entirely in DECIMAL (exact, order-free); the "
    "threshold compares identically-derived doubles on both engines. "
    "Spark side: the nation filter pushes below the pair aggregation "
    "as a broadcast semi-join on l_suppkey (pair-preserving), and the "
    "scalar total is a global window over the per-part frame — one "
    "pass, no recompute fork, no BNLJ. Scale: the wide groupBy reads "
    "~1/25th of lineitem; the only global window runs over |parts| "
    "rows.",
    tags=("tpch",),
)
def tpch_q11(spark, sf_dir):
    # Perf shape (measured in-round: 4.5s -> see NOTES_r4): (1) the
    # nation filter pushes BELOW the pair aggregation as a broadcast
    # semi-join on l_suppkey — legal because each (partkey, suppkey)
    # pair has a single supplier, so dropping other nations' rows never
    # splits a pair; the wide groupBy then reads ~1/25th of lineitem.
    # (2) r6: the threshold comes from a 1-row agg + broadcast crossJoin
    # over the SCOPED-PERSISTED per-part frame — single evaluation of
    # the pair aggregation (the r4 concern that motivated the window)
    # without Window.partitionBy() funneling the |parts|-sized frame
    # through one task; DECIMAL sums are order-free, so the threshold is
    # bit-identical to the window form.
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = F.broadcast(
        _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    )
    nat_supp = supp.join(
        nat, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    ).select("s_suppkey")
    li_nat = li.join(
        F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"), "left_semi"
    )
    ps = li_nat.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(14,2)"))
        .cast("decimal(18,2)")
        .alias("ps_availqty"),
        F.min("l_extendedprice").alias("ps_supplycost"),
    )
    vals = persist_scoped(
        ps.groupBy("ps_partkey").agg(
            F.sum(
                F.col("ps_supplycost").cast("decimal(14,2)")
                * F.col("ps_availqty")
            ).alias("value_dec")
        )
    )
    tot = vals.agg(F.sum("value_dec").alias("__tot"))
    return (
        vals.crossJoin(F.broadcast(tot))
        .withColumn(
            "threshold", F.col("__tot").cast("double") * F.lit(0.0001)
        )
        .where(F.col("value_dec").cast("double") > F.col("threshold"))
        .select(
            "ps_partkey", F.col("value_dec").cast("double").alias("part_value")
        )
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


@register(
    "tpch_q16",
    """
    WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey,
                                l_suppkey AS ps_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part ON ps_partkey = p_partkey
    WHERE NOT (p_brand = 'Brand#15' AND p_type = 'ECONOMY')
      AND p_size IN (2, 5, 11, 28, 37, 44, 49, 50)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                             WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 supplier counts by part class: distinct suppliers per "
    "(brand, type, size) excluding one brand/type combo and suppliers "
    "on a deny list (adapted: negative account balance stands in for "
    "the absent comment-column complaint filter; the NOT-IN subquery "
    "shape is preserved — Spark plans it as a left-anti join). Scale: "
    "the part filters prune before the join; COUNT(DISTINCT) expands "
    "to a two-phase aggregate on (class, suppkey) then (class).",
    tags=("tpch",),
)
def tpch_q16(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        ~((F.col("p_brand") == "Brand#15") & (F.col("p_type") == "ECONOMY"))
        & F.col("p_size").isin(2, 5, 11, 28, 37, 44, 49, 50)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    # The part-class filter joins BELOW the pair-distinct: only the ~8/50
    # sizes survive, so the DISTINCT dedups the filtered fraction of the
    # fact instead of every (part, supplier) pair (measured 1.9x at
    # sf0.1). Projecting the class columns through the join also removes
    # the post-distinct part re-join the canonical shape needs.
    ps = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    bad_supp = _t(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    return (
        ps.join(bad_supp, "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q20",
    """
    WITH pairstats AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DECIMAL(18,2))
                   AS total_qty,
               CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1999-01-01'
                              AND l_shipdate <  TIMESTAMP '2000-01-01'
                             THEN CAST(l_quantity AS DECIMAL(14,2))
                             ELSE CAST(0 AS DECIMAL(14,2)) END)
                    AS DECIMAL(18,2)) AS recent_qty
        FROM lineitem GROUP BY 1, 2),
    excess AS (
        SELECT DISTINCT l_suppkey
        FROM pairstats JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'red%'
          AND recent_qty * 2 > total_qty)
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (SELECT l_suppkey FROM excess)
    ORDER BY s_name
    """,
    doc="TPC-H Q20 concentrated suppliers (adapted): suppliers of 'red' "
    "parts in one nation whose 1999 shipment quantity exceeds half "
    "their all-time quantity for that part — the canonical "
    "availqty-vs-half-year-demand correlation recast onto the derived "
    "pair stats (both aggregates computed in ONE conditional-sum pass, "
    "exact DECIMAL, no join of two aggregates). The IN subquery is a "
    "left-semi join. Scale: the red-part restriction pushes below the "
    "pair aggregation as a pair-preserving semi-join (the aggregate "
    "reads only the red fraction of the fact — measured 2.2x at "
    "sf0.1), then a single pair-key shuffle; nation filters prune "
    "before joins.",
    tags=("tpch",),
)
def tpch_q20(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # The red-part restriction pushes BELOW the pair aggregation as a
    # left-semi join (pair-preserving: l_partkey is a group key, so
    # filtering on it never changes a surviving pair's sums) — the
    # aggregate's input shrinks to the red fraction of the fact. AQE
    # picks the join strategy (broadcast here; SMJ on l_partkey at
    # scale, whose partitioning the pair aggregate then reuses).
    red0 = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = li.join(red0, li.l_partkey == red0.p_partkey, "left_semi")
    recent = (
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    pairstats = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(14,2)"))
        .cast("decimal(18,2)")
        .alias("total_qty"),
        F.sum(
            F.when(recent, F.col("l_quantity").cast("decimal(14,2)")).otherwise(
                F.lit(0).cast("decimal(14,2)")
            )
        )
        .cast("decimal(18,2)")
        .alias("recent_qty"),
    )
    # (the oracle's pairstats⋈red join is subsumed by the pushed semi
    # above: every surviving pair already references a red part)
    excess = (
        pairstats.where(F.col("recent_qty") * 2 > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier")
    nat = F.broadcast(
        _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    )
    return (
        supp.join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(excess, supp.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )
