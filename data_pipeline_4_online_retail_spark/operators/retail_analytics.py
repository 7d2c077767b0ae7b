"""Retail-domain analytics extensions: RFM segmentation and
market-basket co-occurrence.

The reference pipeline's report models (report_customer_invoices.sql,
report_product_invoices.sql — /root/reference/include/model/) stop at
per-entity invoice counts and revenue sums. These operators add the two
classic next steps a retail warehouse builds on exactly those tables:
customer RFM scoring and product co-purchase affinity.

Scale notes are per-operator; both are single-shuffle shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.session import persist_scoped
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

MIN_PAIR_SUPPORT = 3


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir).table(name)


@register(
    "op_rfm_segments",
    """
    WITH per_cust AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
        FROM orders GROUP BY o_custkey)
    SELECT o_custkey, last_order, frequency, monetary,
           CAST(NTILE(4) OVER (ORDER BY last_order DESC, o_custkey) AS INT)
               AS r_score,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS INT)
               AS f_score,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS INT)
               AS m_score
    FROM per_cust
    """,
    doc="retail analytics: RFM (recency/frequency/monetary) customer "
    "segmentation over orders — one aggregate per customer, then three "
    "quartile scores (ntile with deterministic custkey tie-breaks; "
    "score 1 = best). Monetary accumulates in DECIMAL then casts out "
    "(the engine-exact discipline). Scale: one shuffle on o_custkey for "
    "the aggregate; the ntile windows are global single-partition sorts "
    "over the CUSTOMER-level frame (|customers| << |orders|) — at 100 TB "
    "replace with percentile-bound scoring (approx_percentile cutoffs "
    "broadcast back, map-side CASE), which this module's pytest "
    "cross-checks as agreeing on quartile boundaries.",
    tags=("retail",),
)
def op_rfm_segments(spark, sf_dir):
    # r6: the three exact-quartile ntiles ran |customers| rows through ONE
    # task each (unpartitioned WindowExec); global_ntile decomposes each
    # into a range-bucketed count prefix + closed-form tile arithmetic —
    # bit-identical outputs (ntile is a pure function of position and
    # count), one parallel exchange per dimension. The sketch-cutoff
    # production variant remains op_rfm_segments_approx.
    from data_pipeline_4_online_retail_spark.functions.prefix import global_ntile

    o = _t(spark, sf_dir, "orders")
    # persist + count once: the EXACT row count routes all three ntiles
    # (rows_hint) — Catalyst's byte estimate passes the orders-scan size
    # through the aggregate and would force the decomposition a decade
    # before the |customers| crossover (sf10 probe: 28 s decomposed vs
    # ~7 s plain for a 1.5M-row frame)
    per_cust = persist_scoped(
        o.groupBy("o_custkey").agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    n_cust = per_cust.count()
    scored = global_ntile(
        per_cust,
        [F.desc("last_order"), F.asc("o_custkey")],
        4,
        -F.unix_micros(F.col("last_order")),
        out_name="r_score",
        salt_expr=F.col("o_custkey"),
        rows_hint=n_cust,
    )
    scored = global_ntile(
        scored,
        [F.desc("frequency"), F.asc("o_custkey")],
        4,
        -F.col("frequency"),
        out_name="f_score",
        salt_expr=F.col("o_custkey"),
        rows_hint=n_cust,
    )
    scored = global_ntile(
        scored,
        [F.desc("monetary"), F.asc("o_custkey")],
        4,
        -F.col("monetary"),
        out_name="m_score",
        salt_expr=F.col("o_custkey"),
        rows_hint=n_cust,
    )
    return scored.select(
        "o_custkey",
        "last_order",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
    )


_RFM_QS = (0.25, 0.5, 0.75)
_RFM_DELTA = 0.02  # rank tolerance: approx cutoff must land between the
# exact continuous quantiles at q±delta


def _rfm_approx_oracle() -> str:
    """9-branch UNION ALL: each (dimension, q) flag re-derived with
    DuckDB's own approx_quantile vs its own exact quantile_cont envelope."""
    dims = {
        "recency_us": "rec_us",
        "frequency": "frequency",
        "monetary": "monetary",
    }
    branches = []
    for dim, col in dims.items():
        for q in _RFM_QS:
            lo, hi = q - _RFM_DELTA, q + _RFM_DELTA
            branches.append(
                f"SELECT '{dim}' AS dimension, CAST({q} AS DOUBLE) AS q,\n"
                f"  CAST(approx_quantile({col}, {q})\n"
                f"       BETWEEN quantile_cont({col}, {lo})\n"
                f"           AND quantile_cont({col}, {hi}) AS INT)\n"
                f"       AS within_bound,\n"
                f"  CAST(COUNT(*) AS BIGINT) AS n_customers\n"
                f"FROM per_cust"
            )
    body = "\n    UNION ALL\n    ".join(branches)
    return f"""
    WITH per_cust AS (
        SELECT o_custkey,
               epoch_us(CAST(MAX(o_orderdate) AS TIMESTAMP)) AS rec_us,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
        FROM orders GROUP BY o_custkey)
    {body}
    """


@register(
    "op_rfm_segments_approx",
    _rfm_approx_oracle(),
    doc="retail analytics: the PRODUCTION (scale-safe) variant of "
    "op_rfm_segments' quartile machinery — approx_percentile cutoffs "
    "computed in ONE pass over the per-customer aggregate (fixed-size "
    "mergeable sketches; no |customers|-row single-partition ntile "
    "sort), the cutoffs each engine would broadcast back for map-side "
    "CASE scoring. Sketch values differ across engines, so the "
    "hash-checked contract follows op_agg_approx_distinct: each engine "
    "compares its OWN approx cutoff against its OWN exact continuous "
    "quantiles at q±2% rank and emits within_bound per (dimension, "
    "quartile) — 9 rows; a drifting sketch flips a flag and reds the "
    "driver row. n_customers (exact, engine-identical) anchors the "
    "hash. The cutoff→ntile scoring agreement itself is pinned by "
    "tests/test_r4b_ops.py::"
    "test_rfm_ntile_agrees_with_percentile_cutoff_path. Recency uses "
    "epoch-microseconds of the last order (timestamps aren't "
    "percentile-able directly on either engine).",
    tags=("retail",),
)
def op_rfm_segments_approx(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.unix_micros(F.max("o_orderdate")).alias("rec_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    qs = list(_RFM_QS)
    env = [q - _RFM_DELTA for q in qs] + [q + _RFM_DELTA for q in qs]
    aggs = [F.count(F.lit(1)).alias("n_customers")]
    for col in ("rec_us", "frequency", "monetary"):
        aggs.append(F.percentile_approx(col, qs, 10000).alias(f"__a_{col}"))
        aggs.append(F.percentile(col, env).alias(f"__e_{col}"))
    stats = per_cust.agg(*aggs)
    dim_names = {
        "rec_us": "recency_us",
        "frequency": "frequency",
        "monetary": "monetary",
    }
    rows = []
    for col, dim in dim_names.items():
        for i, q in enumerate(qs):
            approx = F.col(f"__a_{col}")[i].cast("double")
            lo = F.col(f"__e_{col}")[i]
            hi = F.col(f"__e_{col}")[i + len(qs)]
            rows.append(
                F.struct(
                    F.lit(dim).alias("dimension"),
                    F.lit(float(q)).alias("q"),
                    ((approx >= lo) & (approx <= hi))
                    .cast("int")
                    .alias("within_bound"),
                    F.col("n_customers").cast("long").alias("n_customers"),
                )
            )
    return stats.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


@register(
    "op_market_basket_pairs",
    f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM basket GROUP BY l_partkey),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS pair_orders
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2)
    SELECT part_a, part_b, pair_orders,
           fa.n_orders AS orders_a, fb.n_orders AS orders_b,
           CAST(pair_orders AS DOUBLE) / CAST(fa.n_orders AS DOUBLE)
               AS confidence_a_to_b
    FROM pairs
    JOIN freq fa ON part_a = fa.l_partkey
    JOIN freq fb ON part_b = fb.l_partkey
    WHERE pair_orders >= {MIN_PAIR_SUPPORT}
    """,
    doc="retail analytics: market-basket co-occurrence — part pairs "
    "bought in the same order, with support counts and "
    "confidence(a->b) = P(b in basket | a in basket). The quadratic "
    "term is per-basket (self-join on l_orderkey after DISTINCT "
    "basket rows), so cost is sum_orders(basket_size^2) — basket sizes "
    "are bounded (~7 lines), NOT corpus-sized; the orderkey equi-join "
    "hash-partitions cleanly at 100 TB. The confidence ratio divides "
    "two exact integers (IEEE-exact, engine-identical). Min-support "
    "pruning cuts the output long before the frequency joins.",
    tags=("retail",),
)
def op_market_basket_pairs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # okey-repartition before distinct: hashpartitioning(l_orderkey)
    # satisfies the two-column distinct AND co-partitions the pair
    # self-join — one fact exchange instead of two (the triangle-count
    # sf10 A/B measured 110 -> 39 s for the shared subtree shape).
    basket = (
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
    )
    freq = basket.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders"))
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .filter(F.col("pair_orders") >= MIN_PAIR_SUPPORT)
    )
    fa = freq.select(
        F.col("l_partkey").alias("part_a"), F.col("n_orders").alias("orders_a")
    )
    fb = freq.select(
        F.col("l_partkey").alias("part_b"), F.col("n_orders").alias("orders_b")
    )
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            "orders_a",
            "orders_b",
            (
                F.col("pair_orders").cast("double")
                / F.col("orders_a").cast("double")
            ).alias("confidence_a_to_b"),
        )
    )


# ---------------------------------------------------------------------------
# Price-volume-mix revenue bridge (round 4, third continuation)
# ---------------------------------------------------------------------------

BRIDGE_SPLIT = "1998-01-01 00:00:00"  # period A: before; period B: at/after


@register(
    "op_revenue_bridge",
    f"""
    WITH lines AS (
        SELECT l.l_partkey,
               CASE WHEN o.o_orderdate < TIMESTAMP '{BRIDGE_SPLIT}'
                    THEN 'a' ELSE 'b' END AS period,
               CAST(l.l_quantity AS DECIMAL(18,2)) AS qty,
               CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * CAST(1 - l.l_discount AS DECIMAL(4,2)) AS rev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    per AS (
        SELECT l_partkey, period,
               CAST(SUM(qty) AS DOUBLE) AS q,
               CAST(SUM(rev) AS DOUBLE) AS r
        FROM lines GROUP BY l_partkey, period),
    wide AS (
        SELECT COALESCE(a.l_partkey, b.l_partkey) AS part_id,
               COALESCE(a.q, 0.0) AS q_a, COALESCE(a.r, 0.0) AS r_a,
               COALESCE(b.q, 0.0) AS q_b, COALESCE(b.r, 0.0) AS r_b
        FROM (SELECT * FROM per WHERE period = 'a') a
        FULL OUTER JOIN (SELECT * FROM per WHERE period = 'b') b
          ON a.l_partkey = b.l_partkey)
    SELECT part_id,
           CASE WHEN q_a = 0 THEN 'new'
                WHEN q_b = 0 THEN 'discontinued'
                ELSE 'continuing' END AS segment,
           q_a, r_a, q_b, r_b,
           r_b - r_a AS delta,
           CASE WHEN q_a = 0 OR q_b = 0 THEN r_b - r_a
                ELSE (q_b - q_a) * (r_a / q_a) END AS volume_effect,
           CASE WHEN q_a = 0 OR q_b = 0 THEN 0.0
                ELSE (r_b / q_b - r_a / q_a) * q_b END AS price_effect
    FROM wide
    """,
    doc="retail analytics: period-over-period REVENUE BRIDGE (price/"
    "volume/mix decomposition, the FP&A waterfall): per part, delta "
    "revenue between the pre/post-1998 periods splits into a volume "
    "effect at old prices ((q_b - q_a) * p_a) and a price effect at "
    "new volume ((p_b - p_a) * q_b) — algebraically these sum to "
    "delta; in IEEE arithmetic the unit prices are rounded quotients, "
    "so the identity holds to relative rounding error (~1e-12, pytest "
    "asserts 1e-9) while the CROSS-ENGINE values are bit-identical "
    "(same operand order both engines). New/discontinued parts get "
    "their whole delta as volume "
    "(no price to compare). Exactness: quantities and revenue "
    "accumulate in DECIMAL, ONE cast to double per aggregate, then "
    "only per-row IEEE arithmetic — no double summation anywhere. "
    "Scale: one fact scan, one (part, period) partial-first aggregate, "
    "a self-join on |parts| rows; the per-part grain IS the mix story "
    "(roll up the effect columns for the headline bridge).",
    tags=("retail",),
)
def op_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li = cat.table("lineitem")
    o = cat.table("orders").select("o_orderkey", "o_orderdate")
    lines = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_partkey",
        F.when(
            F.col("o_orderdate") < F.lit(BRIDGE_SPLIT).cast("timestamp"), "a"
        )
        .otherwise("b")
        .alias("period"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
        ).alias("rev"),
    )
    per = lines.groupBy("l_partkey", "period").agg(
        F.sum("qty").cast("double").alias("q"),
        F.sum("rev").cast("double").alias("r"),
    )
    a = per.filter(F.col("period") == "a").alias("a")
    b = per.filter(F.col("period") == "b").alias("b")
    wide = a.join(
        b, F.col("a.l_partkey") == F.col("b.l_partkey"), "full_outer"
    ).select(
        F.coalesce("a.l_partkey", "b.l_partkey").alias("part_id"),
        F.coalesce("a.q", F.lit(0.0)).alias("q_a"),
        F.coalesce("a.r", F.lit(0.0)).alias("r_a"),
        F.coalesce("b.q", F.lit(0.0)).alias("q_b"),
        F.coalesce("b.r", F.lit(0.0)).alias("r_b"),
    )
    edge = (F.col("q_a") == 0) | (F.col("q_b") == 0)
    return wide.select(
        "part_id",
        F.when(F.col("q_a") == 0, "new")
        .when(F.col("q_b") == 0, "discontinued")
        .otherwise("continuing")
        .alias("segment"),
        "q_a",
        "r_a",
        "q_b",
        "r_b",
        (F.col("r_b") - F.col("r_a")).alias("delta"),
        F.when(edge, F.col("r_b") - F.col("r_a"))
        .otherwise(
            (F.col("q_b") - F.col("q_a")) * (F.col("r_a") / F.col("q_a"))
        )
        .alias("volume_effect"),
        F.when(edge, F.lit(0.0))
        .otherwise(
            (F.col("r_b") / F.col("q_b") - F.col("r_a") / F.col("q_a"))
            * F.col("q_b")
        )
        .alias("price_effect"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences (round 4, third continuation)
# ---------------------------------------------------------------------------

DID_SPLIT = "1998-01-01 00:00:00"  # pre/post boundary
DID_TREATED_SEGMENT = "BUILDING"  # treated customer group


@register(
    "op_did_analysis",
    f"""
    WITH labeled AS (
        SELECT CASE WHEN c.c_mktsegment = '{DID_TREATED_SEGMENT}'
                    THEN 1 ELSE 0 END AS treated,
               CASE WHEN o.o_orderdate >= TIMESTAMP '{DID_SPLIT}'
                    THEN 1 ELSE 0 END AS post,
               CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cells AS (
        SELECT treated, post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(price) AS DECIMAL(28,2)) AS DOUBLE)
                   / COUNT(*) AS mean_price
        FROM labeled GROUP BY treated, post)
    SELECT t0.n AS n_treated_pre, t1.n AS n_treated_post,
           c0.n AS n_control_pre, c1.n AS n_control_post,
           t0.mean_price AS treated_pre, t1.mean_price AS treated_post,
           c0.mean_price AS control_pre, c1.mean_price AS control_post,
           (t1.mean_price - t0.mean_price)
               - (c1.mean_price - c0.mean_price) AS did_estimate
    FROM (SELECT * FROM cells WHERE treated = 1 AND post = 0) t0
    CROSS JOIN (SELECT * FROM cells WHERE treated = 1 AND post = 1) t1
    CROSS JOIN (SELECT * FROM cells WHERE treated = 0 AND post = 0) c0
    CROSS JOIN (SELECT * FROM cells WHERE treated = 0 AND post = 1) c1
    """,
    doc="causal analytics: DIFFERENCE-IN-DIFFERENCES — the 2x2 "
    "pre/post x treated/control design (treated = BUILDING-segment "
    "customers, boundary 1998): DiD = (treated_post - treated_pre) - "
    "(control_post - control_pre) nets out both the group effect and "
    "the time effect under parallel trends. Complements "
    "ev_ab_test_metrics (randomized assignment) with the "
    "OBSERVATIONAL panel estimator. Exactness: cell means are exact "
    "decimal sums cast once to double then divided by integer counts "
    "(one correctly-rounded division per cell), and the estimate is "
    "three subtractions on those four doubles — bit-identical "
    "cross-engine. Scale: one join, one 4-cell partial-first "
    "aggregate; the 1-row-x-1-row cell crossJoins are bounded by "
    "construction (BNLJ whitelist).",
    tags=("retail", "causal"),
)
def op_did_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    o = cat.table("orders")
    c = cat.table("customer").select("c_custkey", "c_mktsegment")
    labeled = o.join(c, o.o_custkey == c.c_custkey).select(
        (F.col("c_mktsegment") == DID_TREATED_SEGMENT)
        .cast("int")
        .alias("treated"),
        (F.col("o_orderdate") >= F.lit(DID_SPLIT).cast("timestamp"))
        .cast("int")
        .alias("post"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    cells = labeled.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum("price").cast("decimal(28,2)").cast("double")
            / F.count(F.lit(1))
        ).alias("mean_price"),
    )

    def cell(t, p, prefix):
        return F.broadcast(
            cells.filter((F.col("treated") == t) & (F.col("post") == p)).select(
                F.col("n").alias(f"n_{prefix}"),
                F.col("mean_price").alias(prefix),
            )
        )

    t0 = cell(1, 0, "treated_pre")
    t1 = cell(1, 1, "treated_post")
    c0 = cell(0, 0, "control_pre")
    c1 = cell(0, 1, "control_post")
    return (
        t0.crossJoin(t1)
        .crossJoin(c0)
        .crossJoin(c1)
        .select(
            "n_treated_pre",
            "n_treated_post",
            "n_control_pre",
            "n_control_post",
            "treated_pre",
            "treated_post",
            "control_pre",
            "control_post",
            (
                (F.col("treated_post") - F.col("treated_pre"))
                - (F.col("control_post") - F.col("control_pre"))
            ).alias("did_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# Gini concentration coefficient (round 4, third continuation)
# ---------------------------------------------------------------------------


@register(
    "op_gini_revenue_concentration",
    """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
               COUNT(*) OVER () AS n
        FROM per_cust)
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(
             CAST(2 * SUM(i * cents) - (MAX(n) + 1) * SUM(cents) AS DOUBLE)
             / CAST(MAX(n) * SUM(cents) AS DOUBLE)
           AS DOUBLE) AS gini
    FROM ranked
    """,
    doc="retail analytics: GINI COEFFICIENT of customer revenue "
    "concentration — the inequality measure behind 'what share of "
    "revenue do the top customers carry': G = (2*sum(i*x_(i)) - "
    "(n+1)*sum(x)) / (n*sum(x)) over rank-ordered per-customer "
    "revenue. Exactness: revenue in integer CENTS (2-dp prices), "
    "ranks are integers with a full (cents, custkey) tie-break, so "
    "EVERY term is exact integer arithmetic and one final division "
    "yields the coefficient — hash-exact with zero float discipline "
    "needed. Scale: the per-customer aggregate is partial-first; the "
    "rank is ONE global sort of |customers| rows (not events), the "
    "same bounded-global-sort shape as op_order_by_full; the closing "
    "aggregate is a single row.",
    tags=("retail",),
)
def op_gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: the rank index decomposed (was an unpartitioned row_number over
    # the |customers|-row aggregate — one task); n rides a broadcast
    # 1-row frame instead of an unbounded-frame window. The i*cents
    # products stay exact longs, so the final 1-row Gini is bit-identical.
    from data_pipeline_4_online_retail_spark.functions.prefix import global_prefix

    o = load_tables(spark, sf_dir).table("orders")
    # scope-persisted so BOTH the rank prefix and the n total ride ONE
    # evaluation of the per-customer aggregate — on the decomposed path
    # the bucketed frame derives from this cache, and on the bypass
    # path the total needs no window re-evaluation (ADVICE r6, amended
    # after the r7 bypass made the ride-the-prefix-output form
    # re-evaluate the aggregate + window on small inputs)
    per_cust = persist_scoped(
        o.groupBy("o_custkey").agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    n_cust = per_cust.count()  # exact rows_hint; also warms the cache
    pos = global_prefix(
        per_cust,
        ["cents", "o_custkey"],
        {"__i": ("count", F.lit(1), True)},
        F.col("cents"),
        salt_expr=F.col("o_custkey"),
        rows_hint=n_cust,
    )
    n_row = per_cust.agg(F.count(F.lit(1)).alias("__n"))
    ranked = pos.crossJoin(F.broadcast(n_row)).select(
        "cents", F.col("__i").alias("i"), F.col("__n").alias("n")
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        (
            (
                F.lit(2) * F.sum(F.col("i") * F.col("cents"))
                - (F.max("n") + 1) * F.sum("cents")
            ).cast("double")
            / (F.max("n") * F.sum("cents")).cast("double")
        )
        .cast("double")
        .alias("gini"),
    )


@register(
    "op_lorenz_curve",
    """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey),
    ranked AS (
        SELECT cents,
               NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
        FROM per_cust),
    by_decile AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS decile_cents
        FROM ranked GROUP BY decile),
    with_total AS (
        SELECT decile, n_customers, decile_cents,
               CAST(SUM(decile_cents) OVER (ORDER BY decile
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
               CAST(SUM(decile_cents) OVER () AS BIGINT) AS total_cents
        FROM by_decile)
    SELECT decile, n_customers, decile_cents,
           CAST(CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
                AS DOUBLE) AS cum_revenue_share
    FROM with_total
    """,
    doc="retail analytics: LORENZ CURVE decile table — customers ranked "
    "by revenue into deciles (ntile, full (cents, custkey) tie-break), "
    "each decile's revenue and the cumulative share: the table behind "
    "the 'bottom 50% of customers hold X% of revenue' chart, and the "
    "curve whose area complement IS op_gini_revenue_concentration "
    "(the pytest ties the two together). Integer cents throughout; "
    "one division per decile row. Scale: same bounded shape as the "
    "Gini — per-customer aggregate partial-first, one global sort of "
    "|customers| rows, a 10-row closing window.",
    tags=("retail",),
)
def op_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: decile assignment decomposed (was an unpartitioned ntile over
    # the |customers|-row aggregate — one task); the 10-row cumulative
    # stays a plain window (bounded input by construction).
    from data_pipeline_4_online_retail_spark.functions.prefix import global_ntile

    o = load_tables(spark, sf_dir).table("orders")
    per_cust = persist_scoped(
        o.groupBy("o_custkey").agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    ranked = global_ntile(
        per_cust,
        ["cents", "o_custkey"],
        10,
        F.col("cents"),
        out_name="decile",
        salt_expr=F.col("o_custkey"),
        rows_hint=per_cust.count(),
    ).select("cents", "decile")
    by_decile = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").cast("long").alias("decile_cents"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return by_decile.select(
        "decile",
        "n_customers",
        "decile_cents",
        (
            F.sum("decile_cents").over(w_cum).cast("double")
            / F.sum("decile_cents").over(w_all).cast("double")
        )
        .cast("double")
        .alias("cum_revenue_share"),
    )


# ---------------------------------------------------------------------------
# ABC / Pareto classification (round 4, third continuation)
# ---------------------------------------------------------------------------

ABC_A_CUT = 0.8  # cumulative revenue share boundaries
ABC_B_CUT = 0.95


@register(
    "op_abc_classification",
    f"""
    WITH per_part AS (
        SELECT l_partkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY l_partkey),
    ranked AS (
        SELECT l_partkey, cents,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
               CAST(SUM(cents) OVER () AS BIGINT) AS total_cents
        FROM per_part)
    SELECT l_partkey AS part_id, cents,
           CASE WHEN cum_cents * 100 <= total_cents * {int(ABC_A_CUT * 100)}
                THEN 'A'
                WHEN cum_cents * 100 <= total_cents * {int(ABC_B_CUT * 100)}
                THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
    doc="retail analytics: ABC / PARETO classification — parts ranked by "
    "revenue, class A = the head carrying the first 80% of cumulative "
    "revenue, B to 95%, C the tail (the inventory-policy segmentation "
    "every supply chain runs; the per-part answer to what "
    "op_lorenz_curve shows in deciles). Exactness: integer cents, "
    "deterministic (cents DESC, partkey) rank order, and the class "
    "boundaries compare cum*100 <= total*80 in INTEGER arithmetic — "
    "no division anywhere, so the classification is exact by "
    "construction (a double share near the 0.8 boundary could "
    "misclassify cross-engine). Scale: partial-first per-part "
    "aggregate, one global sort of |parts| rows (the bounded "
    "dimension, not the fact), a running sum.",
    tags=("retail",),
)
def op_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: the cumulative-cents prefix decomposed (was an unpartitioned
    # running sum over the |parts|-row aggregate — one task); integer
    # cents make the bucket recombination exact. The grand total rides a
    # broadcast 1-row frame instead of an unbounded-frame window.
    from data_pipeline_4_online_retail_spark.functions.prefix import global_prefix

    li = load_tables(spark, sf_dir).table("lineitem")
    # scope-persisted so the cumulative prefix AND the grand total ride
    # ONE evaluation of the per-part aggregate on either prefix path
    # (ADVICE r6, amended after the r7 bypass — see op_gini's note)
    per_part = persist_scoped(
        li.groupBy("l_partkey").agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    n_parts = per_part.count()  # exact rows_hint; also warms the cache
    cum = global_prefix(
        per_part,
        [F.desc("cents"), F.asc("l_partkey")],
        {"__cum": ("sum", F.col("cents"), True)},
        -F.col("cents"),
        salt_expr=F.col("l_partkey"),
        rows_hint=n_parts,
    )
    total = per_part.agg(F.sum("cents").cast("long").alias("__total"))
    ranked = cum.crossJoin(F.broadcast(total)).select(
        F.col("l_partkey").alias("part_id"),
        "cents",
        F.col("__cum").cast("long").alias("cum_cents"),
        F.col("__total").alias("total_cents"),
    )
    a_pct = int(ABC_A_CUT * 100)
    b_pct = int(ABC_B_CUT * 100)
    return ranked.select(
        "part_id",
        "cents",
        F.when(
            F.col("cum_cents") * 100 <= F.col("total_cents") * a_pct, "A"
        )
        .when(F.col("cum_cents") * 100 <= F.col("total_cents") * b_pct, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
