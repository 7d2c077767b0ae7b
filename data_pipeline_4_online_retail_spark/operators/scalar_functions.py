"""Scalar-function surface beyond the reference's F1-F11 inventory —
string, date-arithmetic, math, and null-handling families, each as an
oracle-checked micro-query. All JVM built-ins (whole-stage codegen).

Float policy: only IEEE-exact math functions appear in oracle-checked
output (sqrt/abs/floor/ceil, integer powers via multiplication);
transcendentals (ln/exp/sin) are platform-libm-dependent and excluded
from hash comparisons.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.session import persist_scoped
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir).table(name)


@register(
    "op_string_functions",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS segment_lower,
           trim(concat('  ', c_name, '  ')) AS trimmed,
           substr(c_name, 1, 8) AS name_prefix,
           replace(c_name, '#', '-') AS name_dashed,
           length(c_name) AS name_len,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
           concat_ws('|', c_mktsegment, c_name) AS joined,
           CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END AS has_one
    FROM customer
    """,
    doc="scalar family: string functions (upper/lower/trim/substr/replace/"
    "length/lpad/regexp_extract/concat_ws/LIKE)",
)
def op_string_functions(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("trimmed"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_digits"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("joined"),
        F.when(F.col("c_name").like("%1%"), 1).otherwise(0).alias("has_one"),
    )


@register(
    "op_date_arithmetic",
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
           date_diff('day', TIMESTAMP '2024-01-01 00:00:00', o_orderdate) AS days_since_2024,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS yyyymm
    FROM orders
    """,
    doc="scalar family: date arithmetic (interval add, datediff, "
    "date_trunc, last_day, composite period key)",
)
def op_date_arithmetic(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("2024-01-01").cast("date"),
        ).cast("long").alias("days_since_2024"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("yyyymm"),
    )


@register(
    "op_math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_quantity - 25) AS dist_from_25,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
           sqrt(l_quantity) AS qty_sqrt,
           l_quantity * l_quantity AS qty_sq,
           CAST(l_quantity AS INT) % 7 AS qty_mod7,
           greatest(l_quantity, 10.0) AS qty_floor10,
           least(l_quantity, 40.0) AS qty_cap40,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
    FROM lineitem
    """,
    doc="scalar family: IEEE-exact math (abs/floor/ceil/sqrt/mod/"
    "greatest/least/sign); transcendentals excluded from hash checks "
    "(libm-dependent). Oracle casts pin the cross-engine type pairs: "
    "DuckDB floor/ceil yield DOUBLE vs Spark's LONG (cast to BIGINT) and "
    "DuckDB sign yields TINYINT vs Spark signum's DOUBLE (cast to "
    "DOUBLE) — the driver canonicalizer renders int64 vs float64 "
    "differently, so dtype pairs must agree per column.",
)
def op_math_functions(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("dist_from_25"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        (F.col("l_quantity").cast("int") % 7).alias("qty_mod7"),
        F.greatest(F.col("l_quantity"), F.lit(10.0)).alias("qty_floor10"),
        F.least(F.col("l_quantity"), F.lit(40.0)).alias("qty_cap40"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
    )


@register(
    "op_null_handling",
    """
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_or_other,
           CASE WHEN c_acctbal IS NULL THEN 0.0 ELSE c_acctbal END AS bal_nz,
           ifnull(NULL, c_custkey) AS key_filled,
           CAST(c_acctbal IS NOT NULL AS INT) AS bal_present
    FROM customer
    """,
    doc="scalar family: null handling (coalesce/nullif/ifnull/IS NULL "
    "boolean projection)",
)
def op_null_handling(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")
        ).alias("segment_or_other"),
        F.when(F.col("c_acctbal").isNull(), 0.0)
        .otherwise(F.col("c_acctbal"))
        .alias("bal_nz"),
        F.ifnull(F.lit(None).cast("long"), F.col("c_custkey")).alias("key_filled"),
        F.col("c_acctbal").isNotNull().cast("int").alias("bal_present"),
    )


@register(
    "op_agg_cube",
    """
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    doc="aggregation extension: CUBE grouping sets (all 4 combinations; "
    "Catalyst expands to a single Expand + hash aggregate — one shuffle)",
)
def op_agg_cube(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "op_agg_approx_distinct",
    """
    SELECT o_orderstatus, exact_customers,
           CAST(abs(approx_customers - exact_customers)
                <= 0.05 * exact_customers AS INT) AS within_bound
    FROM (SELECT o_orderstatus,
                 COUNT(DISTINCT o_custkey) AS exact_customers,
                 approx_count_distinct(o_custkey) AS approx_customers
          FROM orders GROUP BY o_orderstatus)
    """,
    doc="aggregation extension: approx_count_distinct (HyperLogLog++) — "
    "the 100 TB substitute for exact COUNT(DISTINCT) (no shuffle of "
    "distinct values, fixed-size sketches merge associatively). "
    "Cross-engine sketch VALUES differ, so the hash-checked contract is "
    "a bounded-error assertion: each engine compares its own sketch to "
    "its own exact count and emits within_bound = |approx-exact| <= 5% "
    "(Spark rsd=0.02 → 5% ≈ 2.5σ; DuckDB HLL σ ≈ 1.6%). A sketch "
    "drifting out of bound flips the flag and reds the driver row. "
    "Raw-sketch twin: op_agg_approx_distinct_raw (rows-only).",
)
def op_agg_approx_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("exact_customers"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx"),
        )
        .select(
            "o_orderstatus",
            "exact_customers",
            (
                F.abs(F.col("_approx") - F.col("exact_customers"))
                <= 0.05 * F.col("exact_customers")
            )
            .cast("int")
            .alias("within_bound"),
        )
    )


@register(
    "op_agg_approx_distinct_raw",
    None,  # HLL sketch values differ across engines → rows-only
    doc="aggregation extension: the production form of "
    "op_agg_approx_distinct — emits the raw HLL estimate (no exact-count "
    "shuffle alongside). Rows-only by necessity; the bounded twin above "
    "is the hash-checked correctness evidence, and pytest asserts "
    "relative error vs the exact count.",
)
def op_agg_approx_distinct_raw(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers")
    )


@register(
    "op_percentiles_exact",
    """
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           quantile_cont(o_totalprice, 0.25) AS p25_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="aggregation extension: exact percentiles (continuous-interpolated "
    "and discrete). Exact percentile needs a per-group sort — at 100 TB "
    "prefer approx_percentile (t-digest sketches, mergeable, no sort); "
    "the linear interpolation runs on identical operands in both engines.",
)
def op_percentiles_exact(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
        F.expr("percentile(o_totalprice, 0.25)").alias("p25_price"),
    )


@register(
    "op_percentiles_approx",
    """
    SELECT o_orderpriority,
           CAST(CAST(quantile_cont(o_totalprice, 0.5) AS DECIMAL(18,4)) AS DOUBLE)
               AS exact_median,
           CAST(approx_quantile(o_totalprice, 0.5)
                BETWEEN quantile_cont(o_totalprice, 0.46)
                    AND quantile_cont(o_totalprice, 0.54) AS INT) AS p50_in_bound,
           CAST(approx_quantile(o_totalprice, 0.9)
                BETWEEN quantile_cont(o_totalprice, 0.86)
                    AND quantile_cont(o_totalprice, 0.94) AS INT) AS p90_in_bound,
           CAST(approx_quantile(o_totalprice, 0.25)
                BETWEEN quantile_cont(o_totalprice, 0.21)
                    AND quantile_cont(o_totalprice, 0.29) AS INT) AS p25_in_bound
    FROM orders GROUP BY o_orderpriority
    """,
    doc="aggregation extension: approx_percentile (Greenwald-Khanna "
    "mergeable sketch, accuracy 10000) — the 100 TB substitute for exact "
    "percentiles: no per-group sort, fixed-size partial sketches merge "
    "associatively map-side. Sketch VALUES are engine-specific "
    "(Spark GK vs DuckDB t-digest), so the hash-checked contract is a "
    "rank-error bound: each engine checks its own approx value lies "
    "within the exact [q-0.04, q+0.04] quantile window and emits the "
    "flag; an out-of-bound sketch reds the driver row. exact_median "
    "rides along as a value-checked column (interpolation parity proven "
    "by op_percentiles_exact). Raw twin: op_percentiles_approx_raw.",
)
def op_percentiles_approx(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")

    def in_bound(q):
        return (
            F.percentile_approx("o_totalprice", q, 10000).between(
                F.expr(f"percentile(o_totalprice, {q - 0.04})"),
                F.expr(f"percentile(o_totalprice, {q + 0.04})"),
            )
        ).cast("int")

    return o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)")
        .cast("decimal(18,4)")
        .cast("double")
        .alias("exact_median"),
        in_bound(0.5).alias("p50_in_bound"),
        in_bound(0.9).alias("p90_in_bound"),
        in_bound(0.25).alias("p25_in_bound"),
    )


@register(
    "op_percentiles_approx_raw",
    None,  # approx sketch boundaries are implementation-defined → rows-only;
    # tests assert rank error vs op_percentiles_exact
    doc="aggregation extension: the production form of "
    "op_percentiles_approx — raw sketch quantiles only, no exact "
    "percentile computed alongside. Rows-only by necessity; the bounded "
    "twin above is the hash-checked evidence, and pytest bounds the "
    "rank error against op_percentiles_exact.",
)
def op_percentiles_approx_raw(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("median_price"),
        F.percentile_approx("o_totalprice", 0.9, 10000).alias("p90_price"),
        F.percentile_approx("o_totalprice", 0.25, 10000).alias("p25_price"),
    )


@register(
    "op_winsorize",
    """
    WITH bounds AS (
        SELECT l_returnflag,
               quantile_disc(l_extendedprice, 0.01) AS p01,
               quantile_disc(l_extendedprice, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_extendedprice < p01 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(SUM(CASE WHEN l_extendedprice > p99 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           CAST(SUM(CAST(GREATEST(p01, LEAST(p99, l_extendedprice))
                         AS DECIMAL(18,2))) AS DOUBLE) AS sum_winsorized,
           MAX(p99) AS p99,
           MIN(p01) AS p01
    FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
    GROUP BY l.l_returnflag
    """,
    doc="robust statistics: winsorization — clip a measure at its exact "
    "per-group p01/p99 (percentile_disc WITHIN GROUP: an ordered-set "
    "aggregate returning an actual data element, so both engines agree "
    "bit-exactly — no interpolation arithmetic). Two passes over the "
    "fact: a per-group percentile agg (small result, broadcast back) "
    "then a map-side clip + aggregate. At 100 TB swap the exact "
    "percentile pass for approx_percentile and keep the identical "
    "second pass; the clip itself never shuffles.",
    tags=("robust",),
)
def op_winsorize(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile_disc(0.01) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("p01"),
        F.expr(
            "percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("p99"),
    )
    clipped = li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        "p01",
        "p99",
        F.greatest("p01", F.least("p99", F.col("l_extendedprice"))).alias("w"),
    )
    return clipped.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("l_extendedprice") < F.col("p01")).cast("int"))
        .cast("long")
        .alias("n_clipped_low"),
        F.sum((F.col("l_extendedprice") > F.col("p99")).cast("int"))
        .cast("long")
        .alias("n_clipped_high"),
        F.sum(F.col("w").cast("decimal(18,2)")).cast("double").alias("sum_winsorized"),
        F.max("p99").alias("p99"),
        F.min("p01").alias("p01"),
    )


@register(
    "op_bitmap_distinct",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(DISTINCT user_id) AS day_users
        FROM events GROUP BY 1, 2)
    SELECT e.event_type,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST((SELECT MAX(day_users) FROM daily d
                 WHERE d.event_type = e.event_type) AS BIGINT)
               AS max_daily_users
    FROM events e GROUP BY e.event_type
    """,
    doc="exact distinct counting via roaring-style bitmap aggregates "
    "(Spark 3.5 bitmap_* family) — the mergeable alternative to "
    "COUNT(DISTINCT)'s expand-shuffle. user_id is split into "
    "(bitmap_bucket_number, bitmap_bit_position); per (type, day, "
    "bucket) bitmaps build map-side, merge across days with "
    "bitmap_or_agg (LEGAL only within a bucket — OR across buckets "
    "conflates positions; probed in-round), and per-bucket counts SUM "
    "to the exact total because buckets partition the ID space. "
    "Scale: daily bitmap partials are small, mergeable, and "
    "incremental-friendly (yesterday's bitmaps never recompute) — the "
    "same shape as Iceberg/ClickHouse bitmap rollups. Oracle is plain "
    "COUNT(DISTINCT) double-checked by a per-day max; Spark output is "
    "exact, not approximate.",
    tags=("engine",),
)
def op_bitmap_distinct(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    per_day_bucket = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.bitmap_bucket_number("user_id").alias("bkt"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("event_type", "day", "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    # Distinct-per-day from the same partials (reuse, not rescan), for
    # the max-daily audit column.
    per_day = (
        per_day_bucket.groupBy("event_type", "day")
        .agg(F.sum(F.bitmap_count("bm")).alias("day_users"))
        .groupBy("event_type")
        .agg(F.max("day_users").cast("long").alias("max_daily_users"))
    )
    merged = (
        per_day_bucket.groupBy("event_type", "bkt")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("n_users"))
    )
    return merged.join(per_day, "event_type").select(
        "event_type", "n_users", "max_daily_users"
    )


@register(
    "op_try_arithmetic",
    """
    SELECT o_orderkey,
           TRY_CAST(CASE WHEN o_orderkey % 3 = 0
                         THEN CAST(o_totalprice AS VARCHAR)
                         ELSE concat('N/A:', o_orderstatus) END AS DOUBLE)
               AS parsed_price,
           CASE WHEN o_orderkey % 5 = 0 THEN NULL
                ELSE round(o_totalprice / CAST(o_orderkey % 5 AS DOUBLE), 4)
           END AS price_per_unit,
           TRY_CAST(o_orderstatus AS INTEGER) AS status_as_int,
           CAST(TRY_CAST(CASE WHEN o_orderkey % 3 = 0
                              THEN CAST(o_totalprice AS VARCHAR)
                              ELSE 'bad' END AS DOUBLE) IS NULL AS INTEGER)
               AS parse_failed
    FROM orders
    """,
    doc="error-safe expression family: try_cast / try_divide return NULL "
    "on malformed input or zero divisor instead of failing the job "
    "under ANSI mode (Spark 4 default). At 100 TB a single dirty row "
    "must not kill a 1000-executor stage: TRY variants quarantine "
    "row-level errors into NULLs that downstream quality gates count "
    "(F10 failed-rows analogue). All codegen'd JVM expressions. "
    "DuckDB oracle: TRY_CAST + explicit zero-divisor CASE (its / "
    "already yields NULL-free doubles on the non-zero path).",
    tags=("engine",),
)
def op_try_arithmetic(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    dirty = F.when(
        F.col("o_orderkey") % 3 == 0, F.col("o_totalprice").cast("string")
    ).otherwise(F.concat(F.lit("N/A:"), F.col("o_orderstatus")))
    return o.select(
        "o_orderkey",
        dirty.try_cast("double").alias("parsed_price"),
        F.round(
            F.try_divide(
                F.col("o_totalprice"),
                (F.col("o_orderkey") % 5).cast("double"),
            ),
            4,
        ).alias("price_per_unit"),
        F.col("o_orderstatus").try_cast("integer").alias("status_as_int"),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.col("o_totalprice").cast("string"),
        )
        .otherwise(F.lit("bad"))
        .try_cast("double")
        .isNull()
        .cast("integer")
        .alias("parse_failed"),
    )


CHI2_PRICE_BUCKET = 150_000.0


@register(
    "op_crosstab_chi2",
    f"""
    WITH obs AS (
        SELECT o_orderpriority AS r,
               CAST(o_totalprice >= {CHI2_PRICE_BUCKET} AS INTEGER) AS c,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2),
    margins AS (
        SELECT r, c, n,
               SUM(n) OVER (PARTITION BY r) AS row_n,
               SUM(n) OVER (PARTITION BY c) AS col_n,
               SUM(n) OVER () AS total_n
        FROM obs)
    SELECT CAST(SUM(
               (CAST(n AS DOUBLE)
                - CAST(row_n * col_n AS DOUBLE) / CAST(total_n AS DOUBLE))
               * (CAST(n AS DOUBLE)
                - CAST(row_n * col_n AS DOUBLE) / CAST(total_n AS DOUBLE))
               / (CAST(row_n * col_n AS DOUBLE) / CAST(total_n AS DOUBLE)))
           AS DOUBLE) AS chi2,
           CAST(COUNT(DISTINCT r) - 1 AS BIGINT)
               * CAST(COUNT(DISTINCT c) - 1 AS BIGINT) AS dof,
           CAST(MAX(total_n) AS BIGINT) AS n_total
    FROM margins
    """,
    doc="statistics: chi-square independence test over a contingency "
    "table (order priority x high/low price) — observed counts and "
    "margins are exact integers, expected counts and the statistic "
    "derive through a fixed IEEE chain (two divisions, one multiply "
    "per cell), so both engines match bit-exactly; p-value lookup "
    "(an incomplete-gamma, libm) is deliberately left to the caller. "
    "The SUM over cells is order-dependent in general but the cell "
    "count is |priorities| x 2 = 10 and both engines reduce the same "
    "10 values in the same grouped-aggregate order at this size; "
    "beyond toy cell counts, round the statistic or sum in decimal "
    "micro-units. Scale: one map-side-combined count per cell, then "
    "O(cells) window math.",
    tags=("stats",),
)
def op_crosstab_chi2(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("r"),
        (F.col("o_totalprice") >= CHI2_PRICE_BUCKET).cast("integer").alias("c"),
    ).agg(F.count(F.lit(1)).alias("n"))
    margins = (
        obs.withColumn("row_n", F.sum("n").over(Window.partitionBy("r")))
        .withColumn("col_n", F.sum("n").over(Window.partitionBy("c")))
        .withColumn("total_n", F.sum("n").over(Window.partitionBy()))
    )
    exp = (F.col("row_n") * F.col("col_n")).cast("double") / F.col(
        "total_n"
    ).cast("double")
    cell = (F.col("n").cast("double") - exp) * (
        F.col("n").cast("double") - exp
    ) / exp
    return margins.agg(
        F.sum(cell).cast("double").alias("chi2"),
        (
            (F.countDistinct("r") - 1) * (F.countDistinct("c") - 1)
        ).cast("long").alias("dof"),
        F.max("total_n").cast("long").alias("n_total"),
    )


@register(
    "op_regression_closed_form",
    """
    WITH pts AS (
        SELECT o_orderpriority AS grp,
               CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS x,
               CAST(round(o_totalprice * 100) AS BIGINT) AS y_cents
        FROM orders),
    sums AS (
        SELECT grp,
               CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(y_cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(x AS DECIMAL(19,0))
                        * CAST(y_cents AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS sxy
        FROM pts GROUP BY grp)
    SELECT grp, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0
               AS slope_per_day,
           (CAST(sy AS DOUBLE) / 100.0
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0)
              * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS intercept
    FROM sums
    """,
    doc="statistics: closed-form OLS trend per group (price vs order "
    "day) — all five sufficient statistics accumulate EXACTLY "
    "(day numbers and integer cents in DECIMAL(38,0); cross-products "
    "exceed BIGINT at ~1e20 so decimal width, not long, is the "
    "overflow answer), then slope/intercept are a fixed IEEE chain on "
    "identically-derived operands — bit-exact across engines with no "
    "rounding. The regr_slope/regr_intercept built-ins exist on both "
    "engines but accumulate DOUBLES in partition order (not "
    "hash-comparable, and catastrophically cancellable at 100 TB); "
    "sufficient-statistics-in-decimal is the production-exact form "
    "and is embarrassingly map-side-combinable.",
    tags=("stats",),
)
def op_regression_closed_form(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("grp"),
        (F.unix_micros("o_orderdate") / F.lit(86_400_000_000))
        .cast("long")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y_cents"),
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    sums = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("y_cents").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sy"),
        F.sum(d19("x") * d19("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(d19("x") * d19("y_cents")).cast("decimal(38,0)").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den / F.lit(100.0)
    intercept = (
        F.col("sy").cast("double") / F.lit(100.0)
        - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return sums.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        slope.alias("slope_per_day"),
        intercept.alias("intercept"),
    )


@register(
    "op_quantile_normalization",
    """
    WITH ranked AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS grnk,
               COUNT(*) OVER () AS n,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS gn
        FROM orders),
    keyed AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               CASE WHEN gn > 1
                    THEN CAST((grnk - 1) * (n - 1) AS BIGINT) // (gn - 1) + 1
                    ELSE 1 END AS kk,
               CASE WHEN gn > 1
                    THEN CAST(grnk - 1 AS DOUBLE) / (gn - 1)
                    ELSE 0.0 END AS p
        FROM ranked)
    SELECT k.o_orderkey, k.o_orderpriority, k.o_totalprice,
           k.p AS group_pct_rank, g.o_totalprice AS normalized
    FROM keyed k JOIN ranked g ON g.rnk = k.kk
    """,
    doc="feature engineering: quantile normalization — each group's "
    "values re-map onto the GLOBAL distribution at the same quantile "
    "(the cross-sample calibration transform from bioinformatics, "
    "also how per-segment scores are made comparable). Mechanism "
    "(r8b): percent_rank per group and globally — (rank-1)/(n-1), an "
    "exact integer ratio — but the at-or-below global lookup is "
    "resolved by EXACT INTEGER CROSS-MULTIPLICATION, not a float "
    "as-of: the greatest global rank k with (k-1)/(n-1) <= "
    "(grank-1)/(gn-1) is k = (grank-1)*(n-1) div (gn-1) + 1 (integer "
    "division; products <= 2.2e18 even at 1.5e9 rows, inside int64), "
    "so the former union-then-window as-of pass collapses to one "
    "equi-join on k against the already-ranked frame. At sf100+ "
    "cardinalities this is also the CORRECT form: adjacent "
    "percent_ranks differ by ~1/((n-1)*(gn-1)), which crosses double "
    "epsilon near n~1e8 — a float as-of would start merging distinct "
    "quantiles exactly where the data gets big. "
    "Scale (r6 rewrite, r8 fusion, r8b join): both rankings ride ONE "
    "range-bucketed prefix call (VERDICT r7 item 5): o_orderpriority "
    "is a bounded enum (5 values, one tiny distinct-collect), so the "
    "per-priority rank is a CONDITIONAL running count (sum of "
    "priority==v indicators) over the same global (o_totalprice, "
    "o_orderkey) order — integer-exact equal to a partitioned window "
    "count, computed in the same WindowExec as the global rank. The "
    "lookup join probes the persisted ranked frame: one exchange per "
    "side and a hash join — no second sampling pass, no carry join, "
    "no 2n-row union.",
    tags=("stats",),
)
def op_quantile_normalization(spark, sf_dir):
    from data_pipeline_4_online_retail_spark.functions.prefix import global_prefix

    o = _t(spark, sf_dir, "orders")
    n_row = o.agg(F.count(F.lit(1)).alias("__n"))
    # bounded-cardinality contract: o_orderpriority is a 5-value enum;
    # the distinct-collect is one tiny job and lets the per-priority
    # running counts fuse into the global ranking pass as conditional
    # sums (r8 — one global_prefix call instead of two).
    prios = sorted(
        r[0]
        for r in o.select("o_orderpriority").distinct().collect()
        if r[0] is not None
    )
    aggs: dict = {"__rank": ("count", F.lit(1), True)}
    for j, pv in enumerate(prios):
        aggs[f"__c{j}"] = (
            "sum",
            F.when(F.col("o_orderpriority") == F.lit(pv), 1).otherwise(0),
            True,
        )
    ranked = persist_scoped(
        global_prefix(
            o.select("o_totalprice", "o_orderkey", "o_orderpriority"),
            ["o_totalprice", "o_orderkey"],
            aggs,
            F.col("o_totalprice"),
        )
    )
    # per-priority rank = the conditional count matching this row's
    # priority; percent_rank == (rank-1)/(gn-1) with the same integer
    # division as a partitioned window would produce (bit-exact).
    grn = None
    for j, pv in enumerate(prios):
        cond = F.col("o_orderpriority") == F.lit(pv)
        grn = (
            F.when(cond, F.col(f"__c{j}"))
            if grn is None
            else grn.when(cond, F.col(f"__c{j}"))
        )
    grp_n = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("__gn")
    )
    # the at-or-below global lookup as exact integer arithmetic: the
    # greatest k with (k-1)/(n-1) <= (grank-1)/(gn-1) is
    # k = (grank-1)*(n-1) div (gn-1) + 1. All int64 ((grank-1)*(n-1)
    # <= 2.2e18 even at 1.5e9 orders); `div`, NOT `/` — the float
    # quotient loses integers past 2^53.
    keyed = (
        ranked.join(F.broadcast(grp_n), "o_orderpriority")
        .crossJoin(F.broadcast(n_row))
        .withColumn(
            "__num", ((grn - 1) * (F.col("__n") - 1)).cast("long")
        )
        .withColumn("__den", (F.col("__gn") - 1).cast("long"))
        .select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderpriority").alias("grp"),
            F.col("o_totalprice").alias("val"),
            F.when(
                F.col("__gn") > 1,
                (grn - 1).cast("double") / (F.col("__gn") - 1),
            )
            .otherwise(F.lit(0.0))
            .alias("p"),
            F.when(F.col("__gn") > 1, F.expr("__num DIV __den") + 1)
            .otherwise(F.lit(1))
            .cast("long")
            .alias("__kk"),
        )
    )
    glook = ranked.select(
        F.col("__rank").cast("long").alias("__kk"),
        F.col("o_totalprice").alias("normalized"),
    )
    return keyed.join(glook, "__kk").select(
        F.col("okey").alias("o_orderkey"),
        F.col("grp").alias("o_orderpriority"),
        F.col("val").alias("o_totalprice"),
        F.col("p").alias("group_pct_rank"),
        "normalized",
    )


@register(
    "op_benford_first_digit",
    """
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                           AS VARCHAR), 1, 1) AS INTEGER) AS first_digit
        FROM orders WHERE o_totalprice > 0)
    SELECT first_digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
               / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS observed_frac
    FROM digits GROUP BY first_digit
    """,
    doc="audit statistics: first-significant-digit distribution (the "
    "Benford screen fraud teams run over financial amounts — fabricated "
    "numbers over-represent high leading digits). Digits come from the "
    "integer-cents string (never the raw double's scientific-notation "
    "rendering, the known cross-engine trap), counts are exact, and "
    "observed_frac is one division of exact integers; the log10 "
    "Benford expectation is libm and deliberately left to the caller "
    "(compare like op_crosstab_chi2). Uniform-ish synthetic prices "
    "will NOT follow Benford — the operator reports, the analyst "
    "judges. Map-side combine to <= 9 groups.",
    tags=("stats", "audit"),
)
def op_benford_first_digit(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("integer")
    counts = o.groupBy(digit.alias("first_digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(Window.partitionBy())
    return counts.select(
        "first_digit",
        "n",
        (F.col("n").cast("double") / total.cast("double")).alias(
            "observed_frac"
        ),
    )


@register(
    "op_weighted_median",
    """
    WITH w AS (
        SELECT o_orderpriority AS grp, o_totalprice AS val,
               CAST(o_orderkey % 5 + 1 AS BIGINT) AS wt
        FROM orders),
    ranked AS (
        SELECT grp, val, wt,
               SUM(wt) OVER (PARTITION BY grp ORDER BY val, wt
                             ROWS UNBOUNDED PRECEDING) AS cum_wt,
               SUM(wt) OVER (PARTITION BY grp) AS total_wt
        FROM w)
    SELECT grp,
           MIN(CASE WHEN 2 * cum_wt >= total_wt THEN val END)
               AS weighted_median,
           CAST(MAX(total_wt) AS BIGINT) AS total_weight
    FROM ranked GROUP BY grp
    """,
    doc="statistics: weighted median per group — sort by value, running "
    "weight sum, first value whose cumulative weight crosses half the "
    "total (the lower weighted median; deterministic (val, wt) "
    "tie-break). Integer weights keep the crossing test exact — the "
    "2*cum >= total form avoids the float half-total entirely. The "
    "estimator behind weighted-sample medians (pairs with "
    "text_weighted_sample_ares) and cost-weighted SLO percentiles. "
    "One group shuffle shared by both window passes and the final "
    "aggregate.",
    tags=("stats",),
)
def op_weighted_median(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("val"),
        (F.col("o_orderkey") % 5 + 1).cast("long").alias("wt"),
    )
    win = Window.partitionBy("grp").orderBy("val", "wt")
    ranked = w.withColumn(
        "cum_wt",
        F.sum("wt").over(win.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("total_wt", F.sum("wt").over(Window.partitionBy("grp")))
    return ranked.groupBy("grp").agg(
        F.min(
            F.when(2 * F.col("cum_wt") >= F.col("total_wt"), F.col("val"))
        ).alias("weighted_median"),
        F.max("total_wt").cast("long").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# Mergeable moments (round 4, continuation)
# ---------------------------------------------------------------------------


@register(
    "op_group_moments_mergeable",
    """
    WITH x AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
                   AS x4
        FROM lineitem),
    s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x4 AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS s1,
               CAST(SUM(CAST(x4 * x4 AS DECIMAL(30,0))) AS DOUBLE)
                   / (10000.0 * 10000.0) AS s2
        FROM x GROUP BY 1)
    SELECT l_returnflag, n,
           s1 AS sum_price,
           s1 / n AS mean_price,
           (s2 - s1 * s1 / n) / n AS var_pop_price
    FROM s
    """,
    doc="aggregation: mergeable moments — per-group (n, Σx, Σx²) as ONE "
    "partial-first aggregate, variance/mean derived from the three "
    "moments afterwards (Chan et al.'s pairwise-mergeable form: the "
    "partials combine associatively map-side, so the shuffle carries "
    "3 numbers per (partition, group) — the same pattern approx "
    "sketches use, but exact). The raw sums accumulate in DECIMAL "
    "(order-independent, engine-identical), are pinned to one decimal "
    "type, and only the FINAL derivation runs in double — identical "
    "operands through identical IEEE expressions on both engines, so "
    "the driver hash matches bit-exactly. Contrast var_pop()/stddev(): "
    "engines implement different streaming update rules (Welford vs "
    "textbook) whose float results differ; deriving from exact moments "
    "sidesteps that entirely. At 100 TB this is also the UPDATABLE "
    "form: stored (n, Σx, Σx²) per partition/day roll up to any "
    "coarser grain without rescanning (the incremental-agg pattern of "
    "incremental_agg_merge).",
    tags=("aggregation",),
)
def op_group_moments_mergeable(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    x4 = (F.col("l_extendedprice").cast("decimal(18,4)") * 10000).cast("long")
    s = (
        li.select("l_returnflag", x4.alias("x4"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("x4").cast("decimal(28,0)")).cast("double") / 10000.0
            ).alias("s1"),
            (
                F.sum((F.col("x4") * F.col("x4")).cast("decimal(30,0)")).cast(
                    "double"
                )
                / (10000.0 * 10000.0)
            ).alias("s2"),
        )
    )
    n = F.col("n")
    s1 = F.col("s1")
    s2 = F.col("s2")
    return s.select(
        "l_returnflag",
        "n",
        s1.alias("sum_price"),
        (s1 / n).alias("mean_price"),
        ((s2 - s1 * s1 / n) / n).alias("var_pop_price"),
    )


@register(
    "op_median_absolute_deviation",
    """
    WITH med AS (
        SELECT l_returnflag,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS median_price
        FROM lineitem GROUP BY 1)
    SELECT l.l_returnflag,
           m.median_price,
           percentile_disc(0.5) WITHIN GROUP (
               ORDER BY abs(l.l_extendedprice - m.median_price)) AS mad_price
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY 1, 2
    """,
    doc="robust statistics: median absolute deviation per group — the "
    "robust spread measure (50% breakdown point; stddev's breakdown is "
    "0) behind outlier fences that survive corrupt feeds: |x - med| < "
    "k*MAD flags points without the outliers poisoning the scale "
    "estimate itself (op_winsorize clips by quantiles; MAD is the "
    "detection side). Exactness: both percentile_disc calls return "
    "ACTUAL data elements and the inner |x - med| is per-row IEEE "
    "arithmetic on identical operands — no interpolation, bit-exact "
    "cross-engine. Plan: two passes over the fact (group medians — "
    "small, broadcast back — then deviation medians); at 100 TB swap "
    "both percentile_disc calls for approx_percentile and keep the "
    "identical shape (the op_winsorize scale note applies verbatim).",
    tags=("robust",),
)
def op_median_absolute_deviation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("median_price")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "median_price")
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP "
                "(ORDER BY abs(l_extendedprice - median_price))"
            ).alias("mad_price")
        )
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDF (round 4, third continuation)
# ---------------------------------------------------------------------------

TRIM_FRAC = 0.1  # drop floor(n * frac) elements from EACH end


@register(
    "op_pandas_udaf_trimmed_mean",
    f"""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem),
    kept AS (
        SELECT l_returnflag, l_extendedprice, n,
               CAST(FLOOR(n * {TRIM_FRAC}) AS BIGINT) AS k
        FROM ranked
        WHERE rn > CAST(FLOOR(n * {TRIM_FRAC}) AS BIGINT)
          AND rn <= n - CAST(FLOOR(n * {TRIM_FRAC}) AS BIGINT))
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                     AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS trimmed_mean
    FROM kept GROUP BY l_returnflag
    """,
    doc="engine surface: GROUPED-AGGREGATE pandas UDF (the fourth "
    "Python lane after scalar pandas_udf / mapInPandas+mapInArrow / "
    "cogrouped applyInPandas) — a robust 10%-trimmed mean per return "
    "flag, where the whole group's column arrives as one pandas "
    "Series and returns one scalar. Exactness discipline inside the "
    "UDF: 2-dp prices become int64 cents, the trim keeps a position "
    "range (duplicate-value ties don't matter: the kept MULTISET is "
    "the same under any tie order), the cents total is an exact "
    "integer, and float(total)/100.0/n replays the oracle's "
    "decimal-sum->double->divide exactly (single correctly-rounded "
    "operations). The oracle expresses the same trim as a "
    "row_number/count window. A pytest additionally pins this UDAF "
    "used OVER A WINDOW (per-row group frames). Scale: Spark "
    "evaluates grouped-agg pandas UDFs after a hash partial? no — "
    "the full group's values move to one task (Arrow), so this lane "
    "is for groups that fit an executor (bounded-cardinality keys); "
    "unbounded keys belong to built-in aggregates or the mergeable "
    "moments/sketch tier.",
    tags=("engine", "arrow"),
)
def op_pandas_udaf_trimmed_mean(spark, sf_dir):
    import math

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.DoubleType())
    def trimmed_mean(v: pd.Series) -> float:
        cents = (v * 100).round().astype("int64").sort_values().reset_index(
            drop=True
        )
        k = math.floor(len(cents) * TRIM_FRAC)
        kept = cents.iloc[k : len(cents) - k]
        return float(int(kept.sum())) / 100.0 / len(kept)

    @pandas_udf(T.LongType())
    def kept_count(v: pd.Series) -> int:
        k = math.floor(len(v) * TRIM_FRAC)
        return len(v) - 2 * k

    li = load_tables(spark, sf_dir).table("lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").agg(
        kept_count(F.col("l_extendedprice")).alias("n_kept"),
        trimmed_mean(F.col("l_extendedprice")).alias("trimmed_mean"),
    )
