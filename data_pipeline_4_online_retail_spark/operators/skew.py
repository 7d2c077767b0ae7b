"""Skew-mitigation operators — the hand-rolled fallbacks for when AQE's
runtime skew handling isn't available (non-AQE clusters, extreme key skew,
streaming aggregations).

- ``salted_aggregate``: two-stage aggregation — partial agg on
  (key, salt) spreads one hot key over N reducers, final agg on key
  combines. Correct for algebraic aggregates (sum/count/min/max).
- ``salted_broadcast_skew_join``: for a large table with a few hot keys
  joining a small-but-not-broadcastable side: explode the small side N×
  with salt, salt the big side randomly, join on (key, salt). Each hot
  key's rows land on N reducers instead of one.

At 100 TB the first-choice answers are AQE skew-join splitting (on for
this engine, session.py) and broadcast joins; these operators are the
explicit versions with deterministic salts, and the oracle-checked query
proves the salted plan reproduces the unsalted semantics exactly.

Measured (SCALING §"Round 9: the skew story", 30%-hot-key join at sf10):
unhandled 13.7 s; AQE at Spark's default 256 MB/factor-5 granularity
13.0 s (a near no-op — the hot partition barely clears the bar); AQE at
the 64 MB/factor-2 granularity session.py now sets 6.4 s; this module's
8-salt join 9.9 s. So: tuned AQE first, salting where AQE cannot reach
(streaming state, non-AQE clusters), and never assume the AQE DEFAULTS
handled it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

N_SALTS = 8


def deterministic_salt(*cols: str | Column, n_salts: int = N_SALTS) -> Column:
    """Salt derived from non-key columns via xxhash64 — deterministic
    (resume/retry-safe, unlike rand()) while still spreading a hot key's
    rows uniformly."""
    hashed = F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols])
    return F.pmod(hashed, F.lit(n_salts))


def salted_aggregate(
    df: DataFrame,
    key: str,
    value: str,
    *,
    salt_by: list[str],
    n_salts: int = N_SALTS,
) -> DataFrame:
    """SUM(value) + COUNT(*) per key, via (key, salt) partial then key
    final. DECIMAL accumulation keeps the re-aggregation exact."""
    partial = (
        df.withColumn("_salt", deterministic_salt(*salt_by, n_salts=n_salts))
        .groupBy(key, "_salt")
        .agg(
            F.sum(F.col(value).cast("decimal(18,2)")).alias("_psum"),
            F.count(F.lit(1)).alias("_pcnt"),
        )
    )
    return partial.groupBy(key).agg(
        # exact decimal re-aggregation; final cast to double keeps the
        # driver-visible output pandas-native (plans/star.py discipline)
        F.sum("_psum").cast("decimal(18,2)").cast("double").alias("total_value"),
        F.sum("_pcnt").alias("n_rows"),
    )


@register(
    "skew_salted_aggregate",
    """
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(*) AS n_rows
    FROM orders GROUP BY o_custkey
    """,
    doc="skew mitigation: salted two-stage aggregation — the oracle is the "
    "plain GROUP BY, proving the (key, salt) partial + key final plan is "
    "semantics-preserving. One hot key spreads across 8 reducers.",
)
def skew_salted_aggregate(spark, sf_dir):
    o = load_tables(spark, sf_dir).table("orders")
    return salted_aggregate(
        o, "o_custkey", "o_totalprice", salt_by=["o_orderkey"]
    )


def salted_broadcast_skew_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    *,
    salt_by: list[str],
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Replicate the small side n_salts×, salt the big side, join on
    (key, salt)."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    small_rep = small.select("*", salts)
    big_salted = big.withColumn(
        "_salt", deterministic_salt(*salt_by, n_salts=n_salts).cast("int")
    )
    return big_salted.join(small_rep, [key, "_salt"], "inner").drop("_salt")


@register(
    "skew_salted_join",
    """
    SELECT o_orderkey, o_custkey, c_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_orderkey, o_custkey, c_name
    """,
    doc="skew mitigation: salted replicate-join — small side exploded 8x "
    "with salt, big side salted deterministically, equi-join on "
    "(key, salt); the oracle is the plain join.",
)
def skew_salted_join(spark, sf_dir):
    cat = load_tables(spark, sf_dir)
    o = cat.table("orders")
    c = cat.table("customer").withColumnRenamed("c_custkey", "o_custkey")
    joined = salted_broadcast_skew_join(
        o, c.select("o_custkey", "c_name"), "o_custkey", salt_by=["o_orderkey"]
    )
    return joined.groupBy("o_orderkey", "o_custkey", "c_name").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total")
    )
