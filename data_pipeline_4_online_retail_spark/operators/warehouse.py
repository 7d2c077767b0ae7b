"""Warehouse-maintenance operators: MERGE-style upsert and SCD2 history
build.

The reference's pipeline rebuilds tables wholesale (WRITE_TRUNCATE,
reference dags/online_retail.py) — these operators cover the incremental
counterparts a warehouse user reaches for next: MERGE INTO semantics as a
single full-outer join, and a type-2 slowly-changing-dimension build as a
gaps-and-islands window pass. Both are pure DataFrame plans (one shuffle
each) with DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables


# ---------------------------------------------------------------------------
# MERGE-style upsert
# ---------------------------------------------------------------------------

# Simulated incremental load: the "existing table" is the even order keys,
# the "change batch" is the keys divisible by 3 (so the merge exercises
# matched-update, unmatched-insert, and untouched rows at once).


@register(
    "wh_merge_upsert",
    """
    WITH target AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0),
    source AS (
        SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0)
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
           CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                WHEN s.o_orderkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    """,
    doc="warehouse: MERGE INTO semantics (WHEN MATCHED UPDATE / WHEN NOT "
    "MATCHED INSERT / untouched keep) expressed as one full-outer join on "
    "the key with source-wins coalescing — the Spark-native upsert when "
    "the table format has no transactional MERGE. One shuffle on the "
    "merge key; AQE handles skewed keys.",
    tags=("warehouse",),
)
def wh_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir).table("orders")
    target = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    source = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        "o_totalprice",
    )
    t = target.alias("t")
    s = source.alias("s")
    joined = t.join(s, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full_outer")
    action = (
        F.when(F.col("t.o_orderkey").isNull(), "insert")
        .when(F.col("s.o_orderkey").isNull(), "keep")
        .otherwise("update")
    )
    return joined.select(
        F.coalesce("t.o_orderkey", "s.o_orderkey").alias("o_orderkey"),
        F.coalesce("s.o_orderstatus", "t.o_orderstatus").alias("o_orderstatus"),
        F.coalesce("s.o_totalprice", "t.o_totalprice").alias("o_totalprice"),
        action.alias("merge_action"),
    )


# ---------------------------------------------------------------------------
# SCD2 history build (gaps and islands)
# ---------------------------------------------------------------------------


@register(
    "wh_scd2_build",
    """
    WITH ordered AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN LAG(event_type) OVER w IS NULL
                      OR LAG(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS is_change
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(SUM(is_change) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS version_id
        FROM ordered),
    versions AS (
        SELECT user_id, version_id, MIN(event_type) AS event_type,
               MIN(ts) AS valid_from, COUNT(*) AS n_events
        FROM runs GROUP BY user_id, version_id)
    SELECT user_id, version_id, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version_id)
               AS valid_to,
           CAST(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version_id)
                IS NULL AS INT) AS is_current,
           n_events
    FROM versions
    """,
    doc="warehouse: type-2 slowly-changing-dimension build from a change "
    "log — consecutive runs of the tracked attribute (event_type per "
    "user) become versioned validity intervals [valid_from, valid_to) "
    "with an is_current flag. Gaps-and-islands: LAG to mark changes, "
    "running SUM to number runs, one aggregate, LEAD to close intervals. "
    "Identical deterministic (ts, event_id) tie-break in every window "
    "(the nondeterministic-oracle lesson from the session-window review). "
    "Single shuffle on user_id reused by all three window passes.",
    tags=("warehouse",),
)
def wh_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir).table("events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = F.lag("event_type").over(w)
    is_change = F.when(
        lagged.isNull() | (lagged != F.col("event_type")), 1
    ).otherwise(0)
    runs = e.withColumn(
        "version_id",
        F.sum(is_change).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    versions = runs.groupBy("user_id", "version_id").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version_id")
    valid_to = F.lead("valid_from").over(wv)
    return versions.select(
        "user_id",
        "version_id",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC extraction, round 4)
# ---------------------------------------------------------------------------


@register(
    "wh_snapshot_diff",
    """
    WITH v_old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 != 0),
    v_new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 5 != 0)
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           o.o_orderstatus AS old_status, n.o_orderstatus AS new_status,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type
    FROM v_old o FULL OUTER JOIN v_new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus != n.o_orderstatus
       OR o.o_totalprice != n.o_totalprice
    """,
    doc="warehouse: snapshot diff / CDC extraction — two table versions "
    "full-outer-joined on the key, emitting only added / removed / "
    "changed rows (the change feed a downstream incremental consumer "
    "replays; the inverse of wh_merge_upsert, which APPLIES such a "
    "feed). The fixture simulates versions with modular key filters so "
    "all three change classes occur. One shuffle on the key; unchanged "
    "rows never leave the join — at 100 TB the output is O(churn), not "
    "O(table).",
    tags=("warehouse",),
)
def wh_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir).table("orders")
    v_old = o.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v_new = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    old_a, new_a = v_old.alias("o"), v_new.alias("n")
    joined = old_a.join(
        new_a, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    change = (
        F.when(F.col("o.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return joined.filter(
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus"))
        | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
    ).select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("o_orderkey"),
        F.col("o.o_orderstatus").alias("old_status"),
        F.col("n.o_orderstatus").alias("new_status"),
        change.alias("change_type"),
    )


# ---------------------------------------------------------------------------
# Point-in-time snapshot over SCD2 (round 4)
# ---------------------------------------------------------------------------


@register(
    "wh_pit_snapshot",
    """
    WITH ordered AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN LAG(event_type) OVER w IS NULL
                      OR LAG(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS is_change
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(SUM(is_change) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS version_id
        FROM ordered),
    versions AS (
        SELECT user_id, version_id, MIN(event_type) AS event_type,
               MIN(ts) AS valid_from
        FROM runs GROUP BY user_id, version_id),
    scd AS (
        SELECT user_id, version_id, event_type, valid_from,
               LEAD(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY version_id) AS valid_to
        FROM versions),
    bounds AS (
        SELECT user_id, MIN(CAST(valid_from AS DATE)) AS d0,
               MAX(CAST(valid_from AS DATE)) AS d1
        FROM scd GROUP BY user_id),
    grid AS (
        SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
                   AS day
        FROM bounds)
    SELECT g.user_id, g.day, s.version_id, s.event_type
    FROM grid g JOIN scd s
      ON g.user_id = s.user_id
     AND CAST(g.day AS TIMESTAMP) >= s.valid_from
     AND (s.valid_to IS NULL OR CAST(g.day AS TIMESTAMP) < s.valid_to)
    """,
    doc="warehouse: point-in-time snapshot reconstruction over the SCD2 "
    "history — for every (user, midnight-of-day) grid point, the version "
    "whose [valid_from, valid_to) interval contains it: 'what did the "
    "dimension look like on day D' without storing daily copies (the "
    "query a snapshot-table materializer or an ML feature backfill "
    "runs against an SCD2 dimension; grid days before a user's first "
    "version drop out by the inner join). Plan: the interval predicate "
    "rides on a user_id EQUI-join — co-located hash/merge join with a "
    "range post-filter, never a nested-loop (each user's grid meets "
    "only that user's few versions). Grid explode is bounded per user.",
    tags=("warehouse",),
)
def wh_pit_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    scd = wh_scd2_build(spark, sf_dir).select(
        "user_id", "version_id", "event_type", "valid_from", "valid_to"
    )
    bounds = scd.groupBy("user_id").agg(
        F.min(F.col("valid_from").cast("date")).alias("d0"),
        F.max(F.col("valid_from").cast("date")).alias("d1"),
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    day_ts = F.col("day").cast("timestamp")
    return (
        grid.join(scd, "user_id")
        .filter(
            (day_ts >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (day_ts < F.col("valid_to")))
        )
        .select("user_id", "day", "version_id", "event_type")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized-view refresh)
# ---------------------------------------------------------------------------


def incremental_agg_merge(
    stored: DataFrame,
    delta: DataFrame,
    keys: list[str],
    *,
    sum_cols: list[str],
    count_col: str | None = None,
) -> DataFrame:
    """Merge a DELTA batch's partial aggregate into a STORED aggregate —
    the incremental alternative to the reference's WRITE_TRUNCATE full
    rebuild (online_retail.py load step + report models re-run the whole
    history every day).

    ``stored`` and ``delta`` carry the same schema: ``keys`` + summable
    measure columns (sums and counts are the self-mergeable aggregates;
    avg = merged sum / merged count downstream). The merge is one
    full-outer join on the grouping keys — O(|stored keys| + |delta
    keys|), never a re-scan of history. At 100 TB this is the difference
    between "re-aggregate 3 years of facts nightly" and "aggregate
    today's partition and merge".

    New keys appear via the outer side (coalesce 0); existing keys sum.
    """
    merged = stored.alias("s").join(
        delta.alias("d"), on=keys, how="full_outer"
    )
    cols = [F.col(k) for k in keys]
    for c in sum_cols + ([count_col] if count_col else []):
        cols.append(
            (
                F.coalesce(F.col(f"s.{c}"), F.lit(0))
                + F.coalesce(F.col(f"d.{c}"), F.lit(0))
            ).alias(c)
        )
    return merged.select(*cols)


@register(
    "wh_foreign_key_check",
    """
    WITH checks AS (
        SELECT 'lineitem->orders' AS fk, CAST(COUNT(*) AS BIGINT) AS n_child,
               CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphans
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'orders->customer@partial-load',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM orders o LEFT JOIN
             (SELECT * FROM customer WHERE c_custkey % 50 <> 7) c
          ON o.o_custkey = c.c_custkey)
    SELECT fk, n_child, n_orphans,
           CAST(n_orphans = 0 AS INTEGER) AS ok
    FROM checks
    """,
    doc="warehouse QA: referential-integrity audit — orphan counts per "
    "foreign-key edge via LEFT joins (the dbt `relationships` test "
    "shape; reference's Soda checks F10/F11 stop at nulls/schema). The "
    "third row re-checks orders against a deliberately partial customer "
    "snapshot (every 50th key withheld) so the NONZERO path is "
    "exercised, not just asserted clean. Scale: each edge is one keyed "
    "shuffle (or broadcast when the parent is dim-sized); counts "
    "combine map-side. Output is O(edges).",
    tags=("warehouse", "quality"),
)
def wh_foreign_key_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li, o, c = cat.table("lineitem"), cat.table("orders"), cat.table("customer")

    def edge(child: DataFrame, ck: str, parent: DataFrame, pk: str, label: str) -> DataFrame:
        j = child.join(parent, child[ck] == parent[pk], "left")
        return j.agg(
            F.lit(label).alias("fk"),
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(parent[pk].isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )

    partial = c.filter(F.col("c_custkey") % 50 != 7)
    out = (
        edge(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionByName(edge(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionByName(
            edge(o, "o_custkey", partial, "c_custkey", "orders->customer@partial-load")
        )
    )
    return out.withColumn("ok", (F.col("n_orphans") == 0).cast("integer"))


_SCD2_VERSIONS_SQL = """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS is_change
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
        SELECT user_id, event_type, ts,
               CAST(SUM(is_change) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS version_id
        FROM ordered),
    versions AS (
        SELECT user_id, version_id, MIN(event_type) AS attr,
               MIN(ts) AS valid_from
        FROM runs GROUP BY user_id, version_id),
    dim AS (
        SELECT user_id, version_id, attr, valid_from,
               LEAD(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY version_id) AS valid_to
        FROM versions)
"""


@register(
    "wh_scd2_asof_join",
    _SCD2_VERSIONS_SQL
    + """
    SELECT f.event_id, f.user_id, f.ts, d.version_id,
           d.attr AS dim_attr_asof
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') f
    JOIN dim d
      ON f.user_id = d.user_id
     AND d.valid_from <= f.ts
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
    doc="warehouse: fact-to-SCD2 as-of join — every purchase event picks "
    "the dimension version VALID AT ITS TIMESTAMP (the entire point of "
    "keeping Type-2 history; wh_pit_snapshot is the other direction, "
    "reconstructing the whole dim at one instant). Implementation is "
    "the scale shape: an EQUI-join on user_id with the validity range "
    "as residual predicates — a hash join with bounded per-key version "
    "fan-out, never an interval cross product; intervals partition "
    "each user's timeline so exactly one version matches per fact row "
    "(pytest-pinned). Versions come from the same gaps-and-islands "
    "build as wh_scd2_build.",
    tags=("warehouse",),
)
def wh_scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir).table("events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = F.lag("event_type").over(w)
    is_change = F.when(
        lagged.isNull() | (lagged != F.col("event_type")), 1
    ).otherwise(0)
    runs = e.withColumn(
        "version_id",
        F.sum(is_change).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    versions = runs.groupBy("user_id", "version_id").agg(
        F.min("event_type").alias("attr"),
        F.min("ts").alias("valid_from"),
    )
    wv = Window.partitionBy("user_id").orderBy("version_id")
    dim = versions.withColumn("valid_to", F.lead("valid_from").over(wv))

    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("f_user_id"), "ts"
    )
    cond = (
        (facts.f_user_id == dim.user_id)
        & (dim.valid_from <= facts.ts)
        & (dim.valid_to.isNull() | (facts.ts < dim.valid_to))
    )
    return facts.join(dim, cond).select(
        "event_id",
        F.col("f_user_id").alias("user_id"),
        "ts",
        "version_id",
        F.col("attr").alias("dim_attr_asof"),
    )


@register(
    "wh_data_diff_summary",
    """
    WITH v_old AS (
        SELECT * FROM orders WHERE o_orderkey % 4 != 0),
    v_new AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 3 = 0
                    THEN o_totalprice + 1.0 ELSE o_totalprice END
                   AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 5 != 0),
    profiles AS (
        SELECT 'old' AS v, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS price_cents,
               MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
        FROM v_old
        UNION ALL
        SELECT 'new', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
               MIN(o_orderdate), MAX(o_orderdate)
        FROM v_new)
    SELECT o.n_rows AS rows_old, n.n_rows AS rows_new,
           n.n_rows - o.n_rows AS rows_delta,
           o.n_customers AS cust_old, n.n_customers AS cust_new,
           n.price_cents - o.price_cents AS price_cents_delta,
           CAST(o.min_date = n.min_date AS INTEGER) AS min_date_same,
           CAST(o.max_date = n.max_date AS INTEGER) AS max_date_same
    FROM (SELECT * FROM profiles WHERE v = 'old') o
    CROSS JOIN (SELECT * FROM profiles WHERE v = 'new') n
    """,
    doc="warehouse QA: data-diff summary between two table versions — "
    "aggregate profiles (row counts, distinct keys, exact cent totals, "
    "date spans) computed per version and reduced to a one-row delta "
    "report. This is the cheap O(scan) first pass a migration runs "
    "BEFORE the O(rows) wh_snapshot_diff / op_checksum_table row-level "
    "tools: profile deltas localize WHAT drifted (volume vs value vs "
    "span) for free. Versions are simulated with modular filters plus "
    "a value perturbation so every delta column is nonzero-exercised. "
    "The 1x1 cross join is a broadcast of one row.",
    tags=("warehouse", "quality"),
)
def wh_data_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir).table("orders")
    v_old = o.filter(F.col("o_orderkey") % 4 != 0)
    v_new = o.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )

    def profile(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias(f"n_rows_{tag}"),
            F.countDistinct("o_custkey").alias(f"n_cust_{tag}"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias(f"cents_{tag}"),
            F.min("o_orderdate").alias(f"min_d_{tag}"),
            F.max("o_orderdate").alias(f"max_d_{tag}"),
        )

    j = profile(v_old, "o").crossJoin(F.broadcast(profile(v_new, "n")))
    return j.select(
        F.col("n_rows_o").alias("rows_old"),
        F.col("n_rows_n").alias("rows_new"),
        (F.col("n_rows_n") - F.col("n_rows_o")).alias("rows_delta"),
        F.col("n_cust_o").alias("cust_old"),
        F.col("n_cust_n").alias("cust_new"),
        (F.col("cents_n") - F.col("cents_o")).alias("price_cents_delta"),
        (F.col("min_d_o") == F.col("min_d_n")).cast("integer").alias("min_date_same"),
        (F.col("max_d_o") == F.col("max_d_n")).cast("integer").alias("max_date_same"),
    )


@register(
    "wh_cdc_apply_with_deletes",
    """
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 != 0),
    feed AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 1 THEN 'D' ELSE 'U' END AS op,
               'X' AS o_orderstatus, o_totalprice + 5.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0),
    merged AS (
        SELECT COALESCE(f.o_orderkey, b.o_orderkey) AS o_orderkey,
               CASE WHEN f.op = 'D' THEN NULL
                    WHEN f.o_orderkey IS NOT NULL THEN f.o_orderstatus
                    ELSE b.o_orderstatus END AS o_orderstatus,
               CASE WHEN f.op = 'D' THEN NULL
                    WHEN f.o_orderkey IS NOT NULL THEN f.o_totalprice
                    ELSE b.o_totalprice END AS o_totalprice,
               CASE WHEN f.op = 'D' THEN 1 ELSE 0 END AS deleted
        FROM base b FULL OUTER JOIN feed f ON b.o_orderkey = f.o_orderkey)
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM merged WHERE deleted = 0
    """,
    doc="warehouse: CDC apply WITH delete tombstones — the change feed "
    "carries op IN ('U','D'); upserts overwrite-or-insert (full-outer "
    "on the key, feed side wins) and tombstones REMOVE the row; a delete for a key the base never had "
    "falls through the same CASE chain as a no-op. Completes wh_merge_upsert (no deletes) and "
    "wh_snapshot_diff (which EXTRACTS such feeds): extract -> apply "
    "round-trips a table. One keyed shuffle; output O(base + feed). "
    "On a transactional format the same semantics are MERGE ... WHEN "
    "MATCHED AND op='D' THEN DELETE.",
    tags=("warehouse",),
)
def wh_cdc_apply_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir).table("orders")
    base = o.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    feed = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 1, "D").otherwise("U").alias("op"),
        F.lit("X").alias("f_status"),
        (F.col("o_totalprice") + 5.0).alias("f_price"),
    )
    j = base.alias("b").join(
        feed.alias("f"), F.col("b.o_orderkey") == F.col("f.o_orderkey"), "full_outer"
    )
    in_feed = F.col("f.o_orderkey").isNotNull()
    deleted = F.col("f.op") == "D"
    return (
        j.select(
            F.coalesce(F.col("f.o_orderkey"), F.col("b.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.when(deleted, F.lit(None))
            .when(in_feed, F.col("f.f_status"))
            .otherwise(F.col("b.o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(deleted, F.lit(None))
            .when(in_feed, F.col("f.f_price"))
            .otherwise(F.col("b.o_totalprice"))
            .alias("o_totalprice"),
            F.when(deleted, 1).otherwise(0).alias("deleted"),
        )
        .filter(F.col("deleted") == 0)
        .drop("deleted")
    )


# ---------------------------------------------------------------------------
# Late-arriving dimension handling (round 4, continuation)
# ---------------------------------------------------------------------------

# Simulated late arrival: every 5th part has not reached the dimension yet
# when the fact lines referencing it load.
LATE_DIM_MOD = 5
_REV_DEC = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"


@register(
    "wh_late_arriving_dim",
    f"""
    WITH dim AS (
        SELECT p_partkey, p_name FROM part
        WHERE p_partkey % {LATE_DIM_MOD} != 0)
    SELECT l_partkey AS part_id,
           CASE WHEN d.p_partkey IS NULL THEN 1 ELSE 0 END AS is_inferred,
           COALESCE(d.p_name, 'Unknown (late arriving)') AS description,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM({_REV_DEC}) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM lineitem LEFT JOIN dim d ON l_partkey = d.p_partkey
    GROUP BY 1, 2, 3
    """,
    doc="warehouse: late-arriving dimension handling (Kimball inferred "
    "members) — fact lines whose dimension row has not arrived yet keep "
    "flowing: LEFT join instead of the star's implicit-drop INNER join, "
    "an is_inferred flag, and a placeholder description the real dim row "
    "later overwrites (the MERGE in wh_merge_upsert is that backfill). "
    "Contrast star_fct_invoice_line_value, where dropping unmatched "
    "lines is the contract. Scale: identical join/agg shape to the fact "
    "build — one equi-join (AQE picks broadcast when the dim side is "
    "small) and one partial-first aggregate; the inferred-member branch "
    "is a map-side CASE, no extra pass. Reference analogue: none "
    "(WRITE_TRUNCATE rebuilds never face late arrivals; this is the "
    "incremental-world counterpart).",
    tags=("warehouse",),
)
def wh_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    # layout-gated spread (r13): the decimal revenue partial aggregate is
    # per-row map CPU over every fact line — narrow layouts serialized it
    # (measured 0.79 -> 0.41 s at sf0.1); wide layouts skip the exchange.
    li = cat.spread("lineitem", "l_partkey")
    dim = (
        cat.table("part")
        .filter(F.col("p_partkey") % LATE_DIM_MOD != 0)
        .select("p_partkey", "p_name")
    )
    revenue_dec = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(18,4)")
    return (
        li.join(dim, li.l_partkey == dim.p_partkey, "left")
        .groupBy(
            F.col("l_partkey").alias("part_id"),
            F.when(F.col("p_partkey").isNull(), 1).otherwise(0).alias("is_inferred"),
            F.coalesce(F.col("p_name"), F.lit("Unknown (late arriving)")).alias(
                "description"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(revenue_dec)
            .cast("decimal(18,4)")
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Small-file compaction planning (round 4, continuation)
# ---------------------------------------------------------------------------

# Simulated file manifest: one "file" per (l_returnflag, ship day), sized at
# 512 bytes/row. Next-fit bin packing into ~64 KiB compaction bins.
COMPACTION_ROW_BYTES = 512
COMPACTION_TARGET_BYTES = 64 * 1024


@register(
    "wh_compaction_plan",
    f"""
    WITH files AS (
        SELECT l_returnflag AS layout_key,
               CAST(date_trunc('day', l_shipdate) AS DATE) AS file_day,
               CAST(COUNT(*) * {COMPACTION_ROW_BYTES} AS BIGINT) AS size_bytes
        FROM lineitem
        GROUP BY 1, 2),
    planned AS (
        SELECT layout_key, file_day, size_bytes,
               COALESCE(SUM(size_bytes) OVER (
                   ORDER BY layout_key, file_day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS bytes_before
        FROM files)
    SELECT layout_key, file_day, size_bytes,
           CAST(FLOOR(bytes_before / {COMPACTION_TARGET_BYTES}.0) AS BIGINT)
               AS bin_id
    FROM planned
    """,
    doc="warehouse maintenance: small-file compaction planning — the "
    "manifest (one row per data file with its size; simulated here as "
    "one file per (returnflag, ship-day) at 512 B/row) is packed "
    "next-fit into ~64 KiB target bins: files ordered by layout key, "
    "bin = floor(running-bytes-before / target), so co-located files "
    "land in the same bin and every bin except the last is filled to "
    "target. Executing the plan is then one repartition-by-bin_id write. "
    "Scale: the window runs over the MANIFEST, not the data — millions "
    "of manifest rows, metadata-scale; the single-partition global "
    "window is the deliberate trade for a strictly sequential next-fit "
    "(a per-layout-key partitioned window is the parallel variant when "
    "bins never span layout keys). All-integer arithmetic: hash-exact "
    "across engines. Reference analogue: none (BigQuery manages its own "
    "storage); this is the lakehouse OPTIMIZE/compact primitive.",
    tags=("warehouse",),
)
def wh_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir).table("lineitem")
    files = li.groupBy(
        F.col("l_returnflag").alias("layout_key"),
        F.to_date(F.date_trunc("day", "l_shipdate")).alias("file_day"),
    ).agg((F.count(F.lit(1)) * COMPACTION_ROW_BYTES).alias("size_bytes"))
    w = (
        Window.orderBy("layout_key", "file_day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "bytes_before", F.coalesce(F.sum("size_bytes").over(w), F.lit(0))
    )
    return planned.select(
        "layout_key",
        "file_day",
        "size_bytes",
        F.floor(
            F.col("bytes_before") / float(COMPACTION_TARGET_BYTES)
        ).alias("bin_id"),
    )


# ---------------------------------------------------------------------------
# Surrogate-id assignment with a high-water mark (round 4, continuation)
# ---------------------------------------------------------------------------

SURROGATE_EXISTING_MOD = 3


@register(
    "wh_dim_surrogate_assign",
    f"""
    WITH existing AS (
        SELECT p_partkey,
               CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT)
                   AS surrogate_id
        FROM part WHERE p_partkey % {SURROGATE_EXISTING_MOD} = 0),
    hw AS (SELECT COALESCE(MAX(surrogate_id), 0) AS high_water FROM existing),
    incoming AS (
        SELECT p_partkey FROM part
        WHERE p_partkey % {SURROGATE_EXISTING_MOD} != 0)
    SELECT p_partkey, surrogate_id, CAST(0 AS INT) AS is_new FROM existing
    UNION ALL
    SELECT i.p_partkey,
           hw.high_water
               + CAST(row_number() OVER (ORDER BY i.p_partkey) AS BIGINT)
               AS surrogate_id,
           CAST(1 AS INT) AS is_new
    FROM incoming i, hw
    """,
    doc="warehouse: monotonic surrogate-id assignment for new dimension "
    "members — incoming natural keys get high_water + row_number() ids "
    "(deterministic natural-key order), existing members keep theirs; "
    "the id sequence never reuses or gaps. This is the identity-column "
    "pattern where the table format has none (Kimball surrogate "
    "pipeline, step 2 after the wh_late_arriving_dim inference). The "
    "1-row high-water frame broadcasts. Scale: row_number over a "
    "global order single-partitions the NEW-member slice only (dim "
    "deltas are metadata-scale); for fact-scale id assignment swap in "
    "monotonically_increasing_id + a per-partition offset fixup — "
    "contiguity costs a sort, uniqueness alone does not. Contrast "
    "functions/keys.surrogate_key (md5, content-addressed): hash keys "
    "survive reruns, integer keys stay join/sort-friendly and 8 bytes.",
    tags=("warehouse",),
)
def wh_dim_surrogate_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_tables(spark, sf_dir).table("part")
    w = Window.orderBy("p_partkey")
    existing = (
        p.filter(F.col("p_partkey") % SURROGATE_EXISTING_MOD == 0)
        .select("p_partkey")
        .withColumn("surrogate_id", F.row_number().over(w).cast("long"))
    )
    hw = existing.agg(
        F.coalesce(F.max("surrogate_id"), F.lit(0)).alias("high_water")
    )
    incoming = (
        p.filter(F.col("p_partkey") % SURROGATE_EXISTING_MOD != 0)
        .select("p_partkey")
        .withColumn("rn", F.row_number().over(w).cast("long"))
    )
    new_rows = incoming.crossJoin(F.broadcast(hw)).select(
        "p_partkey",
        (F.col("high_water") + F.col("rn")).alias("surrogate_id"),
        F.lit(1).alias("is_new"),
    )
    return existing.select(
        "p_partkey", "surrogate_id", F.lit(0).alias("is_new")
    ).unionByName(new_rows)


# ---------------------------------------------------------------------------
# SCD type 3 (round 4, continuation)
# ---------------------------------------------------------------------------


@register(
    "wh_scd3_prior_value",
    """
    WITH versions AS (
        SELECT o_custkey AS cust, o_orderkey AS version_key,
               o_orderstatus AS status,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC)
                   AS rn,
               LEAD(o_orderstatus) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS prior_status
        FROM orders)
    SELECT cust, version_key, status AS current_status, prior_status
    FROM versions WHERE rn = 1
    """,
    doc="warehouse: SCD TYPE 3 — current value plus ONE prior value as "
    "columns on the same row (the limited-history trade: type 1 "
    "overwrites [wh_merge_upsert], type 2 keeps every version as rows "
    "[wh_scd2_build], type 3 keeps exactly one step of history as a "
    "column — the 'previous segment' reporting shape). Derived from "
    "the orders change stream: latest status per customer + LEAD one "
    "step down the same descending window, one rn=1 filter — a single "
    "window pass, one exchange, WindowGroupLimit-prunable since only "
    "rn=1 survives. NULL prior = customer has a single version (the "
    "honest first-load state). Fully deterministic ordering "
    "(date, key).",
    tags=("warehouse",),
)
def wh_scd3_prior_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir).table("orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.select(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderkey").alias("version_key"),
            F.col("o_orderstatus").alias("status"),
            F.row_number().over(w).alias("rn"),
            F.lead("o_orderstatus").over(w).alias("prior_status"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cust",
            "version_key",
            F.col("status").alias("current_status"),
            "prior_status",
        )
    )


# ---------------------------------------------------------------------------
# Bitemporal reconstruction (round 4, third continuation)
# ---------------------------------------------------------------------------

# The change log carries TWO time axes: valid time (when the fact was true
# in the world — the event ts) and transaction time (when the warehouse
# learned it — simulated as the event ts plus a deterministic 0-6 h
# recording lag derived from event_id). Fixed literal cutoffs sit well
# inside the fixture's Jan-2024 span at every SF; the tx cutoff trails
# the valid cutoff by only 2 h so assertions recorded with a longer lag
# are genuinely invisible at T (the bitemporal axis does real work).

BITEMPORAL_TX_CUTOFF = "2024-01-15 02:00:00"
BITEMPORAL_VALID_CUTOFF = "2024-01-15 00:00:00"
_US_PER_HOUR = 3_600_000_000


@register(
    "wh_bitemporal_asof",
    f"""
    WITH changes AS (
        SELECT user_id, event_type AS val,
               CAST(ts AS TIMESTAMP) AS valid_from,
               CAST(ts AS TIMESTAMP)
                   + (event_id % 7) * INTERVAL 1 HOUR AS tx_from,
               event_id
        FROM events),
    visible AS (
        SELECT * FROM changes
        WHERE tx_from <= TIMESTAMP '{BITEMPORAL_TX_CUTOFF}'
          AND valid_from <= TIMESTAMP '{BITEMPORAL_VALID_CUTOFF}'),
    ranked AS (
        SELECT user_id, val, valid_from, tx_from,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY valid_from DESC, tx_from DESC, event_id DESC)
                   AS rn,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
                   AS n_visible
        FROM visible)
    SELECT user_id, val, valid_from, tx_from, n_visible
    FROM ranked WHERE rn = 1
    """,
    doc="warehouse: BITEMPORAL as-of reconstruction — 'as the warehouse "
    "knew it at transaction time T, what was valid at time V'. Valid "
    "time is the event ts; transaction time adds a deterministic 0-6 h "
    "recording lag (event_id % 7 hours), so late-arriving corrections "
    "genuinely change what each tx cutoff can see. Kernel: filter both "
    "axes, then one window pass picks the latest-valid assertion, "
    "transaction-latest among equal valid times (the Snodgrass/SQL:2011 "
    "current-of-both-axes query); n_visible counts the assertions the "
    "cutoff could see, i.e. the superseded history depth. Differs from "
    "wh_pit_snapshot (valid time only — it assumes the warehouse already "
    "knows everything) exactly where bitemporal auditability lives: "
    "re-running with an older T reproduces what a report SHOWED then, "
    "not what was later corrected. Timestamp arithmetic runs in integer "
    "microseconds on the Spark side (timestamp_micros/unix_micros) and "
    "INTERVAL hours in DuckDB — identical at us precision, UTC-pinned "
    "session. Scale: both cutoff filters are scan predicates (no "
    "shuffle); the single user_id exchange serves the window rank and "
    "the visibility count; at 100 TB the tx filter prunes whole "
    "partitions when the log is written tx-date-partitioned.",
    tags=("warehouse",),
)
def wh_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir).table("events").select(
        "user_id",
        F.col("event_type").alias("val"),
        F.col("ts").alias("valid_from"),
        F.timestamp_micros(
            F.unix_micros("ts") + (F.col("event_id") % 7) * _US_PER_HOUR
        ).alias("tx_from"),
        "event_id",
    )
    visible = e.filter(
        (F.col("tx_from") <= F.lit(BITEMPORAL_TX_CUTOFF).cast("timestamp"))
        & (
            F.col("valid_from")
            <= F.lit(BITEMPORAL_VALID_CUTOFF).cast("timestamp")
        )
    )
    w = Window.partitionBy("user_id")
    ranked = visible.select(
        "user_id",
        "val",
        "valid_from",
        "tx_from",
        F.row_number()
        .over(
            w.orderBy(
                F.col("valid_from").desc(),
                F.col("tx_from").desc(),
                F.col("event_id").desc(),
            )
        )
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_visible"),
    )
    return ranked.filter(F.col("rn") == 1).drop("rn")


# ---------------------------------------------------------------------------
# SCD type 6 (hybrid 1+2+3) — round 4, third continuation
# ---------------------------------------------------------------------------


@register(
    "wh_scd6_hybrid",
    """
    WITH ordered AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN LAG(event_type) OVER w IS NULL
                      OR LAG(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS is_change
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(SUM(is_change) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS version_id
        FROM ordered),
    versions AS (
        SELECT user_id, version_id, MIN(event_type) AS event_type,
               MIN(ts) AS valid_from
        FROM runs GROUP BY user_id, version_id)
    SELECT user_id, version_id, event_type AS historical_value,
           valid_from,
           LEAD(valid_from) OVER w2 AS valid_to,
           CAST(LEAD(valid_from) OVER w2 IS NULL AS INT) AS is_current,
           LAG(event_type) OVER w2 AS prior_value,
           LAST_VALUE(event_type) OVER (PARTITION BY user_id
               ORDER BY version_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS current_value
    FROM versions
    WINDOW w2 AS (PARTITION BY user_id ORDER BY version_id)
    """,
    doc="warehouse: SCD TYPE 6 (hybrid 1+2+3) completes the taxonomy "
    "(1 = wh_merge_upsert overwrite, 2 = wh_scd2_build history rows, "
    "3 = wh_scd3_prior_value one-step memory): every type-2 history "
    "row ADDITIONALLY carries the type-3 prior value AND the type-1 "
    "current value overwritten onto all of that key's rows — the shape "
    "that lets 'as-was' (historical_value), 'as-of-previous' "
    "(prior_value) and 'as-is' (current_value) reporting share one "
    "table without joins at read time. The current value is an "
    "unbounded-following LAST_VALUE over the version order; everything "
    "rides the SAME user_id exchange as the type-2 build (one extra "
    "window function, zero extra shuffles). Deterministic (ts, "
    "event_id) tie-breaks everywhere, all categorical/timestamp "
    "outputs: hash-exact.",
    tags=("warehouse",),
)
def wh_scd6_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir).table("events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = F.lag("event_type").over(w)
    is_change = F.when(
        lagged.isNull() | (lagged != F.col("event_type")), 1
    ).otherwise(0)
    runs = e.withColumn(
        "version_id",
        F.sum(is_change).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    versions = runs.groupBy("user_id", "version_id").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
    )
    w2 = Window.partitionBy("user_id").orderBy("version_id")
    valid_to = F.lead("valid_from").over(w2)
    return versions.select(
        "user_id",
        "version_id",
        F.col("event_type").alias("historical_value"),
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"),
        F.lag("event_type").over(w2).alias("prior_value"),
        F.last("event_type")
        .over(
            w2.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("current_value"),
    )
