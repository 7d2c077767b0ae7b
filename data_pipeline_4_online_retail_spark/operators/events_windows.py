"""Time-window operators over the ``events`` table — the batch twins of the
Structured Streaming surface (streaming/windows.py builds the same plans on
a readStream source; SURVEY.md §2.10).

Windows are computed with Spark's native ``window`` / ``session_window``
functions; oracles re-derive the same bucketing with epoch arithmetic and
gaps-and-islands SQL. Value sums use the exact-DECIMAL discipline.

Scale: tumbling/hopping aggregation is a single shuffle on
(window, event_type); session windows shuffle on user_id — the natural
key — and AQE handles user skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.session import persist_scoped
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

TUMBLE_SECONDS = 600
HOP_SECONDS = 300
SESSION_GAP = "5 minutes"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir).table("events")


@register(
    "ev_tumbling_window",
    f"""
    SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / {TUMBLE_SECONDS}) AS BIGINT) * {TUMBLE_SECONDS}) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="streaming twin: 10-minute tumbling window counts + value sums "
    "(epoch-aligned, identical to F.window's bucketing)",
)
def ev_tumbling_window(spark, sf_dir):
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.window("ts", f"{TUMBLE_SECONDS} seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


@register(
    "ev_hopping_window",
    f"""
    WITH assigned AS (
        SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / {HOP_SECONDS}) AS BIGINT) * {HOP_SECONDS}) AS TIMESTAMP) AS window_start, value FROM events
        UNION ALL
        SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / {HOP_SECONDS}) AS BIGINT) * {HOP_SECONDS} - {HOP_SECONDS}) AS TIMESTAMP), value FROM events
    )
    SELECT window_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM assigned
    GROUP BY 1
    """,
    doc="streaming twin: 10-minute window hopping every 5 minutes — each "
    "event lands in exactly two windows (Spark explodes window instances "
    "before the aggregate; the oracle unions the two grid alignments)",
)
def ev_hopping_window(spark, sf_dir):
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.window("ts", f"{TUMBLE_SECONDS} seconds", f"{HOP_SECONDS} seconds").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "ev_session_window",
    f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 5 MINUTE OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sessions AS (
        -- same deterministic (ts, event_id) ordering as the LAG above:
        -- rows tied on ts at a session boundary must land on the same
        -- side of the is_new=1 row in both windows
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 5 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="streaming twin: 5-minute-gap session windows per user "
    "(F.session_window in batch mode; oracle = gaps-and-islands). "
    "Session end = last event + gap, matching Spark's convention.",
)
def ev_session_window(spark, sf_dir):
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "ev_interval_join",
    """
    SELECT a.event_id AS lead_event, b.event_id AS follow_event,
           a.event_type AS lead_type, b.event_type AS follow_type
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND
    """,
    doc="time-interval (range) join: follow-up events within 60s of a "
    "lead event for the same user — the batch twin of a watermarked "
    "stream-stream join. Planned as an equi-join on user_id with the "
    "time band as a post-join range predicate, so the shuffle stays "
    "keyed and narrow.",
)
def ev_interval_join(spark, sf_dir):
    e = _events(spark, sf_dir)
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 60 SECONDS")),
        )
        .select(
            F.col("a.event_id").alias("lead_event"),
            F.col("b.event_id").alias("follow_event"),
            F.col("a.event_type").alias("lead_type"),
            F.col("b.event_type").alias("follow_type"),
        )
    )


@register(
    "ev_multi_resolution_rollup",
    """
    WITH base AS (
        SELECT CAST(floor(epoch(ts) / 60) AS BIGINT) * 60 AS m1, value FROM events
    ),
    r1 AS (
        SELECT '1m' AS resolution, CAST(to_timestamp(m1) AS TIMESTAMP) AS bucket_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM base GROUP BY m1
    ),
    r10 AS (
        SELECT '10m', CAST(to_timestamp(CAST(floor(epoch(ts)/600) AS BIGINT)*600) AS TIMESTAMP),
               COUNT(*), CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        FROM events GROUP BY 2
    ),
    r60 AS (
        SELECT '1h', CAST(to_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT)*3600) AS TIMESTAMP),
               COUNT(*), CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        FROM events GROUP BY 2
    )
    SELECT * FROM r1 UNION ALL SELECT * FROM r10 UNION ALL SELECT * FROM r60
    """,
    doc="hypertable-style multi-resolution rollup: 1m/10m/1h time buckets "
    "in one result. The Spark plan computes the finest (1m) aggregation "
    "once and re-aggregates it for the coarser tiers — coarse tiers cost "
    "O(1m-bucket count), not O(events), exactly how a continuous-"
    "aggregate cascade works at 100 TB (exact-DECIMAL partials re-sum "
    "losslessly).",
)
def ev_multi_resolution_rollup(spark, sf_dir):
    e = _events(spark, sf_dir)
    minute = (
        e.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_sum"),
        )
        .select(F.col("w.start").alias("m1"), "n_events", "_sum")
    )

    def tier(df, label, seconds):
        bucket = F.timestamp_seconds(
            (F.unix_timestamp("m1") / seconds).cast("long") * seconds
        )
        return df.groupBy(bucket.alias("bucket_start")).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("_sum").cast("decimal(18,2)").cast("double").alias("total_value"),
        ).select(F.lit(label).alias("resolution"), "bucket_start", "n_events", "total_value")

    r1 = minute.select(
        F.lit("1m").alias("resolution"),
        F.col("m1").alias("bucket_start"),
        "n_events",
        F.col("_sum").cast("decimal(18,2)").cast("double").alias("total_value"),
    )
    return r1.unionByName(tier(minute, "10m", 600)).unionByName(
        tier(minute, "1h", 3600)
    )


# ---------------------------------------------------------------------------
# Product analytics: funnels and cohort retention (late round-2)
# ---------------------------------------------------------------------------


@register(
    "ev_funnel",
    """
    WITH s AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END)
                   AS signup_ts
        FROM events GROUP BY user_id),
    v AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS view_ts
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) >= s.signup_ts
        GROUP BY e.user_id),
    c AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS click_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= v.view_ts
        GROUP BY e.user_id),
    p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS purchase_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= c.click_ts
        GROUP BY e.user_id)
    SELECT s.user_id, s.signup_ts, v.view_ts, c.click_ts, p.purchase_ts,
           CASE WHEN p.purchase_ts IS NOT NULL THEN 4
                WHEN c.click_ts IS NOT NULL THEN 3
                WHEN v.view_ts IS NOT NULL THEN 2
                WHEN s.signup_ts IS NOT NULL THEN 1
                ELSE 0 END AS funnel_stage
    FROM s
    LEFT JOIN v ON s.user_id = v.user_id
    LEFT JOIN c ON s.user_id = c.user_id
    LEFT JOIN p ON s.user_id = p.user_id
    """,
    doc="product analytics: ordered funnel (signup → view → click → "
    "purchase) — each stage is the first qualifying event at-or-after "
    "the previous stage's timestamp; funnel_stage is the furthest stage "
    "reached. r12 formulation (guide §2.4: remove repeated passes): a "
    "CHAIN of four whole-partition window minima over ONE user_id "
    "partitioning — stage N's conditional min references stage N-1's "
    "window column, consecutive WindowExecs share the single exchange "
    "and sort, and the final per-user collapse is an aggregate on the "
    "already-partitioned rows. The previous join-chain (4 aggregations "
    "+ 3 joins, each stage re-deriving its upstream) planned 10 scans "
    "of events / 7 shuffle + 9 broadcast exchanges; this plans 1 scan "
    "/ 1 exchange / 4 sort-sharing WindowExecs "
    "(plans/r12/ev_funnel_{before,after}.txt) and measured 1.5-2.5x "
    "at sf0.1 AND the 10x replica with row-identical output.",
    tags=("events", "analytics"),
)
def ev_funnel(spark, sf_dir):
    """Hot-key bound, measured and accepted (SCALING §"Round 13: the
    ev_funnel window chain's skew row", 10M events, local[32]): this
    window chain buffers each user's rows on one task, so it runs 1.81 s
    on a uniform corpus but 5.29 s when 30% of all rows carry one
    user_id. The join-chain form runs 5.50 s uniform and 2.59 s on that
    skewed corpus, because its per-user aggregates combine the hot key
    map-side and AQE can split its joins. That join-chain form is the
    registered DuckDB oracle SQL above, the fallback for corpora with
    bot-grade user keys."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")

    def stage_min(etype: str, bound_col: str | None) -> F.Column:
        qualifies = F.col("event_type") == etype
        if bound_col is not None:
            # NULL bound (stage not reached) compares NULL -> the min
            # ignores every row, exactly the old join+filter behavior.
            qualifies = qualifies & (F.col("ts") >= F.col(bound_col))
        return F.min(F.when(qualifies, F.col("ts"))).over(w)

    d = (
        e.withColumn("signup_ts", stage_min("signup", None))
        .withColumn("view_ts", stage_min("view", "signup_ts"))
        .withColumn("click_ts", stage_min("click", "view_ts"))
        .withColumn("purchase_ts", stage_min("purchase", "click_ts"))
    )
    stage = (
        F.when(F.col("purchase_ts").isNotNull(), 4)
        .when(F.col("click_ts").isNotNull(), 3)
        .when(F.col("view_ts").isNotNull(), 2)
        .when(F.col("signup_ts").isNotNull(), 1)
        .otherwise(0)
    )
    # every row of a user carries identical staged values; min() is the
    # order-free collapse and needs no new exchange (already partitioned)
    return d.groupBy("user_id").agg(
        F.min("signup_ts").alias("signup_ts"),
        F.min("view_ts").alias("view_ts"),
        F.min("click_ts").alias("click_ts"),
        F.min("purchase_ts").alias("purchase_ts"),
    ).select(
        "user_id", "signup_ts", "view_ts", "click_ts", "purchase_ts",
        stage.alias("funnel_stage"),
    )


@register(
    "ev_cohort_retention",
    """
    WITH cohort AS (
        SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_day
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT e.user_id,
               CAST(CAST(e.ts AS TIMESTAMP) AS DATE) AS active_day
        FROM events e)
    SELECT c.cohort_day,
           date_diff('day', c.cohort_day, a.active_day) AS day_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
    doc="product analytics: cohort retention — users grouped by first-"
    "activity day, counted on each later day-offset they return. "
    "Distinct (user, day) pairs first (shuffle bounded by users × days, "
    "not events), cohort join on user_id, then one aggregate. The "
    "classic retention-triangle input.",
    tags=("events", "analytics"),
)
def ev_cohort_retention(spark, sf_dir):
    # r13: one events scan instead of two. The distinct (user, day) pairs
    # keep their map-side-deduped exchange; the cohort aggregate + join
    # are replaced by a whole-partition min window over a second, PAIRS-
    # sized user_id exchange (|users × days|, not |events|) — cohort_day
    # per user is the min over that user's distinct days, identical to
    # the old per-user min over raw events, and the old inner join kept
    # exactly the pair rows (every activity user has a cohort row), so
    # the window-annotated pair set is the same relation. NULL user_ids
    # were dropped by the join; the explicit filter keeps that.
    e = _events(spark, sf_dir)
    pairs = (
        e.filter(F.col("user_id").isNotNull())
        .select("user_id", F.col("ts").cast("date").alias("active_day"))
        .distinct()
    )
    d = pairs.withColumn(
        "cohort_day",
        F.min("active_day").over(Window.partitionBy("user_id")),
    )
    return d.groupBy(
        "cohort_day",
        F.datediff("active_day", "cohort_day").alias("day_offset"),
    ).agg(F.countDistinct("user_id").alias("n_users"))


@register(
    "ev_resample_fill",
    """
    WITH daily AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2),
    bounds AS (
        SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
    grid AS (
        SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM bounds)
    SELECT g.user_id, g.day, COALESCE(daily.n_events, 0) AS n_events,
           CAST(daily.n_events IS NULL AS INT) AS gap_filled
    FROM grid g LEFT JOIN daily ON g.user_id = daily.user_id AND g.day = daily.day
    """,
    doc="time series: resample to a dense daily grid — each user's "
    "[first, last] activity span is expanded with sequence() and "
    "missing days join as zero-count gap rows (the input regular ML "
    "feature windows and forecasting expect). The grid explode is "
    "bounded by span-days per user; the join is keyed (user_id, day) — "
    "no cross join against a global calendar.",
    tags=("events", "analytics"),
)
def ev_resample_fill(spark, sf_dir):
    e = _events(spark, sf_dir)
    daily = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    return grid.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("n_events").isNull().cast("int").alias("gap_filled"),
    )


@register(
    "ev_resample_interpolate",
    """
    WITH daily AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS v
        FROM events GROUP BY 1, 2),
    bounds AS (
        SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
    grid AS (
        SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM bounds),
    j AS (
        SELECT g.user_id, g.day, daily.v
        FROM grid g LEFT JOIN daily ON g.user_id = daily.user_id
                                   AND g.day = daily.day),
    f AS (
        SELECT user_id, day, v,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
               last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d_prev,
               first_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
               first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS d_next
        FROM j)
    SELECT user_id, day,
           CASE WHEN v IS NOT NULL THEN v
                ELSE v_prev + (v_next - v_prev)
                     * (CAST(day - d_prev AS DOUBLE)
                        / CAST(d_next - d_prev AS DOUBLE)) END AS value_interp,
           CAST(v IS NULL AS INT) AS interpolated
    FROM f
    """,
    doc="time series: resample to a dense daily grid with LINEAR "
    "INTERPOLATION of the per-user mean value — the numeric twin of "
    "ev_resample_fill's zero-count fill (gauge metrics, sensor series, "
    "feature curves: missing days take the line between the flanking "
    "known days, v_prev + (v_next - v_prev) * gap_frac). Grid endpoints "
    "are always known days, so every gap has both flanks. Plan: one "
    "(user_id, day) aggregate, a bounded per-user sequence() explode, "
    "and two ordered window passes over the SAME user_id partitioning — "
    "three shuffles total, none corpus-sized. Daily means use exact "
    "decimal sums / count (AVG(double) is partition-order-dependent); "
    "the interpolation arithmetic is written identically in both "
    "engines, so the doubles hash exactly.",
    tags=("events", "analytics"),
)
def ev_resample_interpolate(spark, sf_dir):
    e = _events(spark, sf_dir)
    daily = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("v").isNotNull(), F.col("day"))
    f = j.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("v_prev"),
        F.last(known_day, ignorenulls=True).over(w_prev).alias("d_prev"),
        F.first("v", ignorenulls=True).over(w_next).alias("v_next"),
        F.first(known_day, ignorenulls=True).over(w_next).alias("d_next"),
    )
    gap_frac = F.datediff("day", "d_prev").cast("double") / F.datediff(
        "d_next", "d_prev"
    ).cast("double")
    return f.select(
        "user_id",
        "day",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(F.col("v_prev") + (F.col("v_next") - F.col("v_prev")) * gap_frac)
        .alias("value_interp"),
        F.col("v").isNull().cast("int").alias("interpolated"),
    )


@register(
    "ev_markov_transitions",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY 1, 2),
    totals AS (
        SELECT from_type, SUM(n) AS n_from FROM pairs GROUP BY from_type)
    SELECT p.from_type, p.to_type, p.n,
           CAST(p.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p_transition
    FROM pairs p JOIN totals t ON p.from_type = t.from_type
    """,
    doc="events: first-order Markov transition matrix over per-user "
    "event sequences — lead() within (user_id; ts, event_id order) "
    "pairs each event with its successor, one aggregate counts "
    "(from, to) transitions, and row-normalization divides by the "
    "from-state total (integer counts → single exact division; "
    "hash-stable doubles). The journey-analysis primitive behind "
    "next-action prediction and funnel-leak diagnosis. Plan: one "
    "user_id window shuffle + one vocabulary-sized aggregate — the "
    "transition matrix is |event_types|², never corpus-sized.",
    tags=("events", "analytics"),
)
def ev_markov_transitions(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    pairs = (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return pairs.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("n_from").cast("double")).alias(
            "p_transition"
        ),
    )


@register(
    "ev_anomaly_zscore",
    """
    WITH daily AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2),
    stats AS (
        SELECT user_id,
               COUNT(*) AS n_days,
               CAST(SUM(CAST(n_events AS DECIMAL(18,4))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(n_events AS DECIMAL(18,4))
                        * CAST(n_events AS DECIMAL(18,4))) AS DOUBLE) AS s2
        FROM daily GROUP BY user_id)
    SELECT d.user_id, d.day, d.n_events,
           (CAST(d.n_events AS DOUBLE) - (s1 / n_days))
               / sqrt((s2 / n_days) - (s1 / n_days) * (s1 / n_days)) AS zscore,
           CAST(abs((CAST(d.n_events AS DOUBLE) - (s1 / n_days))
                / sqrt((s2 / n_days) - (s1 / n_days) * (s1 / n_days))) > 2.0
                AS INT) AS is_anomaly
    FROM daily d JOIN stats s ON d.user_id = s.user_id
    WHERE (s2 / n_days) - (s1 / n_days) * (s1 / n_days) > 0
    """,
    doc="events: per-user daily-volume anomaly flags — z-score of each "
    "day's event count against that user's own history, |z| > 2 flagged "
    "(the monitoring primitive behind bot/burst detection). Float "
    "discipline: counts are integers, so sum and sum-of-squares are "
    "EXACT decimals; the population-variance formula s2/n - (s1/n)^2 is "
    "then identical IEEE arithmetic in both engines and sqrt is "
    "correctly rounded — the z-scores hash exactly. Zero-variance users "
    "(constant daily volume) are excluded rather than emitting NULL/inf. "
    "Plan: one (user_id, day) aggregate, one user_id aggregate, one "
    "keyed join — no window over raw events.",
    tags=("events", "analytics"),
)
def ev_anomaly_zscore(spark, sf_dir):
    e = _events(spark, sf_dir)
    daily = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    dec = F.col("n_events").cast("decimal(18,4)")
    stats = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n_days")
    var = (F.col("s2") / F.col("n_days")) - mean * mean
    z = (F.col("n_events").cast("double") - mean) / F.sqrt(var)
    return (
        daily.join(stats, "user_id")
        .filter(var > 0)
        .select(
            "user_id",
            "day",
            "n_events",
            z.alias("zscore"),
            (F.abs(z) > 2.0).cast("int").alias("is_anomaly"),
        )
    )


@register(
    "ev_sketch_rollup_uniques",
    """
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
        FROM events),
    weekly AS (
        SELECT date_trunc('week', day) AS week,
               COUNT(DISTINCT user_id) AS exact_uniques
        FROM daily GROUP BY 1)
    SELECT CAST(week AS DATE) AS week, exact_uniques,
           1 AS within_bound
    FROM weekly
    """,
    doc="events: mergeable-sketch rollup — per-DAY HyperLogLog sketches "
    "(Datasketches hll_sketch_agg, lgK=14) union into WEEK uniques "
    "WITHOUT rescanning raw events: the pre-aggregated-sketch-table "
    "pattern that makes 100 TB dashboards cheap (daily sketch rows are "
    "KBs; any date-range distinct count is a sketch union, and unlike "
    "raw COUNT(DISTINCT) rollups, sketches compose — "
    "distinct-per-day does NOT sum to distinct-per-month). Contract: "
    "exact_uniques is the fully hash-checked value (computed alongside "
    "for verification); within_bound asserts the SKETCH-UNION estimate "
    "lies within 2% of it (lgK=14 sigma ~0.8%), with the oracle pinning "
    "the expected outcome 1 — a drifting sketch reds the row. The "
    "estimate itself is engine-specific and stays out of the hash.",
    tags=("events", "analytics"),
)
def ev_sketch_rollup_uniques(spark, sf_dir):
    e = _events(spark, sf_dir)
    daily = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    day_sketches = daily.groupBy("day").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    weekly_est = day_sketches.groupBy(
        F.date_trunc("week", "day").cast("date").alias("week")
    ).agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    weekly_exact = daily.groupBy(
        F.date_trunc("week", "day").cast("date").alias("week")
    ).agg(F.countDistinct("user_id").alias("exact_uniques"))
    return weekly_exact.join(weekly_est, "week").select(
        "week",
        "exact_uniques",
        (
            F.abs(F.col("est") - F.col("exact_uniques"))
            <= 0.02 * F.col("exact_uniques")
        )
        .cast("int")
        .alias("within_bound"),
    )


ATTRIB_LOOKBACK_US = 3_600_000_000  # 1 hour


@register(
    "ev_attribution_last_touch",
    f"""
    WITH touches AS (
        SELECT user_id, ts, event_type FROM events
        WHERE event_type IN ('click', 'view')),
    conv AS (
        SELECT p.user_id, p.event_id, p.value, t.event_type AS touch_type,
               t.ts AS touch_ts, p.ts AS conv_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN touches t
          ON p.user_id = t.user_id AND p.ts >= t.ts)
    SELECT COALESCE(CASE WHEN epoch_us(CAST(conv_ts AS TIMESTAMP))
                              - epoch_us(CAST(touch_ts AS TIMESTAMP))
                              <= {ATTRIB_LOOKBACK_US}
                         THEN touch_type END, 'unattributed') AS channel,
           CAST(COUNT(*) AS BIGINT) AS conversions,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM conv
    GROUP BY 1
    """,
    doc="events: last-touch attribution report — each purchase credits "
    "the latest click/view at-or-before it for the same user, but only "
    "within a 1-hour lookback (stale touches -> 'unattributed'). "
    "Composition of the as-of union-window mechanism (ev_asof_join) "
    "with the revenue aggregate: ONE user_id shuffle feeds the ordered "
    "per-user pass, then a 3-row report aggregate. Oracle uses DuckDB's "
    "native ASOF LEFT JOIN over the same touch set. Revenue follows the "
    "exact-DECIMAL discipline.",
    tags=("events",),
)
def ev_attribution_last_touch(spark, sf_dir):
    e = _events(spark, sf_dir)
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        "ts",
        F.col("event_type").alias("touch_type"),
        F.lit(0).alias("is_conv"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
    )
    convs = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("string").alias("touch_type"),
        F.lit(1).alias("is_conv"),
        "event_id",
        "value",
    )
    u = touches.unionByName(convs)
    # Touches sort before conversions at identical ts (is_conv asc):
    # a touch exactly at the purchase ts is creditable — ASOF's `>=`.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_conv", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    annotated = (
        u.withColumn(
            "last_touch_type",
            F.last(F.when(F.col("is_conv") == 0, F.col("touch_type")), True).over(w),
        )
        .withColumn(
            "last_touch_ts",
            F.last(F.when(F.col("is_conv") == 0, F.col("ts")), True).over(w),
        )
        .filter(F.col("is_conv") == 1)
    )
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("last_touch_ts").cast("timestamp")
    )
    channel = F.coalesce(
        F.when(gap_us <= ATTRIB_LOOKBACK_US, F.col("last_touch_type")),
        F.lit("unattributed"),
    )
    return (
        annotated.select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


SESSIONIZE_GAP_US = 300 * 1_000_000  # 5 minutes, microsecond-exact


@register(
    "ev_sessionize",
    f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {SESSIONIZE_GAP_US}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    tagged AS (
        SELECT user_id, event_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM ordered)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
               AS duration_us,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM tagged GROUP BY user_id, session_no
    """,
    doc="sessionization primitive: gaps-and-islands session assignment "
    "(new session when the inter-event gap exceeds 5 min), then "
    "per-session stats. This is the ID-ASSIGNING twin of "
    "ev_session_window (which only aggregates): downstream feature "
    "pipelines need the (user_id, session_no) key on every event. "
    "Scale: one shuffle on user_id serves both window passes and the "
    "final aggregate (same key); microsecond-exact gap arithmetic "
    "(epoch_us / unix_micros) keeps both engines bit-identical. "
    "Reference analogue: none (the retail pipeline has no behavioral "
    "sessions); modeled on standard web-analytics sessionization.",
    tags=("events",),
)
def ev_sessionize(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    tagged = e.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > SESSIONIZE_GAP_US), 1).otherwise(0),
    ).withColumn("session_no", F.sum("new_session").over(run))
    return tagged.groupBy("user_id", F.col("session_no").cast("long").alias("session_no")).agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("long")
        .alias("duration_us"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


JOURNEY_PREFIX_LEN = 5


@register(
    "ev_journey_paths",
    f"""
    WITH seq AS (
        SELECT user_id,
               array_to_string(
                   (list(event_type ORDER BY ts, event_id))
                       [1:{JOURNEY_PREFIX_LEN}],
                   '>') AS path
        FROM events GROUP BY user_id)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM seq GROUP BY path
    """,
    doc="user-journey path mining: each user's first five event types in "
    "strict (ts, event_id) order joined into a path string, counted "
    "across users — the input to funnel/Sankey analyses. Scale: "
    "collect_list is per-user (bounded by per-user activity, never "
    "corpus-sized) and the prefix truncation bounds the path domain; "
    "one user_id shuffle + one path shuffle. array_sort on "
    "struct(ts, event_id, event_type) gives the deterministic order "
    "without a window pass.",
    tags=("events",),
)
def ev_journey_paths(spark, sf_dir):
    e = _events(spark, sf_dir)
    ordered = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    path = F.array_join(
        F.slice(
            F.transform(ordered, lambda x: x["event_type"]),
            1,
            JOURNEY_PREFIX_LEN,
        ),
        ">",
    )
    per_user = e.groupBy("user_id").agg(path.alias("path"))
    return per_user.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "ev_cumulative_distinct_users",
    """
    WITH first_day AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        FROM events GROUP BY user_id),
    per_day AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM first_day GROUP BY day)
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cumulative_users
    FROM per_day
    """,
    doc="running distinct-user growth curve via the first-touch "
    "transform: cumulative COUNT(DISTINCT) over time rewritten as "
    "min-day-per-user + cumulative sum of daily first-appearances. "
    "Scale: the naive form (set union over an ever-growing window) is "
    "unbounded-state; this form is two bounded shuffles (user_id, then "
    "day) and the only global window runs over the DAY-level frame "
    "(|days|, trivially small). The same transform is what streaming "
    "dashboards use for all-time-uniques.",
    tags=("events",),
)
def ev_cumulative_distinct_users(spark, sf_dir):
    e = _events(spark, sf_dir)
    first_day = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    per_day = first_day.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.withColumn(
        "cumulative_users", F.sum("new_users").over(w).cast("long")
    )


@register(
    "ev_ab_test_metrics",
    """
    WITH assign AS (
        SELECT user_id,
               CASE WHEN CAST('0x' || substr(md5('exp1:' ||
                        CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS variant,
               CAST(CASE WHEN arg_min(event_type,
                        lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
                        lpad(CAST(event_id AS VARCHAR), 12, '0')) = 'purchase'
                    THEN 1 ELSE 0 END AS BIGINT) AS converted
        FROM events GROUP BY user_id),
    per_variant AS (
        SELECT variant,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted
        FROM assign GROUP BY variant)
    SELECT a.n_users AS n_a, a.n_converted AS conv_a,
           b.n_users AS n_b, b.n_converted AS conv_b,
           CAST(a.n_converted AS DOUBLE) / CAST(a.n_users AS DOUBLE) AS rate_a,
           CAST(b.n_converted AS DOUBLE) / CAST(b.n_users AS DOUBLE) AS rate_b,
           (CAST(a.n_converted AS DOUBLE) / CAST(a.n_users AS DOUBLE)
            - CAST(b.n_converted AS DOUBLE) / CAST(b.n_users AS DOUBLE))
           / sqrt(
               (CAST(a.n_converted + b.n_converted AS DOUBLE)
                / CAST(a.n_users + b.n_users AS DOUBLE))
               * (1 - CAST(a.n_converted + b.n_converted AS DOUBLE)
                      / CAST(a.n_users + b.n_users AS DOUBLE))
               * (1.0 / CAST(a.n_users AS DOUBLE)
                  + 1.0 / CAST(b.n_users AS DOUBLE))) AS z_score
    FROM (SELECT * FROM per_variant WHERE variant = 'A') a
    CROSS JOIN (SELECT * FROM per_variant WHERE variant = 'B') b
    """,
    doc="experimentation: A/B-test readout — users assigned to variants "
    "by salted-md5 hash (deterministic, uniform, engine-portable via "
    "the conv/'0x' 60-bit parse), per-user conversion = FIRST event is "
    "a purchase (min_by/arg_min on a padded (epoch_us, event_id) sort "
    "key — 'any purchase' saturates at 100%% on active users and "
    "degenerates the z-test, found in-round at sf0.001), "
    "then the two-proportion pooled z-score. Every float derives from "
    "four integers through IEEE-exact ops (division, sqrt correctly "
    "rounded), so both engines hash-match bit-exactly without "
    "rounding. Scale: one user_id shuffle + a 2-row variant aggregate; "
    "the final cross join is 1x1. The salted-hash assignment is the "
    "production shape (stable across sessions, no assignment table).",
    tags=("events", "experiment"),
)
def ev_ab_test_metrics(spark, sf_dir):
    e = _events(spark, sf_dir)
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    order_key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    assign = e.groupBy("user_id").agg(
        (F.min_by("event_type", order_key) == "purchase")
        .cast("long")
        .alias("converted")
    ).select(
        F.when(bucket % 2 == 0, "A").otherwise("B").alias("variant"),
        "converted",
    )
    pv = assign.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    a = pv.filter(F.col("variant") == "A").select(
        F.col("n_users").alias("n_a"), F.col("n_converted").alias("conv_a")
    )
    b = pv.filter(F.col("variant") == "B").select(
        F.col("n_users").alias("n_b"), F.col("n_converted").alias("conv_b")
    )
    j = a.crossJoin(b)
    rate_a = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pooled
        * (1 - pooled)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return j.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        ((rate_a - rate_b) / se).alias("z_score"),
    )


DWELL_CAP_US = 1800 * 1_000_000  # 30 min: tab-abandonment cap


@register(
    "ev_dwell_time",
    f"""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(lead(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))
                   - epoch_us(ts) AS dwell_us
        FROM events)
    SELECT event_type,
           CAST(COUNT(dwell_us) AS BIGINT) AS n_dwells,
           CAST(SUM(LEAST(dwell_us, {DWELL_CAP_US})) AS BIGINT)
               AS total_dwell_us,
           CAST(SUM(CASE WHEN dwell_us > {DWELL_CAP_US} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_capped
    FROM gaps
    WHERE dwell_us IS NOT NULL
    GROUP BY event_type
    """,
    doc="engagement: dwell time per event = gap to the user's next event "
    "(lead), capped at 30 min so abandoned tabs don't dominate — the "
    "standard web-analytics screen-time estimator. Each user's last "
    "event has no successor and is excluded (counted implicitly by "
    "n_events - n_dwells). All integer microsecond arithmetic: "
    "hash-exact across engines. Scale: one user_id shuffle for the "
    "lead pass, then a tiny event_type aggregate; no state beyond the "
    "window sort.",
    tags=("events",),
)
def ev_dwell_time(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dwell = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
    gaps = e.select("event_type", dwell.alias("dwell_us")).filter(
        F.col("dwell_us").isNotNull()
    )
    return gaps.groupBy("event_type").agg(
        F.count("dwell_us").alias("n_dwells"),
        F.sum(F.least(F.col("dwell_us"), F.lit(DWELL_CAP_US)))
        .cast("long")
        .alias("total_dwell_us"),
        F.sum(F.when(F.col("dwell_us") > DWELL_CAP_US, 1).otherwise(0))
        .cast("long")
        .alias("n_capped"),
    )


CM_DEPTH = 4
CM_WIDTH = 64


@register(
    "ev_cm_heavy_hitters",
    """
    WITH exact AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM events GROUP BY user_id)
    SELECT user_id, exact_n,
           1 AS no_undercount,
           1 AS overcount_ok
    FROM exact
    ORDER BY exact_n DESC, user_id
    LIMIT 20
    """,
    doc="sketching: Count-Min heavy hitters — a d x w counter matrix "
    "(d=4 seeded xxhash64 rows, w=64 buckets) built as one "
    "explode(d)+groupBy pass with full map-side combine; a key's "
    "estimate is the MIN of its d bucket counters. The sketch is "
    "mergeable (counters add), fixed-size, and never undercounts — "
    "the structure streaming top-k dashboards keep per window when "
    "the key domain is too wide for exact counts. The oracle pins "
    "no_undercount (est >= exact, a CM theorem, must hold row-by-row) "
    "and overcount_ok (est - exact <= 2dN/w... conservatively 2N/w "
    "per the standard bound; deterministic here because the seeds are "
    "fixed) at 1 for the top-20 exact hitters — so the hash-compare "
    "fails if the Spark sketch violates either bound. Scale: sketch "
    "size is d*w counters regardless of input; the only corpus-sized "
    "work is the map-side combine.",
    tags=("events", "sketch"),
)
def ev_cm_heavy_hitters(spark, sf_dir):
    e = _events(spark, sf_dir).select("user_id")
    seeds = F.array(*[F.lit(i) for i in range(CM_DEPTH)])

    hashed = e.withColumn("i", F.explode(seeds)).select(
        "i", F.pmod(F.xxhash64("i", "user_id"), F.lit(CM_WIDTH)).alias("bucket")
    )
    sketch = hashed.groupBy("i", "bucket").agg(
        F.count(F.lit(1)).alias("cell")
    )

    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = exact.select("user_id").withColumn("i", F.explode(seeds)).select(
        "user_id",
        "i",
        F.pmod(F.xxhash64("i", "user_id"), F.lit(CM_WIDTH)).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cell").alias("est"))
    )

    total = F.sum("exact_n").over(Window.partitionBy())
    bound = 2.0 * total / CM_WIDTH
    return (
        exact.join(est, "user_id")
        .withColumn("no_undercount", (F.col("est") >= F.col("exact_n")).cast("int"))
        .withColumn(
            "overcount_ok",
            ((F.col("est") - F.col("exact_n")) <= bound).cast("int"),
        )
        .select("user_id", "exact_n", "no_undercount", "overcount_ok")
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(20)
    )


BURST_FACTOR = 2.0


@register(
    "ev_burst_detection",
    f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour_start,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2),
    stats AS (
        SELECT user_id,
               CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_hourly
        FROM hourly GROUP BY user_id)
    SELECT h.user_id, h.hour_start, h.n_events, s.avg_hourly
    FROM hourly h JOIN stats s ON h.user_id = s.user_id
    WHERE h.n_events > {BURST_FACTOR} * s.avg_hourly
    """,
    doc="anomaly detection: per-user activity bursts — hours where a "
    "user's event count exceeds {f}x their own average ACTIVE-hour "
    "rate (self-normalized, so chatty users don't drown quiet ones; "
    "the fraud/abuse first-pass filter). Two aggregates over the same "
    "user_id-keyed frame — the hourly rollup's shuffle is reused by "
    "the per-user stats and the final equi-join, so one exchange "
    "total. The avg is an exact integer ratio; the comparison "
    "threshold is derived identically in both engines. Complements "
    "ev_anomaly_zscore (value-based) with a rate-based signal.",
    tags=("events", "anomaly"),
)
def ev_burst_detection(spark, sf_dir):
    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    stats = hourly.groupBy("user_id").agg(
        (F.sum("n_events").cast("double") / F.count(F.lit(1))).alias(
            "avg_hourly"
        )
    )
    return hourly.join(stats, "user_id").filter(
        F.col("n_events") > BURST_FACTOR * F.col("avg_hourly")
    ).select("user_id", "hour_start", "n_events", "avg_hourly")


@register(
    "ev_cohort_ltv",
    """
    WITH firsts AS (
        SELECT o_custkey,
               CAST(date_trunc('month', MIN(o_orderdate)) AS DATE)
                   AS cohort_month
        FROM orders GROUP BY o_custkey)
    SELECT f.cohort_month,
           CAST(date_diff('month', f.cohort_month,
                          CAST(date_trunc('month', o.o_orderdate) AS DATE))
               AS BIGINT) AS age_months,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
    doc="cohort LTV: revenue by (acquisition-month cohort x age-in-months) "
    "— the value-weighted companion to ev_cohort_retention's count "
    "triangle; cumulative sums over age give the LTV curves finance "
    "models discount. Month arithmetic is calendar-exact on both "
    "engines (date_trunc + month diff, no epoch division); revenue "
    "follows the DECIMAL discipline. Scale: one custkey shuffle for "
    "first-order months, one (cohort, age) aggregate; the join side "
    "carries only (custkey, cohort_month).",
    tags=("events", "retail"),
)
def ev_cohort_ltv(spark, sf_dir):
    o = load_tables(spark, sf_dir).table("orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate"))
        .cast("date")
        .alias("cohort_month")
    )
    j = o.join(firsts, "o_custkey")
    age = F.months_between(
        F.date_trunc("month", F.col("o_orderdate")).cast("date"),
        F.col("cohort_month"),
    ).cast("long")
    return (
        j.groupBy("cohort_month", age.alias("age_months"))
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


COVERAGE_HALF_WINDOW_US = 150 * 1_000_000  # ±2.5 min of attention per event


@register(
    "ev_interval_coverage",
    f"""
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts) - {COVERAGE_HALF_WINDOW_US} AS s,
               epoch_us(ts) + {COVERAGE_HALF_WINDOW_US} AS e
        FROM events),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s > MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv),
    islands AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged),
    merged AS (
        SELECT user_id, island, MIN(s) AS s, MAX(e) AS e
        FROM islands GROUP BY user_id, island)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(e - s) AS BIGINT) AS covered_us
    FROM merged GROUP BY user_id
    """,
    doc="interval union / coverage: each event contributes a +/-2.5 min "
    "attention window; overlapping windows MERGE (gaps-and-islands on "
    "intervals: new island when start exceeds the running max end) and "
    "the union's total length is the user's covered time — the "
    "uptime/SLA-coverage computation, immune to double-counting "
    "overlaps. NULL-vs-0 note: the first row per user has an empty "
    "preceding frame (MAX=NULL), and `s > NULL` is false in BOTH "
    "engines, so island numbering starts at 0 identically. All "
    "integer-microsecond arithmetic; one user_id shuffle drives both "
    "window passes and both aggregates.",
    tags=("events",),
)
def ev_interval_coverage(spark, sf_dir):
    e = _events(spark, sf_dir)
    iv = e.select(
        "user_id",
        (F.unix_micros("ts") - COVERAGE_HALF_WINDOW_US).alias("s"),
        (F.unix_micros("ts") + COVERAGE_HALF_WINDOW_US).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island", F.when(F.col("s") > prev_max_e, 1).otherwise(0)
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("covered_us"),
    )


@register(
    "ev_audience_overlap",
    """
    WITH seg AS (
        SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM seg GROUP BY event_type),
    inter AS (
        SELECT a.event_type AS seg_a, b.event_type AS seg_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM seg a JOIN seg b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2)
    SELECT seg_a, seg_b, n_common,
           sa.n_users AS n_a, sb.n_users AS n_b,
           CAST(n_common AS DOUBLE)
               / CAST(sa.n_users + sb.n_users - n_common AS DOUBLE)
               AS jaccard
    FROM inter
    JOIN sizes sa ON seg_a = sa.event_type
    JOIN sizes sb ON seg_b = sb.event_type
    """,
    doc="audience analysis: pairwise segment overlap — distinct "
    "(event_type, user) membership, intersections via a user-keyed "
    "self-join restricted to ordered pairs, Jaccard from three exact "
    "integers (IEEE-exact division). Scale: the self-join fan-out is "
    "per-user segment-count^2 (bounded by |event types|^2, never "
    "|users|^2) and the join is user-partitioned; for thousands of "
    "segments swap in the bitmap/minhash forms (op_bitmap_distinct, "
    "dedup_minhash_lsh) — this exact form is the audit baseline. The "
    "marketing 'audience overlap matrix' in one query.",
    tags=("events",),
)
def ev_audience_overlap(spark, sf_dir):
    e = _events(spark, sf_dir)
    seg = e.select("event_type", "user_id").distinct()
    sizes = seg.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    a, b = seg.alias("a"), seg.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("seg_a"),
            F.col("b.event_type").alias("seg_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("event_type").alias("seg_a"), F.col("n_users").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("seg_b"), F.col("n_users").alias("n_b")
    )
    return (
        inter.join(sa, "seg_a")
        .join(sb, "seg_b")
        .select(
            "seg_a",
            "seg_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


@register(
    "ev_gap_fill_forward",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    bounds AS (
        SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
        FROM daily GROUP BY user_id),
    grid AS (
        SELECT b.user_id, CAST(d AS DATE) AS day
        FROM bounds b, LATERAL (
            SELECT unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS d)),
    joined AS (
        SELECT g.user_id, g.day, dl.v,
               CAST(dl.v IS NOT NULL AS INTEGER) AS observed
        FROM grid g LEFT JOIN daily dl
          ON g.user_id = dl.user_id AND g.day = dl.day)
    SELECT user_id, day,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS v_filled,
           observed
    FROM joined
    """,
    doc="time-series: forward fill (LOCF) — the dense per-user day grid "
    "left-joins observed daily purchase values and carries the last "
    "observation forward with last_value(IGNORE NULLS) over one "
    "user-ordered pass; `observed` marks real vs carried points. "
    "Completes the imputation family: ev_resample_fill (zero-fill), "
    "ev_resample_interpolate (linear), this (LOCF — the right choice "
    "for state-like series where absence means 'unchanged'). Scale: "
    "grid size is bounded by active-span days per user; one user_id "
    "shuffle drives the join and the fill window.",
    tags=("events",),
)
def ev_gap_fill_forward(spark, sf_dir):
    e = _events(spark, sf_dir)
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("v")
        )
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias(
            "day"
        ),
    )
    joined = grid.join(daily, ["user_id", "day"], "left").withColumn(
        "observed", F.col("v").isNotNull().cast("integer")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        "observed",
    )


@register(
    "ev_seasonality_profile",
    """
    SELECT CAST(isodow(ts) AS INTEGER) AS iso_dow,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="time profiling: the weekday x hour seasonality matrix (counts, "
    "exact-decimal value sums, decimal-over-count averages) — the "
    "heatmap behind staffing/capacity curves and the denominator for "
    "ev_burst_detection-style anomaly baselines. Engine-portable "
    "calendar attrs (isodow == weekday+1). Scale: at most 168 groups; "
    "the aggregate collapses map-side to one row per (dow, hour) per "
    "partition.",
    tags=("events",),
)
def ev_seasonality_profile(spark, sf_dir):
    e = _events(spark, sf_dir)
    dec_sum = F.sum(F.col("value").cast("decimal(18,2)"))
    return e.groupBy(
        (F.weekday("ts") + 1).cast("integer").alias("iso_dow"),
        F.hour("ts").cast("integer").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum.cast("double").alias("total_value"),
        (dec_sum.cast("double") / F.count(F.lit(1))).alias("avg_value"),
    )


WAU_WINDOW_DAYS = 7


@register(
    "ev_rolling_wau",
    f"""
    WITH user_days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day
        FROM events),
    contributions AS (
        SELECT user_id,
               CAST(active_day + CAST(offs.o || ' days' AS INTERVAL)
                    AS DATE) AS day
        FROM user_days, LATERAL (
            SELECT unnest(range(0, {WAU_WINDOW_DAYS})) AS o) offs),
    wau AS (
        SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM contributions GROUP BY day),
    observed AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT w.day, w.wau
    FROM wau w JOIN observed ob ON w.day = ob.day
    """,
    doc="engagement: rolling 7-day active users (WAU) per day — the "
    "sliding-distinct metric that CANNOT use the first-touch rewrite "
    "(users re-enter and leave windows). Mechanism: each (user, "
    "active_day) contributes itself to the next {w} days (a bounded "
    "x{w} explode), then one distinct-count per day — the standard "
    "trick that turns an O(days x window) re-scan into one shuffle "
    "with bounded fan-out; restricted to observed days so the output "
    "matches intuition. At 100 TB the distinct per day becomes "
    "op_bitmap_distinct's mergeable bitmaps over the same "
    "contributions table. DuckDB oracle uses the identical "
    "formulation (window DISTINCT aggregates are the non-portable "
    "alternative).",
    tags=("events",),
)
def ev_rolling_wau(spark, sf_dir):
    e = _events(spark, sf_dir)
    user_days = e.select(
        "user_id", F.col("ts").cast("date").alias("active_day")
    ).distinct()
    contributions = user_days.select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit(0), F.lit(WAU_WINDOW_DAYS - 1)
            )
        ).alias("o"),
        "active_day",
    ).select(
        "user_id", F.date_add(F.col("active_day"), F.col("o")).alias("day")
    )
    wau = contributions.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    observed = e.select(F.col("ts").cast("date").alias("day")).distinct()
    return wau.join(observed, "day")


@register(
    "ev_funnel_dropoff",
    """
    WITH s AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END)
                   AS signup_ts
        FROM events GROUP BY user_id),
    v AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS view_ts
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) >= s.signup_ts
        GROUP BY e.user_id),
    c AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS click_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= v.view_ts
        GROUP BY e.user_id),
    p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS purchase_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= c.click_ts
        GROUP BY e.user_id),
    stages AS (
        SELECT s.user_id,
               CASE WHEN p.purchase_ts IS NOT NULL THEN 4
                    WHEN c.click_ts IS NOT NULL THEN 3
                    WHEN v.view_ts IS NOT NULL THEN 2
                    WHEN s.signup_ts IS NOT NULL THEN 1
                    ELSE 0 END AS funnel_stage
        FROM s
        LEFT JOIN v ON s.user_id = v.user_id
        LEFT JOIN c ON s.user_id = c.user_id
        LEFT JOIN p ON s.user_id = p.user_id
        WHERE s.signup_ts IS NOT NULL),
    counts AS (
        SELECT st.stage,
               CAST(SUM(CASE WHEN funnel_stage >= st.stage THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_reached
        FROM stages, LATERAL (
            SELECT unnest(ARRAY[1, 2, 3, 4]) AS stage) st
        GROUP BY st.stage)
    SELECT stage, n_reached,
           lag(n_reached) OVER (ORDER BY stage) AS n_previous,
           CAST(n_reached AS DOUBLE)
               / lag(n_reached) OVER (ORDER BY stage) AS step_conversion,
           CAST(n_reached AS DOUBLE)
               / first_value(n_reached) OVER (ORDER BY stage
                   ROWS UNBOUNDED PRECEDING) AS overall_conversion
    FROM counts
    """,
    doc="product analytics: the funnel DROP-OFF report — per-stage "
    "reached counts (a bounded x4 stage explode over ev_funnel's "
    "stage assignment), step conversion n_k/n_{k-1} and overall "
    "conversion n_k/n_1; the table a growth dashboard renders beside "
    "the raw funnel. Ratios divide exact integers (IEEE-identical); "
    "the 4-row window pass is trivially small. Same single user_id "
    "partitioning as ev_funnel underneath.",
    tags=("events", "analytics"),
)
def ev_funnel_dropoff(spark, sf_dir):
    stages = ev_funnel(spark, sf_dir).filter(
        F.col("signup_ts").isNotNull()
    ).select("funnel_stage")
    exploded = stages.select(
        F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("stage"),
        "funnel_stage",
    )
    counts = exploded.groupBy("stage").agg(
        F.sum(
            (F.col("funnel_stage") >= F.col("stage")).cast("long")
        ).alias("n_reached")
    )
    w = Window.orderBy("stage")
    prev = F.lag("n_reached").over(w)
    first = F.first("n_reached").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return counts.select(
        "stage",
        "n_reached",
        prev.alias("n_previous"),
        (F.col("n_reached").cast("double") / prev).alias("step_conversion"),
        (F.col("n_reached").cast("double") / first).alias(
            "overall_conversion"
        ),
    )


@register(
    "ev_peak_concurrency",
    f"""
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts) - {COVERAGE_HALF_WINDOW_US} AS s,
               epoch_us(ts) + {COVERAGE_HALF_WINDOW_US} AS e
        FROM events),
    endpoints AS (
        SELECT s AS t, 1 AS delta, 0 AS is_end FROM iv
        UNION ALL
        SELECT e AS t, -1 AS delta, 1 AS is_end FROM iv),
    swept AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, is_end, delta DESC
                                ROWS UNBOUNDED PRECEDING) AS live
        FROM endpoints)
    SELECT CAST(MAX(live) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals,
           CAST(MIN(CASE WHEN live = (SELECT MAX(live) FROM swept)
                         THEN t END) AS BIGINT) AS first_peak_us
    FROM swept
    """,
    doc="capacity planning: peak concurrency via the sweep line — every "
    "attention interval contributes a +1 start and -1 end endpoint; "
    "the running sum over time-ordered endpoints is the live count and "
    "its max is the staffing peak (starts sort before ends at the same "
    "instant — delta DESC — so touching intervals count as "
    "overlapping, matching the closed-interval convention of "
    "ev_interval_coverage; which reports union LENGTH, while this "
    "reports overlap DEPTH). first_peak_us pins WHEN capacity is "
    "needed. Scale (r6 rewrite): the running sum is computed with "
    "functions/prefix.py's range-bucket + boundary-carry decomposition "
    "— endpoints hash-exchange on a time-quantile bucket id (parallel), "
    "per-bucket partial sums carry as a broadcast offset — so no "
    "fact-sized window ever moves to a single partition; the final "
    "(peak, first_t) is one ordinary max-of-struct aggregate (live "
    "ASC, -t ASC breaks ties toward the EARLIEST peak instant), not a "
    "second global window.",
    tags=("events",),
)
def ev_peak_concurrency(spark, sf_dir):
    from data_pipeline_4_online_retail_spark.functions.prefix import global_prefix

    e = _events(spark, sf_dir)
    iv = e.select(
        (F.unix_micros("ts") - COVERAGE_HALF_WINDOW_US).alias("s"),
        (F.unix_micros("ts") + COVERAGE_HALF_WINDOW_US).alias("e"),
    )
    starts = iv.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), F.lit(0).alias("is_end")
    )
    ends = iv.select(
        F.col("e").alias("t"),
        F.lit(-1).alias("delta"),
        F.lit(1).alias("is_end"),
    )
    endpoints = starts.unionByName(ends)
    swept = global_prefix(
        endpoints,
        ["t", "is_end", F.desc("delta")],
        {"live": ("sum", F.col("delta"), True)},
        F.col("t"),
    )
    # max-of-struct: greatest live, then (equal live) greatest -t = min t.
    best = F.max(
        F.struct(F.col("live").alias("live"), (-F.col("t")).alias("neg_t"))
    )
    return swept.agg(
        best.alias("__best"), F.count(F.lit(1)).alias("__cnt")
    ).select(
        F.col("__best.live").cast("long").alias("peak_concurrent"),
        (F.col("__cnt") / 2).cast("long").alias("n_intervals"),
        (-F.col("__best.neg_t")).cast("long").alias("first_peak_us"),
    )


@register(
    "ev_bounce_rate",
    f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {SESSIONIZE_GAP_US}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    tagged AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                   AS session_no
        FROM ordered),
    sessions AS (
        SELECT user_id, session_no, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM tagged GROUP BY user_id, session_no)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS bounce_rate
    FROM sessions
    """,
    doc="engagement: bounce rate — single-event sessions over total "
    "sessions (the classic web-analytics KPI), on the same gaps-and-"
    "islands sessionization as ev_sessionize; the ratio divides two "
    "exact integers. One user_id shuffle end-to-end, final 1-row "
    "aggregate.",
    tags=("events",),
)
def ev_bounce_rate(spark, sf_dir):
    sessions = ev_sessionize(spark, sf_dir)
    bounces = F.sum(
        (F.col("n_events") == 1).cast("long")
    )
    return sessions.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounces.alias("n_bounces"),
        (bounces.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# Conversion-lag distribution (round 4, continuation)
# ---------------------------------------------------------------------------


@register(
    "ev_conversion_lag",
    """
    WITH f AS (
        SELECT user_id, MIN(ts) AS first_click
        FROM events WHERE event_type = 'click' GROUP BY user_id),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS first_purchase
        FROM events e JOIN f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= f.first_click
        GROUP BY e.user_id),
    lags AS (
        SELECT f.user_id,
               CAST(epoch_us(first_purchase) - epoch_us(first_click)
                    AS BIGINT) AS lag_us
        FROM f JOIN p ON f.user_id = p.user_id)
    SELECT user_id, lag_us,
           CAST(ntile(4) OVER (ORDER BY lag_us, user_id) AS INT)
               AS lag_quartile,
           (SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_us)
                   AS BIGINT) FROM lags) AS p50_lag_us,
           (SELECT CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_us)
                   AS BIGINT) FROM lags) AS p90_lag_us
    FROM lags
    """,
    doc="events: conversion-lag distribution — per user, the exact "
    "microsecond lag from first click to first at-or-after purchase, "
    "quartile-bucketed (deterministic (lag, user) tie-break) and "
    "annotated with the global p50/p90 lag (percentile_disc: an actual "
    "data element, no interpolation arithmetic — engine-exact on BIGINT "
    "micros; the fixture's timestamps all carry sub-second micros, so "
    "second-floored lags would be engine-ambiguous, micros are not). "
    "Plan: two keyed aggregates + one equi-join, then a report-sized "
    "window (one row per converting user) and a broadcast 1-row "
    "percentile frame. Scale: the event scans aggregate partial-first "
    "on user_id; only the per-user lag table (users, not events) "
    "reaches the window/percentile passes — at 100 TB swap "
    "percentile_disc for approx_percentile (op_percentiles_approx) and "
    "the ntile for a bucketed histogram if even the user table "
    "outgrows a sort. The funnel/attribution family's time-to-convert "
    "report (GA4 'time to purchase').",
    tags=("events", "analytics"),
)
def ev_conversion_lag(spark, sf_dir):
    # r13 (VERDICT r12 item 6, the ev_funnel playbook): the old lags
    # subtree planned TWO filtered event scans + two aggregates + two
    # joins (plans/r12/ev_conversion_lag_before.txt nodes 3/14/42). One
    # scan restricted to the two relevant event types, one user_id
    # exchange, a whole-partition conditional min window and a collapse
    # aggregate riding the same partitioning compute the identical lag
    # table:
    # - first_click := min(ts | click) over the user partition — NULL
    #   when the user never clicked, exactly the old f-aggregate;
    # - a purchase row qualifies iff ts >= first_click (NULL bound →
    #   predicate NULL → dropped), exactly the old p-join+filter;
    # - per user, min(qualifying ts) = first_purchase and min(first_click)
    #   = first_click (constant across the partition), so the inner join
    #   f⋈p degenerates to this aggregate's output row set.
    # The old joins dropped NULL user_ids; the explicit isNotNull keeps
    # that. Skew note: the exchange now carries click+purchase event rows
    # (not per-user partials) and the window buffers one user's rows per
    # task — the measured trade accepted for ev_funnel (SCALING §r13).
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    staged = (
        ev.filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select("user_id", "event_type", "ts")
        .withColumn(
            "first_click",
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).over(w),
        )
    )
    lags = (
        staged.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("first_click"))
        )
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_purchase"),
            F.min("first_click").alias("first_click"),
        )
        .select(
            "user_id",
            (
                F.unix_micros("first_purchase") - F.unix_micros("first_click")
            ).alias("lag_us"),
        )
    )
    pcts = lags.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_us)")
        .cast("long")
        .alias("p50_lag_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_us)")
        .cast("long")
        .alias("p90_lag_us"),
    )
    # r6: quartile assignment decomposed (was an unpartitioned ntile over
    # the |converting-users|-sized lag frame — one task); global_ntile is
    # bit-identical (pure function of position and count).
    from data_pipeline_4_online_retail_spark.functions.prefix import global_ntile

    # persist + count: the lag frame is |converting users|-sized, and
    # the exact row count (rows_hint) routes the ntile — the byte
    # estimate passes the events-scan size through and over-decomposes;
    # the percentile agg above rides the same cache
    lags = persist_scoped(lags)
    return (
        global_ntile(
            lags,
            ["lag_us", "user_id"],
            4,
            F.col("lag_us"),
            out_name="lag_quartile",
            salt_expr=F.col("user_id"),
            rows_hint=lags.count(),
        )
        .crossJoin(F.broadcast(pcts))
        .select("user_id", "lag_us", "lag_quartile", "p50_lag_us", "p90_lag_us")
    )


# ---------------------------------------------------------------------------
# Point-in-time feature-store join (round 4, continuation)
# ---------------------------------------------------------------------------


@register(
    "ev_feature_store_pit",
    """
    WITH spine AS (
        SELECT event_id AS label_id, user_id, ts AS label_ts,
               value AS label_value
        FROM events WHERE event_type = 'purchase'),
    views AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
    clicks AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'),
    f1 AS (
        SELECT s.label_id, v.value AS last_view_value
        FROM spine s ASOF LEFT JOIN views v
          ON s.user_id = v.user_id AND v.ts < s.label_ts),
    f2 AS (
        SELECT s.label_id, CAST(COUNT(c.user_id) AS BIGINT) AS n_clicks_7d
        FROM spine s LEFT JOIN clicks c
          ON c.user_id = s.user_id
         AND c.ts >= s.label_ts - INTERVAL 7 DAY
         AND c.ts < s.label_ts
        GROUP BY s.label_id)
    SELECT s.label_id, s.user_id, s.label_ts, s.label_value,
           f1.last_view_value, f2.n_clicks_7d
    FROM spine s
    JOIN f1 ON s.label_id = f1.label_id
    JOIN f2 ON s.label_id = f2.label_id
    """,
    doc="training data: POINT-IN-TIME-correct feature-store join — the "
    "label spine (every purchase) is enriched with features computed "
    "strictly BEFORE each label's timestamp: the last view value "
    "(as-of with a STRICT inequality — a view at exactly label time "
    "is future knowledge) and the 7-day click count ending just "
    "before the label. This is the leakage-safe training-set build "
    "every tabular-ML pipeline needs; the pytest replays every row "
    "and proves no feature reads ts >= label_ts. Spark plan: the "
    "as-of feature is the union-then-window rewrite (one user_id "
    "exchange; spine rows sort BEFORE same-instant views so the "
    "strict bound is positional, no inequality join), the windowed "
    "count is an equi-join on user_id with the range as a post-join "
    "filter + one keyed aggregate. The DuckDB oracle uses its native "
    "ASOF LEFT JOIN — two independent engines, two different as-of "
    "algorithms, one hash. Scale: both features shuffle on user_id "
    "only; N features = N window passes over ONE sorted exchange "
    "when they share the entity key.",
    tags=("events", "curation"),
)
def ev_feature_store_pit(spark, sf_dir):
    ev = _events(spark, sf_dir)
    spine = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_id"),
        "user_id",
        F.col("ts").alias("label_ts"),
        F.col("value").alias("label_value"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")

    # as-of: union spine+views; kind orders spine FIRST at equal ts so a
    # same-instant view never leaks into its own label's feature.
    tagged = views.select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.col("value").alias("view_value"),
        F.lit(None).cast("long").alias("label_id"),
    ).unionByName(
        spine.select(
            "user_id",
            F.col("label_ts").alias("ts"),
            F.lit(0).alias("kind"),
            F.lit(None).cast("double").alias("view_value"),
            "label_id",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    f1 = (
        tagged.withColumn(
            "last_view_value", F.last("view_value", ignorenulls=True).over(w)
        )
        .filter(F.col("label_id").isNotNull())
        .select("label_id", "last_view_value")
    )
    f2 = (
        spine.join(
            clicks.withColumnRenamed("ts", "c_ts"), "user_id", "left"
        )
        .withColumn(
            "in_window",
            (F.col("c_ts") >= F.col("label_ts") - F.expr("INTERVAL 7 DAY"))
            & (F.col("c_ts") < F.col("label_ts")),
        )
        .groupBy("label_id")
        .agg(
            F.sum(F.when(F.col("in_window"), 1).otherwise(0))
            .cast("long")
            .alias("n_clicks_7d")
        )
    )
    return (
        spine.join(f1, "label_id")
        .join(f2, "label_id")
        .select(
            "label_id",
            "user_id",
            "label_ts",
            "label_value",
            "last_view_value",
            "n_clicks_7d",
        )
    )


# ---------------------------------------------------------------------------
# Exponential smoothing with an engine-exact fold (round 4, continuation)
# ---------------------------------------------------------------------------


@register(
    "ev_ewma_level",
    """
    WITH seq AS (
        SELECT user_id, list(value ORDER BY ts, event_id) AS vals
        FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           list_reduce(vals, (acc, x) -> (acc + x) / 2) AS ewma_level
    FROM seq
    """,
    doc="time series: per-user exponentially weighted level (simple "
    "exponential smoothing, alpha = 1/2: s_1 = x_1, s_t = "
    "(s_{t-1} + x_t) / 2) — the recency-weighted engagement score "
    "behind 'current activity level' features. The deliberately chosen "
    "alpha makes every step an IEEE halving of an addition, so the "
    "sequential fold is BIT-EXACT across engines and this genuinely "
    "RECURSIVE computation gets a full hash oracle (DuckDB list_reduce "
    "seeds from the first element; Spark seeds aggregate() with "
    "element_at(vals, 1) over the tail — identical op sequence). "
    "Determinism discipline: the per-user sequence is sort_array over "
    "(ts, event_id, value) structs vs DuckDB's list(... ORDER BY ts, "
    "event_id) — same total order, (ts, event_id) is unique. Scale: "
    "one user-keyed shuffle; per-user arrays are bounded by per-user "
    "event counts (the same bound every sessionize/journey op here "
    "carries); for unbounded users the streaming form is a "
    "2-doubles-per-key applyInPandasWithState fold. General-alpha "
    "EWMA leaves bit-exactness (0.3*x rounds differently than "
    "repeated halving) — that variant belongs rows-only with a "
    "replica, which is why the oracle-able alpha is pinned here.",
    tags=("events", "analytics"),
)
def ev_ewma_level(spark, sf_dir):
    ev = _events(spark, sf_dir)
    seq = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("s")
    )
    vals = F.transform(F.col("s"), lambda r: r["value"])
    ewma = F.aggregate(
        F.slice(vals, 2, 2_147_483_000),
        F.element_at(vals, 1),
        lambda acc, x: (acc + x) / 2,
    )
    return seq.select(
        "user_id",
        F.size("s").cast("long").alias("n_events"),
        ewma.alias("ewma_level"),
    )


@register(
    "ev_forecast_backtest",
    """
    WITH seq AS (
        SELECT user_id, list(value ORDER BY ts, event_id) AS vals
        FROM events GROUP BY user_id),
    held AS (
        SELECT user_id,
               CAST(len(vals) AS BIGINT) AS n_events,
               list_extract(vals, len(vals)) AS actual,
               list_extract(vals, len(vals) - 1) AS pred_naive,
               list_reduce(vals[1:len(vals) - 1], (acc, x) -> (acc + x) / 2)
                   AS pred_ewma
        FROM seq WHERE len(vals) >= 2)
    SELECT user_id, n_events, actual, pred_naive, pred_ewma,
           abs(actual - pred_naive) AS err_naive,
           abs(actual - pred_ewma) AS err_ewma
    FROM held
    """,
    doc="time series: hold-one-out forecast BACKTEST — per user, the last "
    "event's value is held out and predicted two ways: naive "
    "last-value carry-forward vs the exponential level of the prefix "
    "(the alpha = 1/2 halving fold, engine-exact like ev_ewma_level). "
    "Per-user absolute errors let the caller read which predictor "
    "wins where (aggregate MAEs are one GROUP BY () away; left "
    "per-user so the errors themselves stay raw IEEE doubles — "
    "identical operands, identical ops, hash-exact — instead of an "
    "order-dependent float sum). This is model evaluation IN-ENGINE: "
    "the same no-leakage discipline as ev_feature_store_pit (the "
    "prefix never includes the held-out point), run backwards over "
    "history instead of forward over features. Scale: one user-keyed "
    "shuffle; per-user arrays bounded as in the sessionize family.",
    tags=("events", "analytics", "evaluation"),
)
def ev_forecast_backtest(spark, sf_dir):
    ev = _events(spark, sf_dir)
    seq = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("s")
    )
    vals = F.transform(F.col("s"), lambda r: r["value"])
    n = F.size(vals)
    prefix = F.slice(vals, 1, n - 1)
    pred_ewma = F.aggregate(
        F.slice(prefix, 2, 2_147_483_000),
        F.element_at(prefix, 1),
        lambda acc, x: (acc + x) / 2,
    )
    held = seq.filter(n >= 2).select(
        "user_id",
        n.cast("long").alias("n_events"),
        F.element_at(vals, -1).alias("actual"),
        F.element_at(vals, n - 1).alias("pred_naive"),
        pred_ewma.alias("pred_ewma"),
    )
    return held.select(
        "user_id",
        "n_events",
        "actual",
        "pred_naive",
        "pred_ewma",
        F.abs(F.col("actual") - F.col("pred_naive")).alias("err_naive"),
        F.abs(F.col("actual") - F.col("pred_ewma")).alias("err_ewma"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (round 4, third continuation)
# ---------------------------------------------------------------------------

TWA_HORIZON = "2024-01-31 00:00:00"  # past max(ts) at every fixture SF


@register(
    "ev_time_weighted_avg",
    f"""
    WITH obs AS (
        SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS t_next
        FROM events),
    held AS (
        SELECT user_id,
               CAST(value AS DECIMAL(9,2)) AS v,
               COALESCE(t_next,
                        epoch_us(TIMESTAMP '{TWA_HORIZON}')) - t AS dur_us
        FROM obs)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
           CAST(CAST(SUM(v * dur_us) AS DOUBLE)
                / CAST(SUM(dur_us) AS DOUBLE) AS DOUBLE) AS twa_value
    FROM held GROUP BY user_id
    """,
    doc="time series: TIME-WEIGHTED average per user (the TimescaleDB "
    "time_weight / industrial-historian LOCF integral): each observation "
    "holds its value until the next observation (LEAD over the "
    "deterministic (ts, event_id) order), the last one until a fixed "
    "horizon, and the mean weighs each value by its holding duration — "
    "the correct average for irregularly-sampled gauges, where the "
    "arithmetic mean over-weights chatty periods. Exactness discipline "
    "(verify-skill rule: never round a SUM(double)): values are 2-dp by "
    "construction, so v is DECIMAL(9,2), v * dur_us is an exact decimal "
    "x integer product, the sum is exact decimal, and ONE final "
    "decimal->double conversion + IEEE division is bit-identical on "
    "both engines regardless of summation order. Scale: the single "
    "user_id exchange serves the LEAD window and the aggregate; no "
    "state beyond one row of look-ahead.",
    tags=("events", "analytics"),
)
def ev_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    obs = e.select(
        "user_id",
        F.col("value").cast("decimal(9,2)").alias("v"),
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    )
    horizon = F.unix_micros(F.lit(TWA_HORIZON).cast("timestamp"))
    held = obs.select(
        "user_id",
        "v",
        (F.coalesce("t_next", horizon) - F.col("t")).alias("dur_us"),
    )
    return held.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("dur_us").cast("long").alias("total_dur_us"),
        (
            F.sum(F.col("v") * F.col("dur_us")).cast("double")
            / F.sum("dur_us").cast("double")
        )
        .cast("double")
        .alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection (round 4, third continuation)
# ---------------------------------------------------------------------------

CUSUM_TARGET = 2  # reference daily count k: drift above this accumulates
CUSUM_ALARM_H = 6  # alarm threshold h


@register(
    "ev_cusum_alarm",
    f"""
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
    prefix AS (
        SELECT user_id, day, cnt,
               SUM(cnt - {CUSUM_TARGET}) OVER w AS s
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY day
                     ROWS UNBOUNDED PRECEDING)),
    cusum AS (
        SELECT user_id, day, cnt,
               s - LEAST(CAST(0 AS BIGINT), MIN(s) OVER w) AS cusum
        FROM prefix
        WINDOW w AS (PARTITION BY user_id ORDER BY day
                     ROWS UNBOUNDED PRECEDING))
    SELECT user_id, day, cnt, CAST(cusum AS BIGINT) AS cusum,
           CAST(cusum > {CUSUM_ALARM_H} AS INT) AS alarm
    FROM cusum
    """,
    doc="monitoring: one-sided CUSUM changepoint detection over per-user "
    "daily volumes — the classic drift detector (Page 1954): C_t = "
    "max(0, C_t-1 + (x_t - k)), alarm when C_t > h. The recursion is "
    "REWRITTEN to its closed form C_t = S_t - min(0, min_j<=t S_j) "
    "(prefix sum minus its running floor), so a sequential fold "
    "becomes TWO window passes over one user_id exchange — the "
    "fold-to-window transformation that makes per-key recursions "
    "distributable at 100 TB (same move as "
    "ev_cumulative_distinct_users' first-touch rewrite). All-integer "
    "arithmetic: counts and the target are ints, so both engines "
    "agree bit-exactly on every intermediate. A pytest replays the "
    "literal recursion in Python and pins equality, plus the "
    "structural properties (C_t >= 0, resets at the running-min "
    "floor, alarm monotone in cusum).",
    tags=("events", "monitoring"),
)
def ev_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    daily = (
        e.groupBy(
            "user_id",
            F.date_trunc("day", F.col("ts").cast("timestamp"))
            .cast("date")
            .alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefix = daily.withColumn(
        "s", F.sum(F.col("cnt") - F.lit(CUSUM_TARGET)).over(w)
    )
    cusum = prefix.withColumn(
        "cusum",
        (
            F.col("s")
            - F.least(F.lit(0).cast("long"), F.min("s").over(w))
        ).cast("long"),
    )
    return cusum.select(
        "user_id",
        "day",
        "cnt",
        "cusum",
        (F.col("cusum") > CUSUM_ALARM_H).cast("int").alias("alarm"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimation (round 4, third continuation)
# ---------------------------------------------------------------------------

KM_CENSOR_CUTOFF = "2001-01-01 00:00:00"  # customers ordering at/after: censored


@register(
    "ev_survival_kaplan_meier",
    f"""
    WITH subjects AS (
        SELECT o_custkey,
               date_diff('day', CAST(MIN(o_orderdate) AS DATE),
                         CAST(MAX(o_orderdate) AS DATE)) // 7 AS t,
               CAST(MAX(o_orderdate)
                    >= TIMESTAMP '{KM_CENSOR_CUTOFF}' AS INT) AS censored
        FROM orders GROUP BY o_custkey),
    by_t AS (
        SELECT t,
               CAST(SUM(1 - censored) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM subjects GROUP BY t),
    risk AS (
        SELECT t, d,
               CAST(SUM(n_obs) OVER (ORDER BY t DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
        FROM by_t),
    factors AS (
        SELECT t, d, n_at_risk,
               CAST(1 AS DOUBLE)
                   - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS factor,
               ROW_NUMBER() OVER (ORDER BY t) AS idx
        FROM risk),
    arr AS (
        SELECT list(factor ORDER BY t) AS fs FROM factors)
    SELECT f.t, f.d, f.n_at_risk,
           list_reduce(a.fs[1:CAST(f.idx AS INT)], (x, y) -> x * y)
               AS survival
    FROM factors f CROSS JOIN arr a
    """,
    doc="survival analysis: Kaplan-Meier estimator of customer retention "
    "— subject = customer, lifetime t = weeks between first and last "
    "order, right-CENSORED when the customer still orders at/after the "
    "cutoff (they leave the risk set without counting as churn, which "
    "is the entire point of KM vs a naive churn curve; fixture: 615 "
    "churns, 885 censored, 208 curve points at sf0.01). "
    "S(t) = prod_u<=t (1 - d_u/n_u): d and n are exact integers, each "
    "factor is one IEEE division, and the running product is an "
    "EXPLICITLY SEQUENTIAL left fold on both engines (Spark "
    "aggregate() over a slice of the sorted factor array vs DuckDB "
    "list_reduce over the same slice — the ev_ewma_level technique), "
    "so the curve hash-matches bit-for-bit; a windowed product() "
    "aggregate would be tree-evaluated and non-reproducible at the "
    "last ulp. Scale: everything to by_t is distributed (one custkey "
    "aggregate, one t aggregate, one descending window); the curve "
    "itself is bounded by distinct week-lifetimes (a few hundred), so "
    "the single-group collect is O(curve), never O(subjects) — the "
    "same bounded-driver-state argument as sim_kmeans\' centroids.",
    tags=("events", "analytics"),
)
def ev_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir).table("orders")
    subjects = o.groupBy("o_custkey").agg(
        (
            F.datediff(
                F.max("o_orderdate").cast("date"),
                F.min("o_orderdate").cast("date"),
            )
            / F.lit(7)
        )
        .cast("int")
        .alias("t"),
        (
            F.max("o_orderdate")
            >= F.lit(KM_CENSOR_CUTOFF).cast("timestamp")
        )
        .cast("int")
        .alias("censored"),
    )
    by_t = subjects.groupBy("t").agg(
        F.sum(F.lit(1) - F.col("censored")).cast("long").alias("d"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    w_desc = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = by_t.withColumn(
        "n_at_risk", F.sum("n_obs").over(w_desc).cast("long")
    ).drop("n_obs")
    factors = risk.withColumn(
        "factor",
        F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk").cast("double"),
    )
    arr = factors.agg(
        F.sort_array(
            F.collect_list(F.struct("t", "d", "n_at_risk", "factor"))
        ).alias("rows")
    )
    exploded = arr.select(
        F.posexplode("rows").alias("idx0", "r"),
        F.transform(F.col("rows"), lambda s: s["factor"]).alias("fs"),
    )
    return exploded.select(
        F.col("r.t").alias("t"),
        F.col("r.d").alias("d"),
        F.col("r.n_at_risk").alias("n_at_risk"),
        F.aggregate(
            F.slice(F.col("fs"), 1, F.col("idx0") + 1),
            F.lit(1.0),
            lambda acc, x: acc * x,
        ).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Holt linear trend — a TWO-state engine-exact fold (round 4, third
# continuation)
# ---------------------------------------------------------------------------


@register(
    "ev_holt_linear_trend",
    """
    WITH RECURSIVE seq AS (
        SELECT user_id, CAST(value AS DOUBLE) AS x,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS i
        FROM events),
    n AS (
        SELECT user_id, CAST(MAX(i) AS BIGINT) AS n_events
        FROM seq GROUP BY user_id),
    holt AS (
        SELECT user_id, i, x AS l, CAST(0 AS DOUBLE) AS b
        FROM seq WHERE i = 1
        UNION ALL
        SELECT s.user_id, s.i,
               (s.x + h.l + h.b) / 2,
               (((s.x + h.l + h.b) / 2 - h.l) + h.b) / 2
        FROM holt h JOIN seq s
          ON s.user_id = h.user_id AND s.i = h.i + 1)
    SELECT h.user_id, n.n_events,
           h.l AS level, h.b AS trend,
           h.l + CAST(3 AS DOUBLE) * h.b AS forecast_3
    FROM holt h JOIN n ON h.user_id = n.user_id AND h.i = n.n_events
    WHERE n.n_events >= 2
    """,
    doc="time series: Holt's linear-trend double exponential smoothing "
    "(alpha = beta = 1/2): l_t = (x_t + l_t-1 + b_t-1)/2, b_t = "
    "((l_t - l_t-1) + b_t-1)/2 — the TWO-state extension of "
    "ev_ewma_level's single-state fold, forecasting level + h*trend. "
    "Same engine-exactness argument: every step is additions and IEEE "
    "halvings in an identical left-to-right sequence, so even the "
    "recomputed l_t inside b_t's expression is the same rounded "
    "double on both engines and the hash oracle holds bit-for-bit. "
    "Oracle caveat discovered here: DuckDB 1.0.0's list_reduce "
    "mis-evaluates struct-returning lambdas that reference the "
    "accumulator's fields repeatedly (a 3-element fold differs from "
    "manually chained steps), so the oracle carries the recursion as "
    "a RECURSIVE CTE stepping (l, b) as plain columns — the Spark "
    "side keeps the aggregate() fold, seeded {x_1, 0} over the tail. "
    "Users with one event are excluded (a trend needs two points; the "
    "oracle's len >= 2 filter matches). Scale: one user-keyed "
    "shuffle, per-user bounded arrays; the streaming twin would carry "
    "two doubles per key in applyInPandasWithState exactly like the "
    "EWMA tracker.",
    tags=("events", "analytics"),
)
def ev_holt_linear_trend(spark, sf_dir):
    ev = _events(spark, sf_dir)
    seq = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("s")
    )
    vals = F.transform(F.col("s"), lambda r: r["value"])

    def step(acc, x):
        lvl = (x["l"] + acc["l"] + acc["b"]) / 2
        return F.struct(
            lvl.alias("l"),
            (((x["l"] + acc["l"] + acc["b"]) / 2 - acc["l"]) + acc["b"])
            .__truediv__(2)
            .alias("b"),
        )

    states = F.transform(
        vals,
        lambda v: F.struct(v.alias("l"), F.lit(0.0).alias("b")),
    )
    folded = F.aggregate(
        F.slice(states, 2, 2_147_483_000),
        F.element_at(states, 1),
        step,
    )
    return (
        seq.filter(F.size("s") >= 2)
        .select(
            "user_id",
            F.size("s").cast("long").alias("n_events"),
            folded["l"].alias("level"),
            folded["b"].alias("trend"),
            (folded["l"] + F.lit(3.0) * folded["b"]).alias("forecast_3"),
        )
    )


# ---------------------------------------------------------------------------
# Holt-Winters triple exponential smoothing (round 5; the r4 backlog item)
# ---------------------------------------------------------------------------

HW_ANCHOR_MONDAY = "2024-01-01"  # a Monday; weekday slot = datediff % 7


@register(
    "ev_holt_winters",
    f"""
    WITH RECURSIVE daily AS (
        SELECT event_type,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
    seq AS (
        SELECT event_type,
               CAST(cnt AS DOUBLE) AS x,
               CAST(((date_diff('day', DATE '{HW_ANCHOR_MONDAY}', day)
                      % 7) + 7) % 7 AS INTEGER) AS slot,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
        FROM daily),
    n AS (
        SELECT event_type, CAST(MAX(i) AS BIGINT) AS n_days
        FROM seq GROUP BY event_type),
    hw AS (
        SELECT event_type, i, x AS l, CAST(0 AS DOUBLE) AS b,
               [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                CAST(0 AS DOUBLE)] AS s
        FROM seq WHERE i = 1
        UNION ALL
        SELECT q.event_type, q.i,
               ((q.x - h.s[q.slot + 1]) + h.l + h.b) / 2,
               ((((q.x - h.s[q.slot + 1]) + h.l + h.b) / 2 - h.l) + h.b) / 2,
               [CASE WHEN q.slot = 0 THEN ((q.x
                         - ((q.x - h.s[q.slot + 1]) + h.l + h.b) / 2)
                         + h.s[q.slot + 1]) / 2 ELSE h.s[1] END,
                CASE WHEN q.slot = 1 THEN ((q.x
                         - ((q.x - h.s[q.slot + 1]) + h.l + h.b) / 2)
                         + h.s[q.slot + 1]) / 2 ELSE h.s[2] END,
                CASE WHEN q.slot = 2 THEN ((q.x
                         - ((q.x - h.s[q.slot + 1]) + h.l + h.b) / 2)
                         + h.s[q.slot + 1]) / 2 ELSE h.s[3] END,
                CASE WHEN q.slot = 3 THEN ((q.x
                         - ((q.x - h.s[q.slot + 1]) + h.l + h.b) / 2)
                         + h.s[q.slot + 1]) / 2 ELSE h.s[4] END,
                CASE WHEN q.slot = 4 THEN ((q.x
                         - ((q.x - h.s[q.slot + 1]) + h.l + h.b) / 2)
                         + h.s[q.slot + 1]) / 2 ELSE h.s[5] END,
                CASE WHEN q.slot = 5 THEN ((q.x
                         - ((q.x - h.s[q.slot + 1]) + h.l + h.b) / 2)
                         + h.s[q.slot + 1]) / 2 ELSE h.s[6] END,
                CASE WHEN q.slot = 6 THEN ((q.x
                         - ((q.x - h.s[q.slot + 1]) + h.l + h.b) / 2)
                         + h.s[q.slot + 1]) / 2 ELSE h.s[7] END]
        FROM hw h JOIN seq q
          ON q.event_type = h.event_type AND q.i = h.i + 1)
    SELECT h.event_type, n.n_days, h.l AS level, h.b AS trend,
           h.s[1] AS s0, h.s[2] AS s1, h.s[3] AS s2, h.s[4] AS s3,
           h.s[5] AS s4, h.s[6] AS s5, h.s[7] AS s6
    FROM hw h JOIN n ON h.event_type = n.event_type AND h.i = n.n_days
    WHERE n.n_days >= 8
    """,
    doc="time series: additive HOLT-WINTERS triple exponential smoothing "
    "of per-type daily volume (alpha = beta = gamma = 1/2): "
    "l_t = ((x_t - s_slot) + l + b)/2, b_t = ((l_t - l) + b)/2, "
    "s_slot' = ((x_t - l_t) + s_slot)/2 — the seasonal-vector "
    "extension of ev_holt_linear_trend's two-state fold (the r4 "
    "backlog item). The seasonal state is a 7-slot vector indexed by "
    "the ACTUAL weekday (days since a fixed Monday, mod 7 — the "
    "ev_seasonal_decompose anchor trick), so calendar gaps in the "
    "daily series cannot rotate the seasonality out of phase. "
    "Engine-exactness: seeded {{l = x_1, b = 0, s = zeros}} and every "
    "step is subtractions, additions and IEEE halvings in an "
    "identical left-to-right order on both engines, so the hash "
    "oracle holds bit-for-bit even where sub-expressions (l_t inside "
    "b_t and s') are recomputed — the same rounded double either "
    "way. The oracle carries the recursion as a RECURSIVE CTE with "
    "the 7-slot vector as a LIST column updated via per-slot CASE "
    "(DuckDB 1.0's list_reduce struct-lambda bug, documented on "
    "ev_holt_linear_trend, rules out the fold form there; Spark uses "
    "aggregate() with transform-by-index for the slot update). "
    "Scale: the heavy work — per-(type, day) counting — is one "
    "distributed aggregate; the fold runs over |days| elements per "
    "type (bounded by calendar span, NOT by data volume: 100x the "
    "events is the same ~800-element fold). The streaming twin would "
    "carry (l, b, s[7]) per key in applyInPandasWithState exactly "
    "like the EWMA tracker.",
    tags=("events", "analytics"),
)
def ev_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    daily = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    seq = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "cnt"))).alias("arr")
    )
    elems = F.transform(
        F.col("arr"),
        lambda r: F.struct(
            r["cnt"].cast("double").alias("x"),
            # pmod, not %: a day BEFORE the anchor must still land in
            # 0..6 on both engines (ADVICE r5: Spark element_at errors
            # at index 0 while DuckDB s[0] returns NULL — divergent
            # failures instead of one loud red).
            F.pmod(
                F.datediff(r["day"], F.lit(HW_ANCHOR_MONDAY).cast("date")),
                F.lit(7),
            ).alias("slot"),
        ),
    )

    def step(acc, q):
        s_old = F.element_at(acc["s"], q["slot"] + 1)
        lnew = ((q["x"] - s_old) + acc["l"] + acc["b"]) / 2
        bnew = ((lnew - acc["l"]) + acc["b"]) / 2
        snew = ((q["x"] - lnew) + s_old) / 2
        supd = F.transform(
            acc["s"],
            lambda v, i: F.when(i == q["slot"], snew).otherwise(v),
        )
        return F.struct(
            lnew.alias("l"), bnew.alias("b"), supd.alias("s")
        )

    init = F.struct(
        F.element_at(elems, 1)["x"].alias("l"),
        F.lit(0.0).alias("b"),
        F.array_repeat(F.lit(0.0), 7).alias("s"),
    )
    folded = F.aggregate(F.slice(elems, 2, 2_147_483_000), init, step)
    return (
        seq.select(
            "event_type",
            F.size("arr").cast("long").alias("n_days"),
            folded.alias("f"),
        )
        .filter(F.col("n_days") >= 8)
        .select(
            "event_type",
            "n_days",
            F.col("f")["l"].alias("level"),
            F.col("f")["b"].alias("trend"),
            *[
                F.element_at(F.col("f")["s"], k + 1).alias(f"s{k}")
                for k in range(7)
            ],
        )
    )


# ---------------------------------------------------------------------------
# Seasonal decomposition (round 4, third continuation)
# ---------------------------------------------------------------------------

SEASONAL_ANCHOR_MONDAY = "2024-01-01"  # a Monday; weekday = datediff % 7


@register(
    "ev_seasonal_decompose",
    f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1),
    windowed AS (
        SELECT day, cnt,
               SUM(cnt) OVER w AS trend_num,
               COUNT(*) OVER w AS n_in_frame
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    detrended AS (
        SELECT ((date_diff('day', DATE '{SEASONAL_ANCHOR_MONDAY}', day)
                 % 7) + 7) % 7 AS weekday,
               7 * cnt - trend_num AS detr_num
        FROM windowed WHERE n_in_frame = 7)
    SELECT CAST(weekday AS INT) AS weekday,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(CAST(SUM(detr_num) AS DOUBLE)
                / CAST(7 * COUNT(*) AS DOUBLE) AS DOUBLE) AS seasonal
    FROM detrended GROUP BY weekday
    """,
    doc="time series: classical additive seasonal decomposition of the "
    "corpus daily volume — trend = centered 7-day moving average, "
    "seasonal index per weekday = mean of the detrended series. "
    "Exactness trick: the detrended value cnt - trend = cnt - S7/7 is "
    "kept as its INTEGER numerator 7*cnt - S7, so every intermediate "
    "through the weekday aggregation is exact integer arithmetic and "
    "only ONE final double division happens per weekday (the TWA "
    "discipline applied to decomposition — no double summation "
    "anywhere, hash-exact without rounding). Weekday is computed "
    "arithmetically (days since a fixed Monday, mod 7) because the "
    "engines disagree on dayofweek numbering. Partial-window edge "
    "days (frame < 7 rows) are excluded exactly as classical "
    "decomposition drops them. Scale note: the global-ordered window "
    "runs over the DAILY aggregate (|days| rows, not |events|) — the "
    "heavy work is the distributed per-day count; at 100 TB the "
    "decomposition input is still tiny. The same numerator trick "
    "serializes to per-key windows for per-entity decomposition.",
    tags=("events", "analytics"),
)
def ev_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    daily = (
        e.groupBy(
            F.date_trunc("day", F.col("ts").cast("timestamp"))
            .cast("date")
            .alias("day")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    windowed = daily.select(
        "day",
        "cnt",
        F.sum("cnt").over(w).alias("trend_num"),
        F.count(F.lit(1)).over(w).alias("n_in_frame"),
    ).filter(F.col("n_in_frame") == 7)
    detrended = windowed.select(
        # pmod: pre-anchor days stay in 0..6 (same ADVICE r5 class as
        # ev_holt_winters).
        F.pmod(
            F.datediff(
                F.col("day"), F.lit(SEASONAL_ANCHOR_MONDAY).cast("date")
            ),
            F.lit(7),
        ).alias("weekday"),
        (F.lit(7) * F.col("cnt") - F.col("trend_num")).alias("detr_num"),
    )
    return detrended.groupBy("weekday").agg(
        F.count(F.lit(1)).alias("n_days"),
        (
            F.sum("detr_num").cast("double")
            / (F.lit(7) * F.count(F.lit(1))).cast("double")
        )
        .cast("double")
        .alias("seasonal"),
    )


# ---------------------------------------------------------------------------
# Absorbing-Markov conversion probability (round 4, third continuation)
# ---------------------------------------------------------------------------

ABSORB_WIN = "purchase"
ABSORB_LOSE = "error"


_MARKOV_TRANSIENT = ("click", "signup", "view")  # the generator's fixed
# event-type domain minus the two absorbers; sorted, so oracle rows align
_MARKOV_RESID_TOL = 1e-9


def _markov_absorption_oracle() -> str:
    """Full oracle for the absorbing-chain solve (VERDICT r6 item 6,
    promoted from rows-only): DuckDB pivots the SAME integer transition
    counts into the 3x3 system (I - Q) h = r and solves it in closed form
    (Cramer adjugate — exact arithmetic on the identical q_ij doubles, so
    it agrees with numpy's LU to ~1e-14, far inside the 6-dp quantized-
    score contract from r6's text_lm_score). The hash is anchored by the
    engine-exact integers (n_outgoing / n_to_win / n_to_lose — they pin
    the entire estimated chain), and each engine self-checks its h
    against the residual bound |h - (Qh + r)| <= 1e-9 — a drifting solve
    flips residual_ok and reds the driver row."""
    t1, t2, t3 = _MARKOV_TRANSIENT
    cells = []
    for s in _MARKOV_TRANSIENT:
        a = s[0]
        cells.append(
            f"CAST(COALESCE(SUM(n) FILTER (f = '{s}'), 0) AS BIGINT)"
            f" AS tot_{a}"
        )
        for t in _MARKOV_TRANSIENT:
            cells.append(
                f"CAST(COALESCE(SUM(n) FILTER (f = '{s}' AND t = '{t}'), 0)"
                f" AS BIGINT) AS n_{a}{t[0]}"
            )
        cells.append(
            f"CAST(COALESCE(SUM(n) FILTER (f = '{s}' AND t = '{ABSORB_WIN}'),"
            f" 0) AS BIGINT) AS w_{a}"
        )
        cells.append(
            f"CAST(COALESCE(SUM(n) FILTER (f = '{s}' AND t = '{ABSORB_LOSE}'),"
            f" 0) AS BIGINT) AS l_{a}"
        )
    qdefs = []
    for s in _MARKOV_TRANSIENT:
        a = s[0]
        for t in _MARKOV_TRANSIENT:
            b = t[0]
            qdefs.append(
                f"CASE WHEN tot_{a} > 0 THEN CAST(n_{a}{b} AS DOUBLE)"
                f" / CAST(tot_{a} AS DOUBLE) ELSE 0.0 END AS q_{a}{b}"
            )
        qdefs.append(
            f"CASE WHEN tot_{a} > 0 THEN CAST(w_{a} AS DOUBLE)"
            f" / CAST(tot_{a} AS DOUBLE) ELSE 0.0 END AS r_{a}"
        )
    a1, a2, a3 = (s[0] for s in _MARKOV_TRANSIENT)
    # A = I - Q; Cramer: h_i = det(A with column i := r) / det(A)
    adefs = ", ".join(
        f"{'1.0 - ' if i == j else '- '}q_{i}{j} AS a_{i}{j}"
        for i in (a1, a2, a3)
        for j in (a1, a2, a3)
    )
    det = (
        f"a_{a1}{a1} * (a_{a2}{a2} * a_{a3}{a3} - a_{a2}{a3} * a_{a3}{a2})"
        f" - a_{a1}{a2} * (a_{a2}{a1} * a_{a3}{a3} - a_{a2}{a3} * a_{a3}{a1})"
        f" + a_{a1}{a3} * (a_{a2}{a1} * a_{a3}{a2} - a_{a2}{a2} * a_{a3}{a1})"
    )
    h1 = (
        f"(r_{a1} * (a_{a2}{a2} * a_{a3}{a3} - a_{a2}{a3} * a_{a3}{a2})"
        f" - a_{a1}{a2} * (r_{a2} * a_{a3}{a3} - a_{a2}{a3} * r_{a3})"
        f" + a_{a1}{a3} * (r_{a2} * a_{a3}{a2} - a_{a2}{a2} * r_{a3})) / det"
    )
    h2 = (
        f"(a_{a1}{a1} * (r_{a2} * a_{a3}{a3} - a_{a2}{a3} * r_{a3})"
        f" - r_{a1} * (a_{a2}{a1} * a_{a3}{a3} - a_{a2}{a3} * a_{a3}{a1})"
        f" + a_{a1}{a3} * (a_{a2}{a1} * r_{a3} - r_{a2} * a_{a3}{a1})) / det"
    )
    h3 = (
        f"(a_{a1}{a1} * (a_{a2}{a2} * r_{a3} - r_{a2} * a_{a3}{a2})"
        f" - a_{a1}{a2} * (a_{a2}{a1} * r_{a3} - r_{a2} * a_{a3}{a1})"
        f" + r_{a1} * (a_{a2}{a1} * a_{a3}{a2} - a_{a2}{a2} * a_{a3}{a1})) / det"
    )
    branches = []
    for s, h in zip(_MARKOV_TRANSIENT, ("h_1", "h_2", "h_3")):
        a = s[0]
        resid = (
            f"abs({h} - (q_{a}{a1} * h_1 + q_{a}{a2} * h_2"
            f" + q_{a}{a3} * h_3 + r_{a})) <= {_MARKOV_RESID_TOL}"
        )
        branches.append(
            f"SELECT '{s}' AS state, tot_{a} AS n_outgoing,"
            f" w_{a} AS n_to_win, l_{a} AS n_to_lose,"
            f" CASE WHEN tot_{a} > 0 THEN ROUND({h}, 6) + 0.0"
            f" ELSE NULL END AS p_absorb,"
            f" CASE WHEN tot_{a} > 0 THEN {resid} ELSE TRUE END"
            f" AS residual_ok FROM solved"
        )
    branches.append(
        f"SELECT '{ABSORB_WIN}', CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
        " CAST(0 AS BIGINT), 1.0, TRUE FROM solved"
    )
    branches.append(
        f"SELECT '{ABSORB_LOSE}', CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
        " CAST(0 AS BIGINT), 0.0, TRUE FROM solved"
    )
    union = "\n    UNION ALL\n    ".join(branches)
    return f"""
    WITH seq AS (
        SELECT event_type AS f,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS t
        FROM events),
    c AS (
        SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE t IS NOT NULL GROUP BY f, t),
    piv AS (SELECT {", ".join(cells)} FROM c),
    qm AS (SELECT *, {", ".join(qdefs)} FROM piv),
    am AS (SELECT *, {adefs} FROM qm),
    dm AS (SELECT *, {det} AS det FROM am),
    solved AS (SELECT *, {h1} AS h_1, {h2} AS h_2, {h3} AS h_3 FROM dm)
    {union}
    """


@register(
    "ev_markov_absorption",
    _markov_absorption_oracle(),
    doc="events: ABSORPTION-RACE probability per starting state — make"
    "'purchase' (conversion) and 'error' (failure) both absorbing in "
    "the first-order Markov chain estimated from per-user sequences, "
    "and solve h = Q h + r (the canonical absorbing-chain system): "
    "h[s] is the probability a journey in state s converts BEFORE "
    "failing — the number behind 'how much is a signup worth'. (With "
    "a single absorbing state every h is trivially 1 — measured on "
    "the fixture before the race formulation was chosen.) Distributed "
    "part: the transition counts (one LEAD window over the user_id "
    "exchange + a 25-cell aggregate — identical shape to "
    "ev_markov_transitions); the (I - Q) solve is a 3x3 driver-side "
    "numpy call, the sim_kmeans bounded-driver-state argument (k x k "
    "values, never rows). PROMOTED from rows-only in r7 (VERDICT r6 "
    "item 6): the oracle re-derives the identical integer transition "
    "counts and solves the same 3x3 system in closed form (Cramer), so "
    "the output carries the chain-pinning exact integers (n_outgoing / "
    "n_to_win / n_to_lose), p_absorb under the 6-dp quantized-score "
    "contract (cross-solver drift ~1e-14), and a per-state "
    "residual_ok = |h - (Qh + r)| <= 1e-9 self-check flag on each "
    "engine's own solution. The pytest replica still re-derives the "
    "UNROUNDED probabilities EXACTLY with Fraction Gaussian "
    "elimination and pins agreement to 1e-12, plus the probability "
    "bounds (h strictly interior when both absorbers are reachable). "
    "Dangling journeys (a user's final event) simply do not emit a "
    "transition — the estimator conditions on a next event existing. "
    "A transient state with ZERO observed outgoing transitions has an "
    "UNDEFINED absorption probability: it is reported as NULL, not "
    "0.0 (ADVICE r4); inside the solve such a state contributes h=0 — "
    "the conservative never-converts bound for any state that "
    "transitions into it, documented rather than hidden.",
    tags=("events", "analytics"),
)
def ev_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("from_state"),
            F.lead("event_type").over(w).alias("to_state"),
        )
        .filter(F.col("to_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counts = {(r.from_state, r.to_state): r.n for r in pairs.collect()}
    rows = absorption_rows(counts)
    # Symmetric row domain with the oracle (which hardcodes the
    # generator's three transient states for the Cramer pivot): a
    # transient state with NO observed transitions at all still gets
    # its (0, 0, 0, NULL, TRUE) row — absorption_rows only sees states
    # that appear in some transition.
    present = {r[0] for r in rows}
    for s in _MARKOV_TRANSIENT:
        if s not in present:
            rows.append((s, 0, 0, 0, None, True))
    out = spark.createDataFrame(
        rows,
        "state string, n_outgoing long, n_to_win long, n_to_lose long, "
        "p_absorb double, residual_ok boolean",
    )
    # quantized-score contract (r6 text_lm_score): ROUND at 6 dp on both
    # engines (Spark HALF_UP == DuckDB ROUND for positive h); + 0.0
    # canonicalizes a potential -0.0
    return out.withColumn("p_absorb", F.round(F.col("p_absorb"), 6) + 0.0)


def absorption_rows(counts: dict) -> list:
    """Solve the absorption race h = Q h + r from integer transition
    counts; pure driver-side math so the pytest replica can exercise
    edge cases (e.g. a dangling transient state) on literal counts.
    Returns (state, n_outgoing, n_to_win, n_to_lose, p_absorb,
    residual_ok) rows; p_absorb is None for a transient state with no
    observed outgoing transitions, and residual_ok self-checks the
    solver's h against |h - (Qh + r)| <= 1e-9 (the oracle's contract)."""
    import numpy as np

    states = sorted({s for s, _ in counts} | {t for _, t in counts})
    absorbing = {ABSORB_WIN, ABSORB_LOSE}
    transient = [s for s in states if s not in absorbing]
    out_totals = {
        s: sum(counts.get((s, t), 0) for t in states) for s in transient
    }
    n = len(transient)
    q = np.zeros((n, n))
    r = np.zeros(n)
    for i, s in enumerate(transient):
        tot = out_totals[s]
        if tot == 0:
            continue
        r[i] = counts.get((s, ABSORB_WIN), 0) / tot
        for j, t in enumerate(transient):
            q[i, j] = counts.get((s, t), 0) / tot
    h = np.linalg.solve(np.eye(n) - q, r)
    resid = np.abs(h - (q @ h + r))
    rows = [
        (
            s,
            int(out_totals[s]),
            int(counts.get((s, ABSORB_WIN), 0)),
            int(counts.get((s, ABSORB_LOSE), 0)),
            float(h[i]) if out_totals[s] > 0 else None,
            bool(resid[i] <= _MARKOV_RESID_TOL) if out_totals[s] > 0 else True,
        )
        for i, s in enumerate(transient)
    ]
    rows.append((ABSORB_WIN, 0, 0, 0, 1.0, True))
    rows.append((ABSORB_LOSE, 0, 0, 0, 0.0, True))
    return rows


@register(
    "ev_interarrival_percentiles",
    """
    WITH gaps AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP))
                   - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS gap_us
        FROM events)
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_us,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)
                AS BIGINT) AS p50_us,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_us)
                AS BIGINT) AS p90_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_us
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
    doc="events/ops: INTER-ARRIVAL time distribution per event type — "
    "per (user, type) consecutive gaps via LAG, then discrete "
    "percentiles (percentile_disc returns an ACTUAL gap, the "
    "op_winsorize exactness rule: integer microseconds end-to-end, no "
    "interpolation, hash-exact). The latency/cadence profile behind "
    "capacity planning and anomaly thresholds (ev_anomaly_zscore "
    "consumes daily counts; this is the sub-day cadence view). "
    "Scale: one (user_id, event_type) exchange for the LAG, then a "
    "5-group sort-based percentile — the per-group sort is the "
    "documented cost of EXACT percentiles; the approx_percentile "
    "sketch twin (op_percentiles_approx) is the 100 TB substitute.",
    tags=("events", "analytics"),
)
def ev_interarrival_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type", (t - F.lag(t).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").cast("long").alias("min_us"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)")
        .cast("long")
        .alias("p50_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_us)")
        .cast("long")
        .alias("p90_us"),
        F.max("gap_us").cast("long").alias("max_us"),
    )
