"""Physical-layout and write-path mechanisms the 100 TB notes rely on.

Each test pins a Spark behavior by its plan or its result, not by a
registered query:

- column statistics from ANALYZE let the cost-based optimizer broadcast
  a filtered join side that file size alone would sort-merge;
- dynamic partition pruning adds a runtime subquery to a partitioned
  fact scan joined on its partition column;
- ``mergeSchema`` unions drifting parquet schemas and null-fills the
  new column for old files;
- ``partitionOverwriteMode=dynamic`` replaces only the partitions the
  incoming batch touches;
- the REBALANCE hint plans an AQE rebalance exchange and conserves rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_analyze_column_stats_enable_cbo_broadcast(spark, catalog, tmp_path_factory):
    """Cost-based optimizer: with ANALYZE ... FOR ALL COLUMNS and
    spark.sql.cbo.enabled, a selective filter's output cardinality is
    estimated from column stats, letting the planner broadcast a join
    side whose FILE size alone is over the broadcast threshold. Without
    stats the same query sort-merges. This is the 100 TB reason to run
    ANALYZE on dimension tables after load."""
    base = tmp_path_factory.mktemp("cbo")
    orders = catalog.table("orders")
    li = catalog.table("lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    orders.write.mode("overwrite").option("path", str(base / "o")).saveAsTable(
        "t_orders_cbo"
    )
    li.write.mode("overwrite").option("path", str(base / "l")).saveAsTable(
        "t_li_cbo"
    )

    def plan():
        return (
            spark.table("t_orders_cbo")
            .filter("o_orderkey < 20")
            .join(spark.table("t_li_cbo"), "o_orderkey")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "8192",  # below both file sizes
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.planStats.enabled": "true",
        "spark.sql.adaptive.enabled": "false",  # isolate CBO from AQE runtime sizing
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        no_stats_plan = plan()
        assert "SortMergeJoin" in no_stats_plan, no_stats_plan

        spark.sql("ANALYZE TABLE t_orders_cbo COMPUTE STATISTICS FOR ALL COLUMNS")
        spark.sql("ANALYZE TABLE t_li_cbo COMPUTE STATISTICS")
        with_stats_plan = plan()
        assert "BroadcastHashJoin" in with_stats_plan, with_stats_plan

        # stats are recorded in the catalog
        desc = spark.sql("DESC EXTENDED t_orders_cbo o_orderkey").collect()
        info = {r["info_name"]: r["info_value"] for r in desc}
        assert info.get("min") is not None and info.get("distinct_count") is not None
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS t_orders_cbo")
        spark.sql("DROP TABLE IF EXISTS t_li_cbo")


def test_dynamic_partition_pruning_fires_on_partitioned_fact(
    spark, catalog, tmp_path_factory
):
    """100 TB mechanism: a hive-partitioned fact table joined on its
    partition column against a selectively-filtered dim gets a
    dynamicpruning subquery — the fact scan reads only the partitions the
    dim filter survives, decided at RUNTIME (no literal partition filter
    anywhere in the query). Result parity is checked against the
    unpartitioned compute."""
    base = tmp_path_factory.mktemp("dpp")
    fact_path = str(base / "events_by_day")
    events = catalog.table("events").select(
        "event_id", "ts", "user_id", "value",
        F.dayofmonth("ts").alias("day"),
    )
    events.write.mode("overwrite").partitionBy("day").parquet(fact_path)

    # dim: one row per day with an attribute only the dim knows; the
    # filter keeps 3 of ~30 days
    dim = (
        events.select("day")
        .distinct()
        .withColumn("is_audit_day", (F.col("day") % 10 == 3))
    )
    fact = spark.read.parquet(fact_path)
    joined = fact.join(F.broadcast(dim), "day").filter(F.col("is_audit_day"))

    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    got = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("day").alias("n_days"),
    ).collect()[0]
    expect = (
        events.filter(F.col("day") % 10 == 3)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("day").alias("n_days"),
        )
        .collect()[0]
    )
    assert (got.n, got.n_days) == (expect.n, expect.n_days)
    assert got.n_days == 3  # days 3, 13, 23 in a 30-day January


def test_parquet_schema_evolution_mergeschema(spark, catalog, tmp_path_factory):
    """Lakehouse schema drift: batch 2 adds a column. A plain read serves
    the FIRST footer it samples (column may be absent); mergeSchema=true
    unions the schemas, null-filling the column for old files — the
    contract an evolving 100 TB table relies on."""
    base = tmp_path_factory.mktemp("evolve")
    path = str(base / "tbl")
    o = catalog.table("orders")
    batch1 = o.select("o_orderkey", "o_totalprice").limit(100)
    batch2 = (
        o.select("o_orderkey", "o_totalprice")
        .withColumn("o_channel", F.lit("web"))
        .limit(50)
    )
    batch1.write.mode("overwrite").parquet(path)
    batch2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"o_orderkey", "o_totalprice", "o_channel"}
    counts = merged.groupBy(F.col("o_channel").isNull().alias("old")).count()
    by_old = {r.old: r["count"] for r in counts.collect()}
    assert by_old == {True: 100, False: 50}

    # projecting the new column over old files is a null-fill, not an error
    assert merged.filter(F.col("o_channel") == "web").count() == 50


def test_dynamic_partition_overwrite_replaces_only_touched_partitions(
    spark, catalog, tmp_path_factory
):
    """partitionOverwriteMode=dynamic: an INSERT OVERWRITE-style write
    replaces ONLY the partitions present in the incoming batch — the
    lakehouse backfill contract (static mode would wipe every partition)."""
    base = tmp_path_factory.mktemp("dpo")
    path = str(base / "events_by_day")
    events = catalog.table("events").select(
        "event_id", "user_id", F.dayofmonth("ts").alias("day")
    )
    events.write.mode("overwrite").partitionBy("day").parquet(path)
    before = spark.read.parquet(path)
    n_total = before.count()
    n_day3 = before.filter(F.col("day") == 3).count()
    assert 0 < n_day3 < n_total

    # backfill day 3 only, with a single sentinel row
    backfill = spark.createDataFrame([(999_999, 1, 3)], "event_id long, user_id long, day int")
    (
        backfill.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )
    after = spark.read.parquet(path)
    assert after.filter(F.col("day") == 3).count() == 1
    assert after.filter(F.col("day") == 3).head().event_id == 999_999
    # every other partition is untouched
    assert after.filter(F.col("day") != 3).count() == n_total - n_day3


def test_rebalance_hint_evens_output_partitions(spark, catalog):
    """REBALANCE (AQE) splits/coalesces output partitions toward even
    sizes — the write-preparation hint that prevents tiny/huge files at
    100 TB. Plan must show an AQE rebalance exchange; row totals are
    conserved."""
    e = catalog.table("events")
    skewed = e.withColumn("k", (F.col("user_id") % 2).cast("int"))
    balanced = skewed.hint("rebalance", "k")
    plan = balanced._jdf.queryExecution().executedPlan().toString()
    assert "REBALANCE" in plan.upper() or "RebalancePartitions" in plan, plan[:800]
    assert balanced.count() == e.count()
