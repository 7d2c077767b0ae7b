"""Scale-design regression tests: the physical plans we rely on at 100 TB
must actually materialize — partition pruning reaches the scan, bucketed
joins skip the shuffle, top-k avoids global sorts, scans are
column-pruned, sketches bound their error.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_partition_pruning_reaches_scan(spark, catalog, tmp_path):
    """A filter on the partition column must prune directories, not rows."""
    path = str(tmp_path / "events_by_type")
    catalog.table("events").write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(path)
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = _formatted(df)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_type" in pf_line and "click" in pf_line
    # the filter never appears as a data filter — it's fully partition-level
    assert df.count() == catalog.table("events").filter(
        F.col("event_type") == "click"
    ).count()


def test_bucketed_join_skips_shuffle(spark, catalog, tmp_path):
    """Tables bucketed+sorted on the join key sort-merge-join with no
    Exchange — the co-located large-large join strategy."""
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS buckets LOCATION '{tmp_path / 'wh'}'"
    )
    try:
        for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            (
                catalog.table(name)
                .write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .format("parquet")
                .saveAsTable(f"buckets.{name}_b")
            )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("buckets.lineitem_b").join(
                spark.table("buckets.orders_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = _plan(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join should not shuffle"
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS buckets.orders_b")
        spark.sql("DROP TABLE IF EXISTS buckets.lineitem_b")
        spark.sql("DROP DATABASE IF EXISTS buckets")


def test_flagship_plan_shape(spark):
    """Flagship report: pruned lineitem scan (3 cols), broadcast dims,
    TakeOrderedAndProject top-k (no global sort)."""
    import __spark_entry__ as e

    df = e.queries()["star_report_customer"](spark, "/root/testdata/sf0.001")
    plan = _formatted(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # lineitem scan reads only the 3 needed columns
    for chunk in plan.split("Scan parquet"):
        if "lineitem.parquet" in chunk:
            schema_line = [l for l in chunk.splitlines() if "ReadSchema" in l]
            assert schema_line and schema_line[0].count(":") <= 4, schema_line
    assert "SortMergeJoin" not in plan  # all dims broadcast at this SF


def test_retail_pipeline_no_unbounded_broadcast(spark):
    """With autoBroadcastJoinThreshold=-1, no fact→dim join in the retail
    tier may plan a BroadcastHashJoin: dim_invoice/dim_product/dim_datetime
    grow with the data, so an explicit broadcast hint there is a driver OOM
    at scale. The only permitted broadcast is the bounded country seed
    (keyed on the country display name)."""
    from data_pipeline_4_online_retail_spark.pipeline import run_retail_pipeline

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        cat = run_retail_pipeline(spark)
        dim_keys = ("invoice_key", "product_key", "date_key", "customer_key")
        for table in (
            "fct_invoice_line_value",
            "report_customer_invoices",
            "report_product_invoices",
            "report_year_invoices",
        ):
            plan = _plan(cat.table(table))
            for line in plan.splitlines():
                if "BroadcastHashJoin" in line:
                    assert not any(k in line for k in dim_keys), (table, line)
            # The stage tables are persisted, so the plan is rooted at an
            # InMemoryTableScan; the joins must still be in the scanned text
            # (inside the nested cached plans) or the check above is vacuous.
            assert any(
                "SortMergeJoin" in line and any(k in line for k in dim_keys)
                for line in plan.splitlines()
            ), (table, plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_window_topk_avoids_full_sort(spark, catalog):
    """ORDER BY + LIMIT plans as TakeOrderedAndProject, not Sort+Limit."""
    df = (
        catalog.table("orders")
        .orderBy(F.desc("o_totalprice"))
        .limit(5)
    )
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_approx_distinct_error_bound(spark, catalog):
    """HLL++ at rsd=0.02 must land within 5% of the exact count."""
    o = catalog.table("orders")
    exact = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    approx = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.approx_count_distinct("o_custkey", rsd=0.02).alias("n"))
        .collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) <= max(2, 0.05 * v), (k, v, approx[k])


def test_runtime_bloom_filter_injects_on_selective_join(spark, catalog):
    """Spark's runtime row-level filtering: a selective non-broadcast
    dim side must inject a bloom filter into the fact scan
    (might_contain over bloom_filter_agg) — at 100 TB this skips the
    shuffle-write of every fact row whose key cannot join. The
    production gate is applicationSideScanSizeThreshold=10GB, far above
    the fixture, so the thresholds are lowered here to pin the
    mechanism itself."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = catalog.table("lineitem")
        o = catalog.table("orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, "bloom filter not injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling: a hot join key must split into multiple
    tasks (SortMergeJoin(skew=true) + AQEShuffleRead 'skewed') instead
    of serializing one straggler task — the runtime complement to the
    deterministic salting in operators/skew.py. Thresholds are lowered
    to make the fixture's ~7MB hot partition qualify.

    Pinned non-obvious restriction: if the join feeds an aggregate ON
    THE JOIN KEY, AQE must NOT split (the downstream stage requires
    hash-partitioned input) — at scale, keyed post-join rollups need
    salting, not AQE."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "30KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = (
            spark.range(0, 500000)
            .withColumn(
                "k",
                F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")),
            )
            .select("k", "id")
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k2"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, F.col("k") == F.col("k2")).agg(
            F.count(F.lit(1)).alias("n")
        )
        assert j.collect()[0].n == 450100
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the hot key"

        # keyed rollup on the join key forbids the split
        g = (
            left.join(right, F.col("k") == F.col("k2"))
            .groupBy("k")
            .count()
        )
        g.collect()
        gplan = g._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" not in gplan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
