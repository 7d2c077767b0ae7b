"""Readers and sinks (SURVEY.md §2.1 S2/S3/S5/S11).

Readers take explicit schemas; sinks are the reference's full-rebuild
``materialized: table`` semantics (WRITE_TRUNCATE / CREATE OR REPLACE →
``mode("overwrite")``).

Scale note: parquet reads are vectorized + filter-pushdown/column-pruned
by Catalyst; callers should select/filter *before* any wide transform so
pruning reaches the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    encoding: str = "ISO-8859-1",
    header: bool = True,
) -> DataFrame:
    """CSV scan with an explicit schema.

    Defaults to latin-1 to match the reference's loader
    (dags/online_retail.py:36, :92 — the Online Retail CSV is iso-8859-1).
    """
    return (
        spark.read.option("header", header)
        .option("encoding", encoding)
        .schema(schema)
        .csv(path)
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (schema comes from parquet footers; declared schemas are
    asserted post-read by quality checks rather than forced at scan)."""
    return spark.read.parquet(path)


def write_csv(df: DataFrame, path: str, *, header: bool = True, single_file: bool = False) -> None:
    """CSV sink (reference dags/online_retail.py:50). ``single_file``
    coalesces to one partition — only for small exports."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", header).csv(path)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    *,
    target_file_mb: int = 512,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ceil(bytes / target_file_mb) files; returns the file count written.

    The operational pain this solves at 100 TB: streaming sinks and
    per-batch appends (e.g. the incremental dedup index) accumulate
    thousands of KB-sized files, and scan planning starts to cost more
    than scanning. One repartition to the byte-budgeted file count fixes
    listing, footer, and scheduler overhead in a single pass.

    ``sort_within_by`` optionally sorts WITHIN each output file
    (sortWithinPartitions — no global sort) so parquet row-group min/max
    stats become selective for those columns: compaction doubles as the
    data-layout pass that makes later predicate pushdown actually skip
    row groups.
    """
    import math
    import os as _os

    total = sum(
        _os.path.getsize(_os.path.join(root, f))
        for root, _, files in _os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(dst)
    return n_files


def write_partitioned_incremental(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str],
    dynamic: bool = True,
) -> None:
    """Partition-scoped overwrite: with ``dynamic=True`` an overwrite
    replaces ONLY the partitions present in ``df`` (Spark's
    ``partitionOverwriteMode=dynamic``), leaving the rest of the table
    intact — the idempotent daily-batch sink (re-running day D rewrites
    day D, never truncates history). ``dynamic=False`` is the default
    Spark STATIC mode, which truncates the whole table first; exposed so
    tests can pin the difference."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode",
        "dynamic" if dynamic else "static",
    )
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_csv_permissive(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    corrupt_col: str = "_corrupt_record",
    encoding: str = "ISO-8859-1",
) -> DataFrame:
    """CSV scan that SURVIVES malformed rows instead of failing the job:
    PERMISSIVE mode parses what it can, nulls what it can't, and captures
    the raw text of each malformed line in ``corrupt_col`` so a
    quarantine query can count/inspect/route them (the
    badRecordsPath pattern without a proprietary sink). At 100 TB a
    single mangled line must never kill a multi-hour ingest; the
    quarantine count becomes a quality-gate metric (quality.py)."""
    full = T.StructType(
        schema.fields + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.option("header", True)
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
        .csv(path)
    )


def write_jsonl(df: DataFrame, path: str, *, compression: str | None = None) -> None:
    """JSON-Lines sink — the interchange format LLM training corpora
    actually ship in (one JSON object per line). Spark's json writer is
    JSONL natively: one object per row, one file per partition. Gzip
    compression halves storage but makes splits non-splittable — prefer
    none/zstd for files a downstream Spark job will re-read in parallel."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSONL source. ALWAYS pass a schema in production: schema inference
    runs a full extra pass over 100 TB before the real job starts, and a
    drifting field type silently re-types the whole column. Unparseable
    lines surface in ``_corrupt_record`` (PERMISSIVE default) instead of
    failing the job."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — the other columnar interchange format (Hive/Trino
    estates). Same predicate-pushdown + column-pruning contract as
    parquet via the native vectorized ORC reader."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_xml(df: DataFrame, path: str, *, row_tag: str = "row") -> None:
    """XML sink (Spark 4 built-in spark-xml): one <row_tag> element per
    record. Interchange shape for feeds that still speak XML (finance,
    gov registries). Writes are partition-parallel like any file sink."""
    df.write.mode("overwrite").format("xml").option("rowTag", row_tag).save(path)


def read_xml(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    *,
    row_tag: str = "row",
) -> DataFrame:
    """XML source. Pass a DDL schema in production for the same reasons
    as read_jsonl (inference is a full extra pass; type drift re-types
    columns); malformed elements go PERMISSIVE-null rather than failing
    the job. Column pruning applies; predicate pushdown does not exist
    for XML -- filters run post-parse, so convert hot XML feeds to
    parquet at the ingest edge."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)
