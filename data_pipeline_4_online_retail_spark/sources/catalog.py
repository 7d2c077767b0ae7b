"""Named-source registry — the dbt ``source()`` / ``ref()`` equivalent
(SURVEY.md §2.1 S12/S13).

A ``Catalog`` maps logical table names to DataFrames and registers each as a
temp view so both the DataFrame API and ``spark.sql`` resolve them. Models
(plans/) take a Catalog and return DataFrames; materializing a model back
into the catalog is the ``ref()`` edge.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_4_online_retail_spark.sources.schemas import TESTDATA_TABLES

# events.parquet stores ts as TIMESTAMP(NANOS), which Spark's parquet reader
# rejects; we read nanos as long (runtime conf) and convert to microsecond
# timestamps, matching DuckDB's ns→µs truncation.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Catalog:
    """Registry of named DataFrames (temp views)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, DataFrame] = {}
        self._paths: dict[str, str] = {}

    def register(
        self, name: str, df: DataFrame, path: str | None = None
    ) -> DataFrame:
        self._tables[name] = df
        if path is not None:
            self._paths[name] = path
        df.createOrReplaceTempView(name)
        return df

    def table(self, name: str) -> DataFrame:
        if name in self._tables:
            return self._tables[name]
        return self.spark.table(name)

    def __contains__(self, name: str) -> bool:
        return name in self._tables

    def names(self) -> list[str]:
        return sorted(self._tables)

    def scan_width(self, name: str) -> int:
        """Upper bound on USEFUL parallel scan tasks for ``name``'s on-disk
        layout: parquet splits at row-group boundaries, and the fixture
        tables are single-row-group files, so a byte-range split beyond
        ``max(n_files, bytes/maxPartitionBytes)`` produces empty tasks.
        Unknown path (derived/temp view) → assume wide (no crutch)."""
        path = self._paths.get(name)
        if path is None:
            return 1 << 30
        return _layout_scan_width(path, self.spark)

    def spread(self, name: str, *cols: str, min_speedup: float = 2.0) -> DataFrame:
        """``table(name)``, hash-repartitioned on ``cols`` ONLY when the
        on-disk layout cannot feed enough scan tasks to keep the session's
        cores busy (guide §2.4/§6: a narrow layout serializes every
        map-side stage; at real tiers the source is many files/row-groups
        and this helper provably inserts NO exchange — the gate runs at
        plan-build time, so a wide layout's plan has no REPARTITION node).
        Keyed (never round-robin) so the exchange is deterministic under
        retries and downstream ops keyed the same way can ride it.

        ``min_speedup`` is the parallelism gain (cores / useful scan
        tasks) below which the crutch exchange costs more than the serial
        work it parallelizes — callers declare how heavy their map-side
        stage is. Measured at the 11-file 10x replica (32 cores, gain
        2.9x): dedup's shingle pass still wins with the exchange (2.19 →
        1.86 s, heavy per-row HOF work → default 2.0 keeps it), while the
        star rollups lose (report_year 1.17 plain vs 1.74 spread — cheap
        partial aggregates → those sites pass 4.0)."""
        df = self.table(name)
        cores = self.spark.sparkContext.defaultParallelism
        if self.scan_width(name) * min_speedup > cores:
            return df
        return df.repartition(*[F.col(c) for c in cols])


def _layout_scan_width(path: str, spark: SparkSession) -> int:
    """max(number of data files, total bytes / maxPartitionBytes)."""
    # os.walk sees the local filesystem only: off-box (HDFS, object
    # stores) this reads as a wide layout and ``spread`` never fires.
    files: list[str] = []
    if os.path.isfile(path):
        files = [path]
    else:
        try:
            for root, _dirs, names in os.walk(path):
                files.extend(
                    os.path.join(root, f)
                    for f in names
                    if f.endswith(".parquet") and not f.startswith((".", "_"))
                )
        except OSError:
            return 1 << 30
    if not files:
        return 1 << 30
    total = 0
    for f in files:
        try:
            total += os.path.getsize(f)
        except OSError:
            pass
    try:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        max_split = _parse_bytes(raw)
    except Exception:  # noqa: BLE001 — conf shape is version-dependent
        max_split = 128 * 1024 * 1024
    return max(len(files), total // max_split)


_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(raw: str) -> int:
    """Spark byte-size conf string → bytes ("134217728", "128m", "1g")."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)i?b?\s*", raw.lower())
    if not m:
        return 128 * 1024 * 1024
    return int(m.group(1)) * _UNITS[m.group(2)]


_CATALOG_CACHE: dict[tuple[int, str], "Catalog"] = {}


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> Catalog:
    """Load every driver test table from ``sf_dir`` into a Catalog.

    Memoized per (session, dir): repeated queries share the analyzed scan
    relations instead of re-listing files and re-reading footers. The
    ``Catalog.table`` lookup uses its own dict, so two catalogs at
    different scale factors coexist safely (temp views are a convenience
    for spark.sql users and reflect the most recent load).
    """
    from data_pipeline_4_online_retail_spark.session import pin_session_semantics

    key = (id(spark), sf_dir)
    if key in _CATALOG_CACHE:
        return _CATALOG_CACHE[key]
    pin_session_semantics(spark)
    cat = Catalog(spark)
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        for col in _NANOS_TS_COLS.get(name, ()):
            if isinstance(df.schema[col].dataType, T.LongType):
                # integer DIV, not double division: epoch-nanos (~1.7e18)
                # exceed double's 53-bit mantissa and would round, while
                # DuckDB truncates ns→µs — off-by-1µs hash mismatches.
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
        # The parquet files have shipped ts in two physical shapes so far:
        # nanos-as-long (handled above) and timestamp[us] without the UTC
        # flag, which pyspark >= 4 reads as TIMESTAMP_NTZ. NTZ breaks any
        # TIMESTAMP-only function downstream (unix_micros, to_utc_timestamp),
        # so normalize every NTZ column; the session timezone is pinned to
        # UTC, making the cast wall-clock-exact and DuckDB-stable.
        for field in df.schema.fields:
            if isinstance(field.dataType, T.TimestampNTZType):
                df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
        cat.register(name, df, path=path)
    _CATALOG_CACHE[key] = cat
    return cat
