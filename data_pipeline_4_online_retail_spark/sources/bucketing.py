"""Bucketed table layout — co-located joins with NO shuffle at read time.

The single biggest lever for a 100 TB fact-to-fact join (lineitem ⋈
orders here; impressions ⋈ conversions in an event warehouse) is to not
shuffle either side at query time: write both tables bucketed (and
sorted) by the join key with the same bucket count, and Spark's scan
reports a hash-partitioned output ordering that SortMergeJoin consumes
directly — the Exchange disappears from every subsequent join on that
key, amortizing one write-time shuffle across every downstream query.

Bucketing requires the table catalog (``saveAsTable``): bucket metadata
lives in the catalog, not in parquet footers. ``path`` makes the table
external so the files land under the caller's directory, not the global
warehouse.

At 100 TB: pick bucket counts so one bucket of the LARGER table fits an
executor core's working set (e.g. 4096 buckets for a 10 TB fact ≈ 2.5 GB
per bucket) AND so the count is several waves of the cluster's core
count — zero-shuffle consumers inherit the scan's parallelism directly.
Measured on BOTH layouts at sf100 (SCALING §r10 addendum, §r11): on the
partkey projection a 1-wave count leaves ~20% on the table (32 → 128:
q17 14.4 → 11.5 s, q19 2.9 → 2.27); on the orderkey layout the trade is
PER-QUERY — scan-dominated consumers want several waves (q04
filter+semi+agg on the bucketed key: 12.5 → 2.24 s at 128; q21
20.8 → 13.8; q18 27.7 → 24.3; q10 6.2 → 5.6) while exchange-dominated
consumers prefer 1-wave (q03 18.9@32 vs 28.4@128; q05 19.3 vs 21.9 —
their post-scan exchanges re-partition anyway and 4x the files costs
scan setup). Across the measured six-query family the several-waves
count wins in aggregate (96.2 s vs 105.4) and the write itself is
35-44% cheaper at 128 (more write parallelism). Default locally: 128,
with the q03/q05 caveat recorded rather than averaged away. This rule
is CODE, not prose: ``pick_bucket_count(table_bytes, cores,
consumers=...)`` below implements it. Keep the count a power of two so
a future re-bucketing to half/double the count can merge/split buckets
without a full shuffle.
Bucket-pruning on point predicates (key = literal) reads 1/N of the
files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: One bucket of the larger table should fit an executor core's working
#: set. 2.5 GiB reproduces the header's 100 TB sizing example (10 TiB
#: fact -> 4096 buckets) and holds at the measured sf100 tier.
BUCKET_WORKING_SET_BYTES = int(2.5 * 2**30)


def _next_pow2(n: int) -> int:
    return 1 << max(0, (int(n) - 1).bit_length())


def pick_bucket_count(
    table_bytes: int,
    cores: int,
    *,
    consumers: str = "scan",
    bucket_bytes: int = BUCKET_WORKING_SET_BYTES,
) -> int:
    """The measured bucket-count rule as code (VERDICT r11 item 5).

    Two lower bounds, take the max, round to a power of two (so a future
    re-bucketing to half/double the count merges/splits buckets without
    a full shuffle):

    1. **Working-set bound** — one bucket of the table must fit an
       executor core's working set: ``ceil(table_bytes / bucket_bytes)``.
       Dominates at real tiers (10 TiB fact / 2.5 GiB -> 4096).
    2. **Waves bound** — zero-shuffle consumers inherit the scan's
       parallelism directly, so the count is a multiple of the core
       count. ``consumers`` picks the multiplier per the sf100 sweep
       (module header, SCALING §r10 addendum / §r11):

       - ``"scan"`` (default): SEVERAL waves (4x cores). Scan-dominated
         consumers — filter+semi+agg on the bucketed key — want small
         buckets for wave balance: q04 12.5 -> 2.24 s, q21 20.8 -> 13.8,
         q17 14.4 -> 11.5, q19 2.9 -> 2.27 at 128 vs 32 on 32 cores;
         the write itself is 35-44% cheaper.
       - ``"exchange"``: ONE wave. Exchange-dominated consumers (q03
         18.9@32 vs 28.4@128; q05 19.3 vs 21.9) re-partition after the
         scan anyway, and more files only add scan setup.

    Locally (32 cores, sub-GiB tables) this yields the defaults the
    probes measured: 128 for the orderkey/partkey layouts' scan family,
    32 for the q03/q05 exception.
    """
    if consumers not in ("scan", "exchange"):
        raise ValueError(f"consumers must be 'scan' or 'exchange': {consumers!r}")
    waves = 4 if consumers == "scan" else 1
    working_set_bound = -(-max(0, int(table_bytes)) // bucket_bytes)  # ceil
    return max(
        _next_pow2(waves * max(1, int(cores))),
        _next_pow2(working_set_bound),
    )


def table_file_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of ``<sf_dir>/<table>.parquet`` (file or directory) —
    the ``table_bytes`` input of pick_bucket_count."""
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(p):
        return os.path.getsize(p)
    total = 0
    for root, _dirs, files in os.walk(p):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    *,
    bucket_by: str,
    n_buckets: int,
    sort: bool = True,
    single_file_buckets: bool = True,
) -> None:
    """Write ``df`` as an external bucketed (optionally bucket-sorted)
    parquet table registered as ``table`` in the session catalog.

    ``single_file_buckets`` repartitions by the bucket key first so each
    bucket is exactly ONE file (Spark otherwise writes one file per
    (task, bucket) — up to tasks×buckets files). This matters beyond
    file-count hygiene: the scan only reports the bucket SORT order when
    every bucket is a single file, so multi-file buckets silently
    re-introduce a per-query Sort under every SortMergeJoin that the
    ``sortBy`` was meant to eliminate (observed r8, SCALING §"Round 8
    follow-up: the bucketed layout": the bucketed star plan kept a Sort
    node until the rewrite). Note the cost honestly:
    a plain bucketBy write does NOT shuffle (it sorts within tasks and
    writes per-(task,bucket) files), so the up-front repartition adds
    one write-time exchange — a cost the layout amortizes across every
    subsequent co-bucketed read. At 100 TB pick n_buckets so one bucket
    ≈ one executor-core working set.

    Layout decision rule, measured (SCALING §"Round 9: the second join
    key, settled", §"Round 10: the partkey tail's cheaper storage
    point"): bucket the FACT on the workload's dominant join key only —
    a table has one layout. For a
    standing SECOND key family (TPC-H's partkey tail), the priced
    options at sf100 are: (a) dim-side bucketing — free (8 s part
    write), a reliable 12-25% (only the dim-side exchange dies; the
    fact-side exchange stays) — take it when fact storage is capped;
    (b) a second fact copy bucketed on the second key — 2x fact
    storage, 2.4-7.8x per query, amortizes in ONE pass of the family
    (~170 s saved per sweep vs a 272 s write) — take it when the
    family is a standing workload. For one-off dim joins below the
    broadcast threshold the planner broadcasts the pruned dim and
    layout is irrelevant (sf10: part broadcast in every variant).
    Never force-broadcast past the threshold: the sf100 hint variant
    planned 3-exchanges but DIED in the broadcast build ("Not enough
    memory to build and broadcast", 20M-row dim, 16 GB JVM) — the same
    wall a large cluster hits as network fan-out.
    """
    if single_file_buckets:
        df = df.repartition(n_buckets, df[bucket_by])
    w = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_by)
    )
    if sort:
        w = w.sortBy(bucket_by)
    w.format("parquet").saveAsTable(table)


def cobucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucket-count tables on their bucket key. With both
    sides bucketed+sorted, the physical plan is a SortMergeJoin with
    ZERO Exchange operators — and no per-query Sort either, when the
    buckets are single-file (write_bucketed's default) and
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` (Spark
    only lists files to learn the sort order under that conf; enable it
    on sessions that read persisted bucketed layouts)."""
    return spark.table(left_table).join(spark.table(right_table), key)
