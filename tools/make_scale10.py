"""Replicate the sf0.1 testdata N× with shifted keys — the scale-probe
dataset behind SCALING.md.

Each copy shifts every key column by ``copy * span`` (span = max key + 1
of the key's domain table), so key cardinality scales with the data:
joins don't degenerate into hot keys and aggregates see N× groups.
Document text gets a per-copy tag PREFIXED to every word
(``regexp_replace(' ', ' c<i>')``): within-copy duplicate/near-dup
structure is preserved exactly and cross-copy shingle overlap drops to
~0, so dedup candidate counts scale linearly instead of quadratically.
(Inserting standalone tag tokens instead creates shingles like
"c1 the c1" shared by every doc in a copy — minhash band buckets then
collapse into mega-buckets and the LSH self-join goes quadratic; word
prefixes keep cross-DOC shingle sharing identical to the original.)
Embeddings keep their vectors (labels shift), so ANN per-cell geometry is
preserved per copy.

Usage: python tools/make_scale10.py [SRC_SF_DIR] [OUT_DIR] [N_COPIES]
Then:  SPARK_GRAFT_SF_DIR=<OUT_DIR> python bench.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.session import get_spark
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale10"
N = int(sys.argv[3]) if len(sys.argv) > 3 else 10

# key domain -> (table, column) that defines its span
DOMAINS = {
    "orderkey": ("orders", "o_orderkey"),
    "partkey": ("part", "p_partkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "custkey": ("customer", "c_custkey"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "label": ("embeddings", "label"),
}

# table -> {column: domain}; nation/region stay fixed (bounded dims)
SHIFTS = {
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id", "label": "label"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
}


def build(spark, src: str = SRC, out: str = OUT, n: int = N, quiet: bool = False) -> str:
    """Write the n-times replica of ``src`` under ``out``; returns ``out``.

    Importable (bench.py's scale10 block calls this in-process on the
    already-warm session); the CLI entrypoint below is a thin wrapper.
    """
    # the catalog loader handles events' TIMESTAMP(NANOS) column; the
    # replica is written with plain microsecond timestamps
    cat = load_tables(spark, src)
    spans = {
        dom: cat.table(tbl).agg(F.max(col).cast("long")).head()[0] + 1
        for dom, (tbl, col) in DOMAINS.items()
    }
    for tbl in ("region", "nation"):
        cat.table(tbl).write.mode("overwrite").parquet(f"{out}/{tbl}.parquet")
    for tbl, shifts in SHIFTS.items():
        src_df = cat.table(tbl)
        copies = []
        for i in range(n):
            df = src_df
            for col, dom in shifts.items():
                shifted = (F.col(col).cast("long") + F.lit(i * spans[dom]))
                df = df.withColumn(col, shifted.cast(src_df.schema[col].dataType))
            if tbl == "documents" and i > 0:
                df = df.withColumn(
                    "text", F.regexp_replace("text", " ", f" c{i}")
                ).withColumn("n_chars", F.length("text"))
            copies.append(df)
        out_df = copies[0]
        for c in copies[1:]:
            out_df = out_df.unionByName(c)
        out_df.write.mode("overwrite").parquet(f"{out}/{tbl}.parquet")
        if not quiet:
            print(f"{tbl}: {n}x written")
    if not quiet:
        print(f"scale probe data at {out}")
    return out


def main() -> None:
    build(get_spark("make-scale10"), SRC, OUT, N)


if __name__ == "__main__":
    main()
