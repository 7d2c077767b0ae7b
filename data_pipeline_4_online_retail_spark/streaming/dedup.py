"""Streaming incremental dedup: continuous-ingestion near-duplicate
detection over a PERSISTENT LSH bucket index.

This is the deployment shape of ``operators/dedup.dedup_incremental``:
each micro-batch of newly crawled documents

1. computes xxhash64 MinHash band keys (the production signature —
   ``dedup_minhash_lsh_fast``'s geometry),
2. probes the stored bucket table for band collisions against every
   previously indexed document (asymmetric band join: batch side tiny,
   index side a parquet table partitioned by ingest batch),
3. exact-Jaccard-verifies candidates against the stored shingle arrays,
4. emits verified (doc_id, dup_of) pairs — including within-batch dups,
   oriented (larger, smaller) doc_id — and appends the batch's own
   band keys + shingles to the index.

Idempotent under micro-batch replay: every write lands in a
``b<epoch_id>`` subdirectory with ``mode("overwrite")``, so a
re-delivered batch overwrites its own previous output instead of
double-appending — the foreachBatch exactly-once recipe from the
Structured Streaming guide.

Per-batch cost is O(batch + collisions), never O(corpus): the index is
only ever *probed* on its (band_idx, band_hash) key and *appended* to.
At 100 TB the bucket table should additionally be bucketed on band_hash
(``bucketBy`` on the index write) so the probe join is co-located.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    N_BANDS,
    _sig_hash_count,
    jaccard_verify_pairs,
    minhash_signature_xxhash64,
    shingled_docs,
)

_SHINGLE_SCHEMA = "doc_id LONG, shingles ARRAY<STRING>, ingest_batch LONG"
_BUCKET_SCHEMA = "doc_id LONG, band_idx INT, band_hash LONG, ingest_batch LONG"


def band_keys_fast(sharr: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) xxhash64 band keys from shingle
    arrays — shared by the batch fast path and this streaming index."""
    sig = minhash_signature_xxhash64(sharr)
    rows = _sig_hash_count(sig) // N_BANDS
    bands = F.array(
        *[
            F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)])
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(bands).alias("band_idx", "band_hash"))


class IncrementalDedupIndex:
    """Persistent LSH index under ``index_dir`` with three stores:
    ``buckets/`` (band keys), ``shingles/`` (verification arrays), and
    ``dups/`` (the emitted duplicate pairs), each partitioned by ingest
    batch for idempotent replay."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.dir = index_dir

    def _read(self, store: str, schema: str) -> DataFrame:
        path = os.path.join(self.dir, store)
        if not os.path.isdir(path) or not any(
            e.startswith("b") for e in os.listdir(path)
        ):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            os.path.join(path, "b*")
        )

    def _write(self, df: DataFrame, store: str, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(self.dir, store, f"b{batch_id}")
        )

    def process_batch(self, docs: DataFrame, batch_id: int) -> None:
        """foreachBatch body: docs is a STATIC (doc_id, text) batch."""
        sharr = shingled_docs(docs).persist()
        banded = None
        try:
            banded = band_keys_fast(sharr).persist()
            # Replay safety: a redelivered batch finds its OWN first-run
            # rows already in the index — probing them would fabricate
            # self/within-batch "cross" pairs. Index rows carry their
            # ingest_batch, and the probe excludes the current id.
            idx_buckets = self._read("buckets", _BUCKET_SCHEMA).filter(
                F.col("ingest_batch") != batch_id
            )
            idx_shingles = self._read("shingles", _SHINGLE_SCHEMA).filter(
                F.col("ingest_batch") != batch_id
            )

            # (a) new-vs-index: asymmetric probe, candidates verified
            # against the STORED shingle arrays
            cross = (
                banded.alias("n")
                .join(
                    idx_buckets.alias("i"),
                    (F.col("n.band_idx") == F.col("i.band_idx"))
                    & (F.col("n.band_hash") == F.col("i.band_hash")),
                )
                .select(
                    F.col("n.doc_id").alias("doc_a"),
                    F.col("i.doc_id").alias("doc_b"),
                )
                .distinct()
            )
            both_sh = sharr.unionByName(idx_shingles.drop("ingest_batch"))
            cross_dups = jaccard_verify_pairs(cross, both_sh, JACCARD_THRESHOLD)

            # (b) within-batch: self-join oriented (larger, smaller)
            within = (
                banded.alias("a")
                .join(
                    banded.alias("b"),
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_hash") == F.col("b.band_hash"))
                    & (F.col("a.doc_id") > F.col("b.doc_id")),
                )
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
                .distinct()
            )
            within_dups = jaccard_verify_pairs(within, sharr, JACCARD_THRESHOLD)

            dups = cross_dups.unionByName(within_dups).select(
                F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("dup_of")
            )
            tag = F.lit(batch_id).cast("long").alias("ingest_batch")
            self._write(dups, "dups", batch_id)
            self._write(banded.select("*", tag), "buckets", batch_id)
            self._write(sharr.select("*", tag), "shingles", batch_id)
        finally:
            sharr.unpersist()
            if banded is not None:
                banded.unpersist()

    def duplicates(self) -> DataFrame:
        return self._read("dups", "doc_id LONG, dup_of LONG")


def start_streaming_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    *,
    trigger_available_now: bool = True,
):
    """Wire the index into writeStream.foreachBatch. ``docs_stream`` must
    carry (doc_id, text). Returns the started StreamingQuery."""
    index = IncrementalDedupIndex(docs_stream.sparkSession, index_dir)

    def _each(batch_df: DataFrame, batch_id: int) -> None:
        index.process_batch(batch_df.select("doc_id", "text"), batch_id)

    writer = (
        docs_stream.writeStream.foreachBatch(_each)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
