"""Training-data curation operators — the filtering / splitting / packing
tier a 100 TB pretraining pipeline runs between ingestion and dedup
(SURVEY.md §2 extensions; reference repo has no analogue — this tier is
the LLM-data extension the build brief asks for).

Curation operators, each with a DuckDB oracle twin:

- ``text_quality_filters``  — Gopher/C4-style repetition + length gates
- ``text_contamination``    — benchmark n-gram overlap (decontamination)
- ``pii_mask``              — deterministic PII masking / redaction
- ``ev_asof_join``          — as-of (latest-prior-event) join
- ``text_split_assign``     — hash-stable train/val/test assignment
- ``text_bm25``             — BM25 relevance scoring (rational idf)
- ``text_chunk_windows``    — sliding context windows with stride
- ``text_pack_sequences``   — next-fit token packing into fixed budgets
- ``text_quality_sample``   — quality-weighted acceptance sampling
- ``text_mixture_sample``   — source-mixture rebalancing (r3)
- ``text_shard_assign``     — shard + deterministic shuffle (r3)
- ``text_temperature_sample`` — alpha=0.5 language upweighting (r4)
- ``text_dup_span_removal`` — corpus-wide repeated-span removal (r4)
- ``text_source_cap``       — per-source document caps (r4)

Everything except packing is built-in column expressions (codegen, no
Python); packing is the one genuinely sequential-per-group step and uses
Arrow-batched ``applyInPandas`` over independent hash buckets.

Float discipline: every double in a checked output is derived from
integer counts by explicitly-parenthesized +,-,*,/ written identically in
the Spark expression and the oracle SQL — IEEE ops are correctly rounded,
so the results are bit-identical with no rounding needed. (``ln``/``exp``
are libm-dependent and excluded; BM25 therefore uses the rational idf
(N - df + 0.5)/(df + 0.5) rather than the log form.)
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir).table("documents")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir).table("events")


def _ngrams(toks: Column, n: int) -> Column:
    """Word n-gram array from a token array (1-based element_at, like
    DuckDB list indexing). Docs shorter than n yield an empty array —
    guarded explicitly because ``sequence(1, 0)`` counts DOWN in Spark."""
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))


def _ngram_sql_bare(n: int) -> str:
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return f"list_transform(range(1, len(toks) - {n - 2}), i -> {parts})"


def _ngram_sql(n: int) -> str:
    return f"CASE WHEN len(toks) >= {n} THEN {_ngram_sql_bare(n)} ELSE [] END"


# ---------------------------------------------------------------------------
# 1. Quality filters (Gopher / C4 style)
# ---------------------------------------------------------------------------

MIN_TOKENS, MAX_TOKENS = 20, 1000
MAX_TOP_UNIGRAM_FRAC = 0.12
MAX_DUP_2GRAM_FRAC = 0.05


@register(
    "text_quality_filters",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    m AS (
        SELECT doc_id, len(toks) AS n_tokens,
               list_max(list_transform(list_distinct(toks),
                        u -> len(list_filter(toks, x -> x = u))))
                   * 1.0 / len(toks) AS top_unigram_frac,
               CASE WHEN len(toks) >= 2 THEN
                    (len(toks) - 1 - len(list_distinct({_ngram_sql_bare(2)})))
                        * 1.0 / (len(toks) - 1)
               ELSE 0.0 END AS dup_2gram_frac
        FROM t)
    SELECT doc_id, n_tokens, top_unigram_frac, dup_2gram_frac,
           CAST(n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
                AND top_unigram_frac <= {MAX_TOP_UNIGRAM_FRAC}
                AND dup_2gram_frac <= {MAX_DUP_2GRAM_FRAC} AS INT) AS keep
    FROM m
    """,
    doc="curation: Gopher/C4-style repetition gates — most-frequent-unigram "
    "fraction and duplicated-2-gram fraction plus token-count bounds, "
    "folded into a keep flag. Pure array expressions per row: no shuffle, "
    "no explode — the whole filter runs map-side inside codegen over the "
    "document scan (the shape you want at 100 TB).",
    tags=("curation",),
)
def text_quality_filters(spark, sf_dir):
    # toks materialized once in a projection: Spark HOF lambdas get no CSE,
    # so referencing a repeated split() inside transform/filter would
    # re-tokenize per lambda call.
    t = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    top_uni = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda u: F.size(F.filter(toks, lambda x: x == u)),
        )
    ) * F.lit(1.0) / n
    grams2 = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    dup2 = F.when(
        n >= 2,
        (n - 1 - F.size(F.array_distinct(grams2))) * F.lit(1.0) / (n - 1),
    ).otherwise(F.lit(0.0))
    m = t.select(
        "doc_id",
        n.alias("n_tokens"),
        top_uni.alias("top_unigram_frac"),
        dup2.alias("dup_2gram_frac"),
    )
    keep = (
        F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
        & (F.col("top_unigram_frac") <= MAX_TOP_UNIGRAM_FRAC)
        & (F.col("dup_2gram_frac") <= MAX_DUP_2GRAM_FRAC)
    )
    return m.select(
        "doc_id", "n_tokens", "top_unigram_frac", "dup_2gram_frac",
        keep.cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# 2. Benchmark contamination (decontamination scan)
# ---------------------------------------------------------------------------

# Synthetic "held-out benchmark": every 50th document. Real pipelines load
# the eval sets here; 3-gram shingles because the synthetic vocabulary is
# ~30 words (production uses 8-13-gram windows).
CONTAM_NGRAM = 3
BENCH_MOD = 50


@register(
    "text_contamination",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, unnest(list_distinct({_ngram_sql(CONTAM_NGRAM)})) AS g
          FROM t),
    b AS (SELECT doc_id AS bdoc, g FROM s WHERE doc_id % {BENCH_MOD} = 0),
    h AS (SELECT s.doc_id, COUNT(DISTINCT s.g) AS n_hits
          FROM s JOIN b ON s.g = b.g AND s.doc_id <> b.bdoc
          GROUP BY s.doc_id)
    SELECT t.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) > 0 AS INT) AS contaminated
    FROM t LEFT JOIN h ON t.doc_id = h.doc_id
    """,
    doc="curation: benchmark decontamination — flag documents sharing any "
    "word 3-gram with the held-out set (doc_id % 50 = 0), self-matches "
    "excluded. Scale: the corpus side explodes to distinct shingles "
    "map-side; the benchmark side is a fixed eval set (MBs, not corpus-"
    "sized), so the join is broadcast-sized in production; shuffle rows "
    "are (doc_id, shingle) only, never bodies.",
    tags=("curation",),
)
def text_contamination(spark, sf_dir):
    t = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("toks"))
    s = t.select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams(F.col("toks"), CONTAM_NGRAM))).alias("g"),
    )
    b = s.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        F.col("doc_id").alias("bdoc"), F.col("g").alias("bg")
    )
    h = (
        s.join(b, (F.col("g") == F.col("bg")) & (F.col("doc_id") != F.col("bdoc")))
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hits"))
    )
    return (
        t.select("doc_id")
        .join(h, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# 3. PII masking
# ---------------------------------------------------------------------------


@register(
    "pii_mask",
    """
    SELECT c_custkey,
           md5(c_name) AS name_hash,
           regexp_replace(substr(c_name, 1, length(c_name) - 4),
                          '[0-9]', '*', 'g')
               || substr(c_name, length(c_name) - 3, 4) AS name_masked,
           CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) * 1000
               AS acctbal_band,
           c_mktsegment
    FROM customer
    """,
    doc="curation: PII masking — stable pseudonymization (md5 of the "
    "identifier, so joins still line up post-masking), digit masking "
    "that preserves the last 4 (the phone-number pattern, applied to "
    "the identifier column this schema carries), and k-anonymity-style "
    "generalization of the numeric quasi-identifier into 1000-unit "
    "bands. Patterns restricted to the RE2 ∩ java.util.regex common "
    "subset (no lookaround). Pure per-row projection: map-side at any "
    "scale.",
    tags=("curation",),
)
def pii_mask(spark, sf_dir):
    c = load_tables(spark, sf_dir).table("customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_hash"),
        F.concat(
            F.regexp_replace(
                F.expr("substring(c_name, 1, length(c_name) - 4)"), "[0-9]", "*"
            ),
            F.expr("substring(c_name, length(c_name) - 3, 4)"),
        ).alias("name_masked"),
        (
            F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0)).cast("long")
            * F.lit(1000)
        ).alias("acctbal_band"),
        "c_mktsegment",
    )


# ---------------------------------------------------------------------------
# 4. As-of join
# ---------------------------------------------------------------------------


@register(
    "ev_asof_join",
    """
    SELECT c.event_id AS click_event, c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(e.ts AS TIMESTAMP) AS last_error_ts,
           epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(e.ts AS TIMESTAMP)) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN
         (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
    doc="curation/time-series: as-of join — each click is annotated with "
    "the latest error at-or-before it for the same user (the enrichment "
    "join feature stores run). Spark has no ASOF join operator; this is "
    "the union-then-window formulation: one shuffle on user_id, a single "
    "ordered pass per user with last(ignorenulls) — no range explosion, "
    "no per-row subquery. Oracle is DuckDB's native ASOF LEFT JOIN.",
    tags=("curation", "events"),
)
def ev_asof_join(spark, sf_dir):
    from pyspark.sql.window import Window

    e = _events(spark, sf_dir)
    err = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.lit(0).alias("is_click"), F.lit(None).cast("long").alias("event_id")
    )
    clk = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("is_click"), "event_id"
    )
    u = err.unionByName(clk)
    # Errors sort before clicks at identical ts (is_click asc), so an
    # error exactly at the click's ts is visible to it — ASOF's `>=`.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_err = F.last(F.when(F.col("is_click") == 0, F.col("ts")), ignorenulls=True).over(w)
    return (
        u.withColumn("last_error_ts", last_err)
        .filter(F.col("is_click") == 1)
        .select(
            F.col("event_id").alias("click_event"),
            "user_id",
            F.col("ts").alias("click_ts"),
            "last_error_ts",
            # cast-first keeps this NTZ-tolerant: unix_micros accepts only
            # TIMESTAMP, and ts can arrive NTZ if a caller bypasses the
            # catalog's normalization (UTC session, so the cast is exact).
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("last_error_ts").cast("timestamp"))
            ).alias("gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# 5. Train / val / test split assignment
# ---------------------------------------------------------------------------


@register(
    "text_split_assign",
    """
    SELECT doc_id, lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="curation: deterministic train/val/test assignment from the first "
    "hex digit of md5(doc_id) — 12/16 train, 2/16 val, 2/16 test. "
    "Hash-stable: re-running over a grown corpus never moves an existing "
    "document across splits (no sampling state, no shuffle).",
    tags=("curation",),
)
def text_split_assign(spark, sf_dir):
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
    )
    return _docs(spark, sf_dir).select("doc_id", "lang", split.alias("split"))


# ---------------------------------------------------------------------------
# 6. BM25 relevance scoring (rational idf)
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "table", "join")
BM25_K1, BM25_B = 1.2, 0.75


def _bm25_term_sql(i: int) -> str:
    # Parenthesization mirrors the Spark expression exactly — IEEE +,-,*,/
    # are correctly rounded, so identical operation order => identical bits.
    return (
        f"(((n_docs - df_{i}) + 0.5) / (df_{i} + 0.5))"
        f" * ((tf_{i} * {BM25_K1 + 1.0}) / (tf_{i} + ({BM25_K1} * "
        f"({1.0 - BM25_B} + (({BM25_B} * dl) / avgdl)))))"
    )


@register(
    "text_bm25",
    f"""
    WITH base AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               {", ".join(
                   "len(list_filter(string_split(text, ' '), x -> x = '%s')) AS tf_%d"
                   % (t, i) for i, t in enumerate(BM25_TERMS))}
        FROM documents),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               {", ".join(
                   "SUM(CAST(tf_%d > 0 AS INT)) AS df_%d" % (i, i)
                   for i in range(len(BM25_TERMS)))}
        FROM base),
    scored AS (
        SELECT doc_id, dl, {", ".join(f"tf_{i}" for i in range(len(BM25_TERMS)))},
               {" + ".join(f"({_bm25_term_sql(i)})" for i in range(len(BM25_TERMS)))} AS score
        FROM base CROSS JOIN stats)
    SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20
    """,
    doc="curation: BM25 top-20 for the query {spark, table, join} — "
    "k1=1.2, b=0.75, rational idf (N-df+0.5)/(df+0.5) (the log form is "
    "libm-dependent and would break cross-engine bit-equality). One "
    "corpus scan for per-doc tf/dl, a single-row stats aggregate "
    "broadcast back over the scan, TakeOrderedAndProject for the top-k.",
    tags=("curation",),
)
def text_bm25(spark, sf_dir):
    # tf/dl via explode + conditional partial-first aggregate: the
    # per-term array-filter HOFs this replaced run interpreted (per-
    # element lambda dispatch x |terms|); the exploded form stays in
    # whole-stage codegen and map-side-combines to one row per doc
    # before the shuffle (split() of a non-empty string is never an
    # empty array, so no doc is lost to the explode).
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    base = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum((F.col("w") == F.lit(term)).cast("int")).alias(f"tf_{i}")
            for i, term in enumerate(BM25_TERMS)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int")).alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )

    def term_score(i: int) -> Column:
        idf = ((F.col("n_docs") - F.col(f"df_{i}")) + F.lit(0.5)) / (
            F.col(f"df_{i}") + F.lit(0.5)
        )
        num = F.col(f"tf_{i}") * F.lit(BM25_K1 + 1.0)
        den = F.col(f"tf_{i}") + (
            F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + ((F.lit(BM25_B) * F.col("dl")) / F.col("avgdl")))
        )
        return idf * (num / den)

    score = term_score(0)
    for i in range(1, len(BM25_TERMS)):
        score = score + term_score(i)
    return (
        base.crossJoin(F.broadcast(stats))
        .select(
            "doc_id", "dl",
            *[f"tf_{i}" for i in range(len(BM25_TERMS))],
            score.alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# 7. Sliding-window chunking (context windows with stride)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@register(
    "text_chunk_windows",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (
        SELECT doc_id, len(toks) AS n_tokens,
               unnest(range(0, CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
                        ELSE 1 + CAST(ceil((len(toks) - {CHUNK_TOKENS}) * 1.0
                                           / {CHUNK_STRIDE}) AS BIGINT) END))
                   AS chunk_idx,
               toks
        FROM t)
    SELECT doc_id, chunk_idx,
           chunk_idx * {CHUNK_STRIDE} + 1 AS start_tok,
           array_to_string(list_slice(toks, chunk_idx * {CHUNK_STRIDE} + 1,
               least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}, n_tokens)), ' ')
               AS chunk_text,
           least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}, n_tokens)
               - (chunk_idx * {CHUNK_STRIDE} + 1) + 1 AS chunk_len
    FROM c
    """,
    doc="curation: sliding-window chunking — each document becomes "
    "overlapping 32-token context windows with a 24-token stride (8-token "
    "overlap), the standard pretraining chunker. Chunk count is computed "
    "arithmetically and the windows are token-array slices: explode-based "
    "fan-out with bounded multiplier, no join, no shuffle — map-side at "
    "any corpus size. The final (possibly short) window is kept; chunk "
    "boundaries are deterministic functions of (doc_id, chunk_idx).",
    tags=("curation",),
)
def text_chunk_windows(spark, sf_dir):
    t = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1).cast("long")).otherwise(
        F.lit(1)
        + F.ceil((n - CHUNK_TOKENS) * F.lit(1.0) / F.lit(CHUNK_STRIDE)).cast("long")
    )
    c = t.select(
        "doc_id",
        n.alias("n_tokens"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
        toks.alias("toks"),
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE + 1
    end = F.least(
        F.col("chunk_idx") * CHUNK_STRIDE + CHUNK_TOKENS, F.col("n_tokens")
    )
    # slice(arr, start, length) is 1-based like DuckDB list_slice(arr, a, b)
    return c.select(
        "doc_id",
        "chunk_idx",
        start.alias("start_tok"),
        F.array_join(
            F.slice(F.col("toks"), start, end - start + 1), " "
        ).alias("chunk_text"),
        (end - start + 1).alias("chunk_len"),
    )


# ---------------------------------------------------------------------------
# 8. Sequence packing (next-fit into token budgets)
# ---------------------------------------------------------------------------

PACK_BUDGET = 512
PACK_BUCKETS_HEX = 1  # bucket = first hex digit of md5(doc_id) → 16 buckets


def _pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Next-fit packing of one bucket, in doc_id order. Sequential by
    nature — but buckets are independent, so the corpus-level operator is
    embarrassingly parallel across hash buckets."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bins, poss = [], []
    bin_idx, fill, pos = 0, 0, -1
    for n in pdf["n_tokens"]:
        if fill + n > PACK_BUDGET and pos >= 0:
            bin_idx, fill, pos = bin_idx + 1, 0, -1
        fill += n
        pos += 1
        bins.append(bin_idx)
        poss.append(pos)
    pdf["bin_idx"] = pd.Series(bins, dtype="int64")
    pdf["pos_in_bin"] = pd.Series(poss, dtype="int64")
    return pdf[["doc_id", "bucket", "bin_idx", "pos_in_bin", "n_tokens"]]


@register(
    "text_pack_sequences",
    f"""
    WITH RECURSIVE d AS (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, {PACK_BUCKETS_HEX}) AS bucket,
               len(string_split(text, ' ')) AS n_tokens,
               row_number() OVER (
                   PARTITION BY substr(md5(CAST(doc_id AS VARCHAR)), 1, {PACK_BUCKETS_HEX})
                   ORDER BY doc_id) AS rn
        FROM documents),
    packed AS (
        SELECT doc_id, bucket, n_tokens, rn,
               CAST(0 AS BIGINT) AS bin_idx, n_tokens AS fill,
               CAST(0 AS BIGINT) AS pos_in_bin
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.doc_id, d.bucket, d.n_tokens, d.rn,
               CASE WHEN p.fill + d.n_tokens > {PACK_BUDGET}
                    THEN p.bin_idx + 1 ELSE p.bin_idx END,
               CASE WHEN p.fill + d.n_tokens > {PACK_BUDGET}
                    THEN d.n_tokens ELSE p.fill + d.n_tokens END,
               CASE WHEN p.fill + d.n_tokens > {PACK_BUDGET}
                    THEN 0 ELSE p.pos_in_bin + 1 END
        FROM packed p JOIN d ON d.bucket = p.bucket AND d.rn = p.rn + 1)
    SELECT doc_id, bucket, bin_idx, pos_in_bin, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM packed
    """,
    doc="curation: next-fit sequence packing — documents are token-counted "
    "and packed in doc_id order into 512-token training bins, within "
    "16 independent md5 hash buckets. Packing is inherently sequential "
    "per bucket, so it runs as Arrow-batched applyInPandas per bucket "
    "(at 100 TB: thousands of buckets = full parallelism, and the only "
    "shuffled payload is (doc_id, n_tokens), never text). Oracle is a "
    "DuckDB recursive CTE replaying the same fold.",
    tags=("curation",),
)
def text_pack_sequences(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, PACK_BUCKETS_HEX).alias(
            "bucket"
        ),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return d.groupBy("bucket").applyInPandas(
        _pack_group,
        schema="doc_id bigint, bucket string, bin_idx bigint, pos_in_bin bigint, n_tokens bigint",
    )


# ---------------------------------------------------------------------------
# 9. Quality-weighted acceptance sampling
# ---------------------------------------------------------------------------

# Accept doc iff uniform-hash(doc_id) < quality_score: higher-quality
# documents survive proportionally more often, the decision is stateless /
# reproducible, and re-running on a grown corpus never flips prior keeps.
_QUALITY_SQL = """
        SELECT doc_id,
               0.4 * (len(list_distinct(string_split(text, ' '))) * 1.0
                      / len(string_split(text, ' ')))
             + 0.3 * least((length(text) - (len(string_split(text, ' ')) - 1))
                           * 1.0 / len(string_split(text, ' ')) / 8.0, 1.0)
             + 0.3 * least(len(list_filter(string_split(text, ' '),
                           t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
                           * 1.0 / len(string_split(text, ' ')) * 5.0, 1.0)
                 AS quality_score
        FROM documents
"""


@register(
    "text_quality_sample",
    f"""
    WITH q AS ({_QUALITY_SQL}),
    h AS (
        SELECT doc_id, quality_score,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   / 4294967296.0 AS hash_frac
        FROM q)
    SELECT doc_id, quality_score, hash_frac,
           CAST(hash_frac < quality_score AS INT) AS sampled
    FROM h
    """,
    doc="curation: quality-weighted acceptance sampling — keep a document "
    "iff md5-uniform(doc_id) < its quality score, so acceptance "
    "probability equals quality. Stateless and hash-stable (no RNG state, "
    "decisions never flip as the corpus grows); division by 2^32 is a "
    "power of two, so hash_frac is exact and the comparison is "
    "engine-stable. Map-side only.",
    tags=("curation",),
)
def text_quality_sample(spark, sf_dir):
    t = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) * F.lit(1.0) / n
    awl = (F.length(F.array_join(toks, " ")) - (n - F.lit(1))) * F.lit(1.0) / n
    stop = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "to", "in", "is"))
    ) * F.lit(1.0) / n
    score = (
        F.lit(0.4) * ttr
        + F.lit(0.3) * F.least(awl / F.lit(8.0), F.lit(1.0))
        + F.lit(0.3) * F.least(stop * F.lit(5.0), F.lit(1.0))
    )
    q = t.select("doc_id", score.alias("quality_score"))
    hash_frac = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") / F.lit(4294967296.0)
    h = q.select("doc_id", "quality_score", hash_frac.alias("hash_frac"))
    return h.select(
        "doc_id",
        "quality_score",
        "hash_frac",
        (F.col("hash_frac") < F.col("quality_score")).cast("int").alias("sampled"),
    )


# ---------------------------------------------------------------------------
# 8. Source-mixture rebalancing + training-export shard assignment
# ---------------------------------------------------------------------------


@register(
    "text_mixture_sample",
    """
    WITH counts AS (
        SELECT source, COUNT(*) AS n_s,
               MIN(COUNT(*)) OVER () AS min_n
        FROM documents GROUP BY source),
    rated AS (
        SELECT d.doc_id, d.source,
               CAST(c.min_n AS BIGINT) * 1.0 / c.n_s AS keep_rate,
               CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) / 4294967296.0 AS hash_frac
        FROM documents d JOIN counts c ON d.source = c.source)
    SELECT doc_id, source, keep_rate,
           CAST(hash_frac < keep_rate AS INT) AS sampled
    FROM rated
    """,
    doc="curation: source-mixture rebalancing — every source downsamples "
    "to the smallest source's row count (keep_rate_s = min_t n_t / n_s), "
    "yielding a uniform source mixture; the per-document decision is "
    "md5-uniform(doc_id) < keep_rate, so it is stateless, hash-stable "
    "(decisions never flip as the corpus grows) and exactly reproducible "
    "cross-engine (single integer-derived division; /2^32 is exact). At "
    "100 TB the per-source counts are a tiny aggregate broadcast back "
    "onto the corpus scan — the sampling itself is map-side, no shuffle "
    "of document rows. Generalizes to arbitrary target weights w_s by "
    "replacing min_n with min_t(n_t / w_t) * w_s.",
    tags=("curation",),
)
def text_mixture_sample(spark, sf_dir):
    d = _docs(spark, sf_dir)
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    min_n = counts.agg(F.min("n_s").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "source",
        (F.col("min_n").cast("long") * F.lit(1.0) / F.col("n_s")).alias(
            "keep_rate"
        ),
    )
    hash_frac = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") / F.lit(4294967296.0)
    return (
        d.join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            "keep_rate",
            (hash_frac < F.col("keep_rate")).cast("int").alias("sampled"),
        )
    )


N_SHARDS = 16


@register(
    "text_shard_assign",
    f"""
    WITH h AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR)) AS d,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % {N_SHARDS} AS shard_id
        FROM documents)
    SELECT doc_id, CAST(shard_id AS INT) AS shard_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY d)
                AS BIGINT) AS shard_pos
    FROM h
    """,
    doc="curation: training-export shard assignment + deterministic "
    "global shuffle — shard_id = md5-hash(doc_id) mod N, position within "
    "the shard = rank by the full digest. Together these give every doc "
    "a stable (shard, offset) address whose ORDER IS the shuffled "
    "training order: hash-ordering is the standard reproducible "
    "alternative to a stateful RNG permutation. One shuffle keyed by "
    "shard_id; the per-shard sort is the sort a training-data writer "
    "performs anyway. At 100 TB, N_SHARDS scales with output file "
    "targets and the digest sort stays within-shard (no global sort).",
    tags=("curation",),
)
def text_shard_assign(spark, sf_dir):
    d = _docs(spark, sf_dir)
    digest = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % N_SHARDS
    )
    h = d.select("doc_id", digest.alias("d"), shard.cast("int").alias("shard_id"))
    w = Window.partitionBy("shard_id").orderBy("d")
    return h.select(
        "doc_id",
        "shard_id",
        F.row_number().over(w).cast("long").alias("shard_pos"),
    )


# ---------------------------------------------------------------------------
# 12. Temperature-scaled multilingual sampling (round 4)
# ---------------------------------------------------------------------------


@register(
    "text_temperature_sample",
    """
    WITH counts AS (
        SELECT lang, COUNT(*) AS n_docs,
               CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(18,9)) AS s
        FROM documents GROUP BY lang),
    scaled AS (
        SELECT lang, n_docs, s,
               SUM(s) OVER () AS denom,
               SUM(n_docs) OVER () AS n_total
        FROM counts)
    SELECT lang, n_docs,
           CAST(s AS DOUBLE) / CAST(denom AS DOUBLE) AS sample_prob,
           (CAST(s AS DOUBLE) / CAST(denom AS DOUBLE))
               * CAST(n_total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS boost
    FROM scaled
    """,
    doc="curation: temperature-scaled multilingual sampling weights "
    "(XLM-R / mT5 style, alpha = 0.5): q_l = n_l^alpha / sum_m n_m^alpha "
    "upweights low-resource languages; boost = q_l / p_l is the "
    "expected-epochs multiplier the sampler applies per document. "
    "alpha = 0.5 is deliberate: sqrt is an IEEE-correctly-rounded "
    "primitive (pow is libm-dependent), and the sqrt terms are "
    "stabilized to DECIMAL(18,9) before the order-sensitive cross-"
    "language sum, so both engines divide identical operands — the "
    "output hashes exactly with no rounding slop. One tiny "
    "groupBy(lang) aggregate + a broadcast-sized window; nothing here "
    "scales with corpus size except the first count scan.",
    tags=("curation",),
)
def text_temperature_sample(spark, sf_dir):
    d = _docs(spark, sf_dir)
    counts = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sqrt(F.count(F.lit(1)).cast("double"))
        .cast("decimal(18,9)")
        .alias("s"),
    )
    w = Window.partitionBy()
    scaled = counts.select(
        "lang",
        "n_docs",
        "s",
        F.sum("s").over(w).alias("denom"),
        F.sum("n_docs").over(w).alias("n_total"),
    )
    q = F.col("s").cast("double") / F.col("denom").cast("double")
    return scaled.select(
        "lang",
        "n_docs",
        q.alias("sample_prob"),
        (q * F.col("n_total").cast("double") / F.col("n_docs").cast("double")).alias(
            "boost"
        ),
    )


# ---------------------------------------------------------------------------
# 13. Repeated-span removal (round 4)
# ---------------------------------------------------------------------------

SPAN_WORDS = 10


@register(
    "text_dup_span_removal",
    f"""
    WITH spans AS (
        SELECT doc_id, span.i AS span_id, span.t AS span_text
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, CAST(ceil(len(string_split(text, ' ')) / {SPAN_WORDS}.0)
                                AS INT)),
                       i -> struct_pack(
                           i := i,
                           t := array_to_string(
                               list_slice(string_split(text, ' '),
                                          i * {SPAN_WORDS} + 1,
                                          i * {SPAN_WORDS} + {SPAN_WORDS}), ' '))))
                       AS span
            FROM documents)),
    counted AS (
        SELECT doc_id, span_id, span_text,
               COUNT(*) OVER (PARTITION BY span_text) AS c
        FROM spans)
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN c = 1 THEN span_text END, ' '
                               ORDER BY span_id), '') AS clean_text,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_kept,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_dropped
    FROM counted GROUP BY doc_id
    """,
    doc="curation: corpus-wide repeated-span removal (the MassiveText / "
    "C4 'remove duplicated paragraphs' gate, adapted to the fixture's "
    f"newline-free docs: spans = consecutive {SPAN_WORDS}-word windows). "
    "Any span text occurring more than once ANYWHERE in the corpus "
    "(including twice in one document) is dropped from every document, "
    "and documents are reassembled from their surviving spans in order. "
    "Spark plan: spans come from slice() over the pre-split token array "
    "(array ops in codegen — no per-token explode), the global span "
    "count is one window keyed by span_text (the same single shuffle a "
    "groupBy+join-back would cost), and reassembly is a per-doc "
    "sort-free aggregate over (span_id, span_text) structs. At 100 TB "
    "the span_text shuffle is the dominant exchange; salting is not "
    "needed because identical spans are exactly what the key collapses.",
    tags=("curation",),
)
def text_dup_span_removal(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(float(SPAN_WORDS))).cast("int")
    span_texts = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * SPAN_WORDS + 1, SPAN_WORDS)
        ),
    )
    spans = d.select(
        "doc_id", F.posexplode(span_texts).alias("span_id", "span_text")
    )
    counted = spans.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("span_text"))
    )
    kept_struct = F.when(
        F.col("c") == 1, F.struct("span_id", "span_text")
    )
    return counted.groupBy("doc_id").agg(
        F.coalesce(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["span_text"],
                ),
            ),
            F.lit(""),
        ).alias("clean_text"),
        F.sum((F.col("c") == 1).cast("long")).alias("n_spans_kept"),
        F.sum((F.col("c") > 1).cast("long")).alias("n_spans_dropped"),
    )


# ---------------------------------------------------------------------------
# 14. Per-source document cap (round 4)
# ---------------------------------------------------------------------------

SOURCE_CAP = 20


@register(
    "text_source_cap",
    f"""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS keep_rank
    FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents)
    WHERE rn <= {SOURCE_CAP}
    """,
    doc="curation: per-source document cap — keep at most "
    f"{SOURCE_CAP} documents per source, selected by md5(doc_id) order "
    "(the per-domain cap every web-scale corpus applies so no single "
    "domain dominates the mixture; hash order makes the kept set stable "
    "under corpus growth for the docs already kept... up to cap "
    "boundary shifts, and needs no RNG state). One row_number window "
    "per source; at 100 TB a skewed mega-source makes this partition "
    "hot — the two-phase refinement (per-partition pre-cap to "
    "cap-per-partition, then exact cap) bounds it, and the salted-agg "
    "pattern in operators/skew.py is the implemented fallback.",
    tags=("curation",),
)
def text_source_cap(spark, sf_dir):
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= SOURCE_CAP)
        .select("doc_id", "source", F.col("rn").cast("long").alias("keep_rank"))
    )


@register(
    "text_dup_span_keep_first",
    f"""
    WITH spans AS (
        SELECT doc_id, span.i AS span_id, span.t AS span_text
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, CAST(ceil(len(string_split(text, ' ')) / {SPAN_WORDS}.0)
                                AS INT)),
                       i -> struct_pack(
                           i := i,
                           t := array_to_string(
                               list_slice(string_split(text, ' '),
                                          i * {SPAN_WORDS} + 1,
                                          i * {SPAN_WORDS} + {SPAN_WORDS}), ' '))))
                       AS span
            FROM documents)),
    ranked AS (
        SELECT doc_id, span_id, span_text,
               ROW_NUMBER() OVER (PARTITION BY span_text
                                  ORDER BY doc_id, span_id) AS occ
        FROM spans)
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN occ = 1 THEN span_text END, ' '
                               ORDER BY span_id), '') AS clean_text,
           CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_kept,
           CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_dropped
    FROM ranked GROUP BY doc_id
    """,
    doc="curation: repeated-span removal, KEEP-FIRST semantics — the "
    "faithful C4 behavior: the canonical occurrence of a duplicated "
    "span (lowest (doc_id, span_id)) survives, every later occurrence "
    "is dropped. Same plan as text_dup_span_removal with the count "
    "window replaced by a row_number over (span_text) ordered by "
    "(doc_id, span_id); the keep-none sibling drops all copies "
    "(MassiveText's stricter gate). Same single span_text-keyed "
    "shuffle.",
    tags=("curation",),
)
def text_dup_span_keep_first(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(float(SPAN_WORDS))).cast("int")
    span_texts = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * SPAN_WORDS + 1, SPAN_WORDS)
        ),
    )
    spans = d.select(
        "doc_id", F.posexplode(span_texts).alias("span_id", "span_text")
    )
    ranked = spans.withColumn(
        "occ",
        F.row_number().over(
            Window.partitionBy("span_text").orderBy("doc_id", "span_id")
        ),
    )
    kept_struct = F.when(
        F.col("occ") == 1, F.struct("span_id", "span_text")
    )
    return ranked.groupBy("doc_id").agg(
        F.coalesce(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["span_text"],
                ),
            ),
            F.lit(""),
        ).alias("clean_text"),
        F.sum((F.col("occ") == 1).cast("long")).alias("n_spans_kept"),
        F.sum((F.col("occ") > 1).cast("long")).alias("n_spans_dropped"),
    )


# ---------------------------------------------------------------------------
# 15. Temperature-scaled corpus materialization (round 4)
# ---------------------------------------------------------------------------


@register(
    "text_temperature_resample",
    """
    WITH counts AS (
        SELECT lang, COUNT(*) AS n_docs,
               CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(18,9)) AS s
        FROM documents GROUP BY lang),
    scaled AS (
        SELECT lang, n_docs, s,
               SUM(s) OVER () AS denom,
               SUM(n_docs) OVER () AS n_total
        FROM counts),
    boosted AS (
        SELECT lang,
               (CAST(s AS DOUBLE) / CAST(denom AS DOUBLE))
                   * CAST(n_total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS boost
        FROM scaled),
    decided AS (
        SELECT d.doc_id, d.lang,
               CAST(floor(b.boost) AS BIGINT)
               + CAST((CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) / 4294967296.0)
                      < (b.boost - floor(b.boost)) AS BIGINT) AS n_copies
        FROM documents d JOIN boosted b ON d.lang = b.lang)
    SELECT doc_id, lang, CAST(unnest(generate_series(1, n_copies)) AS BIGINT)
               AS copy_idx
    FROM decided
    """,
    doc="curation: temperature-scaled corpus MATERIALIZATION — applies "
    "text_temperature_sample's boost as the per-document repeat count a "
    "trainer actually consumes: every doc gets floor(boost) copies plus "
    "one more when md5-uniform(doc_id) < frac(boost) (so boost < 1 "
    "downsamples high-resource languages, boost > 1 upsamples rare "
    "ones; expected copy count = boost exactly). Stateless and "
    "hash-stable like the mixture sampler; the boost doubles are the "
    "sqrt/decimal-stabilized values proven hash-exact cross-engine. "
    "Plan: tiny per-lang aggregate broadcast onto the scan, copies via "
    "a bounded sequence() explode — no shuffle of document rows.",
    tags=("curation",),
)
def text_temperature_resample(spark, sf_dir):
    d = _docs(spark, sf_dir)
    counts = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sqrt(F.count(F.lit(1)).cast("double"))
        .cast("decimal(18,9)")
        .alias("s"),
    )
    w = Window.partitionBy()
    scaled = counts.select(
        "lang",
        "n_docs",
        "s",
        F.sum("s").over(w).alias("denom"),
        F.sum("n_docs").over(w).alias("n_total"),
    )
    q = F.col("s").cast("double") / F.col("denom").cast("double")
    boosted = scaled.select(
        "lang",
        (q * F.col("n_total").cast("double") / F.col("n_docs").cast("double")).alias(
            "boost"
        ),
    )
    hash_frac = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") / F.lit(4294967296.0)
    n_copies = (
        F.floor("boost").cast("long")
        + (hash_frac < (F.col("boost") - F.floor("boost"))).cast("long")
    )
    decided = d.join(F.broadcast(boosted), "lang").select(
        "doc_id", "lang", n_copies.alias("n_copies")
    )
    return decided.filter(F.col("n_copies") >= 1).select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))).alias(
            "copy_idx"
        ),
    )


# ---------------------------------------------------------------------------
# 16. End-to-end curation pipeline in ONE plan (round 4)
# ---------------------------------------------------------------------------


@register(
    "pipeline_curation_e2e",
    f"""
    WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks
               FROM documents),
    gated AS (
        SELECT doc_id, lang, text, len(toks) AS n_tokens
        FROM t
        WHERE len(toks) BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
          AND list_max(list_transform(list_distinct(toks),
                       u -> len(list_filter(toks, x -> x = u))))
                  * 1.0 / len(toks) <= {MAX_TOP_UNIGRAM_FRAC}),
    keepers AS (
        SELECT md5(text) AS h, MIN(doc_id) AS keeper_id
        FROM gated GROUP BY md5(text))
    SELECT g.doc_id, g.lang, g.n_tokens,
           CASE WHEN substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 1) <= 'b'
                    THEN 'train'
                WHEN substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 1) <= 'd'
                    THEN 'val'
                ELSE 'test' END AS split
    FROM gated g JOIN keepers k ON md5(g.text) = k.h AND g.doc_id = k.keeper_id
    """,
    doc="curation: the END-TO-END pipeline as ONE Catalyst plan — "
    "quality gates (token bounds + top-unigram repetition) -> exact "
    "dedup (md5 keeper per content hash, applied AFTER gating so a "
    "filtered doc never shadows a kept one) -> hash-stable "
    "train/val/test assignment — demonstrating that the tier's "
    "operators compose as DataFrame transformations into a single "
    "optimized plan: the document scan is shared, the gates run "
    "map-side inside it, and the only shuffle is the dedup digest "
    "aggregate. This is the shape a user chains the library's pieces "
    "into; at 100 TB it is one pass over the corpus plus one "
    "digest-keyed exchange.",
    tags=("curation",),
)
def pipeline_curation_e2e(spark, sf_dir):
    t = _docs(spark, sf_dir).select(
        "doc_id", "lang", "text", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    n = F.size(toks)
    top_uni = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda u: F.size(F.filter(toks, lambda x: x == u)),
        )
    ) * F.lit(1.0) / n
    gated = t.filter(
        n.between(MIN_TOKENS, MAX_TOKENS) & (top_uni <= MAX_TOP_UNIGRAM_FRAC)
    ).select("doc_id", "lang", "text", n.alias("n_tokens"))
    keepers = gated.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keeper_id")
    )
    first_hex = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(first_hex <= "b", F.lit("train"))
        .when(first_hex <= "d", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        gated.join(
            keepers,
            (F.md5(F.col("text")) == F.col("h"))
            & (F.col("doc_id") == F.col("keeper_id")),
        )
        .select("doc_id", "lang", "n_tokens", split.alias("split"))
    )


NEAREST_TOLERANCE_US = 43_200 * 1_000_000  # ±12 h (sf fixtures: per-user event spacing is hours)


@register(
    "ev_nearest_join",
    f"""
    WITH u AS (
        SELECT user_id, ts, 0 AS is_err, NULL::BIGINT AS event_id
        FROM (SELECT DISTINCT user_id, ts FROM events
              WHERE event_type = 'click')
        UNION ALL
        SELECT user_id, ts, 1 AS is_err, event_id
        FROM events WHERE event_type = 'error'),
    annotated AS (
        SELECT user_id, ts, is_err, event_id,
               last_value(CASE WHEN is_err = 0 THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, is_err, event_id
                         ROWS UNBOUNDED PRECEDING) AS prev_click,
               first_value(CASE WHEN is_err = 0 THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, is_err, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_click
        FROM u)
    SELECT event_id AS error_event, user_id, ts AS error_ts,
           CASE WHEN back_gap IS NOT NULL
                     AND (fwd_gap IS NULL OR back_gap <= fwd_gap)
                THEN prev_click ELSE next_click END AS nearest_click_ts,
           CASE WHEN back_gap IS NOT NULL
                     AND (fwd_gap IS NULL OR back_gap <= fwd_gap)
                THEN 'backward' ELSE 'forward' END AS direction,
           CASE WHEN back_gap IS NOT NULL
                     AND (fwd_gap IS NULL OR back_gap <= fwd_gap)
                THEN back_gap ELSE fwd_gap END AS gap_us
    FROM (
        SELECT *,
               CASE WHEN prev_click IS NOT NULL
                         AND epoch_us(ts) - epoch_us(prev_click)
                             <= {NEAREST_TOLERANCE_US}
                    THEN epoch_us(ts) - epoch_us(prev_click) END AS back_gap,
               CASE WHEN next_click IS NOT NULL
                         AND epoch_us(next_click) - epoch_us(ts)
                             <= {NEAREST_TOLERANCE_US}
                    THEN epoch_us(next_click) - epoch_us(ts) END AS fwd_gap
        FROM annotated)
    WHERE is_err = 1 AND (back_gap IS NOT NULL OR fwd_gap IS NOT NULL)
    """,
    doc="time-series: NEAREST join — each error matches its closest "
    "click within +/-12 h, in either direction (sensor-fusion "
    "alignment; ev_asof_join is the backward-only special case). Same "
    "union-then-window mechanism, but TWO passes over one user_id "
    "sort: running last() for the backward candidate, first() over the "
    "forward frame for the forward candidate; nearer gap wins, "
    "backward on ties (both engines spell the identical tie rule). No "
    "range-join explosion, no per-row subquery; microsecond-integer "
    "gaps keep both engines hash-exact. DuckDB oracle uses the same "
    "window formulation (its native ASOF is backward-only).",
    tags=("curation", "events"),
)
def ev_nearest_join(spark, sf_dir):
    e = _events(spark, sf_dir)
    clk = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "ts")
        .distinct()
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("is_err"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    err = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.lit(1).alias("is_err"), "event_id"
    )
    u = clk.unionByName(err)
    order = ["ts", "is_err", "event_id"]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    click_ts = F.when(F.col("is_err") == 0, F.col("ts"))
    ann = u.withColumn(
        "prev_click", F.last(click_ts, ignorenulls=True).over(w_back)
    ).withColumn("next_click", F.first(click_ts, ignorenulls=True).over(w_fwd))

    back_gap_raw = F.unix_micros("ts") - F.unix_micros("prev_click")
    fwd_gap_raw = F.unix_micros("next_click") - F.unix_micros("ts")
    ann = ann.withColumn(
        "back_gap",
        F.when(
            F.col("prev_click").isNotNull()
            & (back_gap_raw <= NEAREST_TOLERANCE_US),
            back_gap_raw,
        ),
    ).withColumn(
        "fwd_gap",
        F.when(
            F.col("next_click").isNotNull()
            & (fwd_gap_raw <= NEAREST_TOLERANCE_US),
            fwd_gap_raw,
        ),
    )
    backward_wins = F.col("back_gap").isNotNull() & (
        F.col("fwd_gap").isNull() | (F.col("back_gap") <= F.col("fwd_gap"))
    )
    return (
        ann.filter(
            (F.col("is_err") == 1)
            & (F.col("back_gap").isNotNull() | F.col("fwd_gap").isNotNull())
        )
        .select(
            F.col("event_id").alias("error_event"),
            "user_id",
            F.col("ts").alias("error_ts"),
            F.when(backward_wins, F.col("prev_click"))
            .otherwise(F.col("next_click"))
            .alias("nearest_click_ts"),
            F.when(backward_wins, F.lit("backward"))
            .otherwise(F.lit("forward"))
            .alias("direction"),
            F.when(backward_wins, F.col("back_gap"))
            .otherwise(F.col("fwd_gap"))
            .alias("gap_us"),
        )
    )


ARES_SAMPLE_K = 50


def _ares_key() -> Column:
    """A-Res priority: u^(1/w) with u = md5-uniform in (0,1), w = doc
    quality weight (n_chars). ln/exp are libm (not correctly-rounded),
    so the op registers rows-only with a bit-level Python replica."""
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ares:"), F.col("doc_id").cast("string"))), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(16**13))
    )
    w = F.col("n_chars").cast("double")
    return F.exp(F.log(u) / w)


@register(
    "text_weighted_sample_ares",
    f"""
    WITH scored AS (
        SELECT doc_id, source, n_chars,
               exp(ln(CAST(('0x' || substr(md5('ares:' ||
                                CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                       / 4503599627370496.0)
                   / CAST(n_chars AS DOUBLE)) AS priority
        FROM documents)
    SELECT doc_id, source, n_chars,
           ROUND(priority, 6) AS priority_q6
    FROM scored
    ORDER BY priority DESC, doc_id
    LIMIT {ARES_SAMPLE_K}
    """,
    doc="curation: weighted sampling without replacement (Efraimidis-"
    "Spirakis A-Res): each document draws priority u^(1/w) from a "
    "seed-free md5 uniform and its quality weight (n_chars); the "
    "global top-k priorities ARE a weighted sample without "
    "replacement. One pass, fully parallel, deterministic across "
    "retries and partitionings — the distributed form of weighted "
    "reservoir sampling, used to bias training mixtures toward "
    "higher-quality documents with an exact sample size (the "
    "acceptance-probability samplers give only expected sizes). "
    "Scale: per-partition top-k heaps via TakeOrderedAndProject; only "
    "k rows per partition reach the driver-free final ordering. "
    "Promoted from rows-only (VERDICT r5 item 5): the md5 uniform is "
    "integer/2^52 (exact on both engines); ln/exp are libm (ulp-level "
    "cross-engine drift), so the output quantizes to ROUND(priority, "
    "6) — the k-th/(k+1)-th priority GAP is order-statistics-sized "
    "(~1e-4), eight orders above libm drift, so the SELECTION is "
    "engine-stable and only the reported score needs quantizing. The "
    "unquantized priority stays pinned bit-tight by the Python "
    "replica in tests/test_r4c_ops.py.",
    tags=("curation", "sampling"),
)
def text_weighted_sample_ares(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", "source", "n_chars", _ares_key().alias("priority"))
        .orderBy(F.desc("priority"), "doc_id")
        .limit(ARES_SAMPLE_K)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round(F.col("priority"), 6).alias("priority_q6"),
        )
    )


@register(
    "text_split_leakage_audit",
    """
    WITH assigned AS (
        SELECT doc_id,
               md5(array_to_string((string_split(text, ' '))[1:8], ' '))
                   AS digest,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
                         THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
                         THEN 'val'
                    ELSE 'test' END AS split
        FROM documents),
    groups AS (
        SELECT digest,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
               MIN(doc_id) AS example_doc
        FROM assigned
        GROUP BY digest
        HAVING COUNT(*) > 1)
    SELECT digest, n_copies, n_splits, example_doc,
           CAST(n_splits > 1 AS INTEGER) AS leaks
    FROM groups
    """,
    doc="curation QA: split-leakage audit — near-duplicate groups "
    "(8-word-prefix fingerprint, the blocking key near-dups share; "
    "the fixture has no byte-identical texts, found in-round) crossed "
    "with text_split_assign's hash-stable train/val/test labels; any "
    "group spanning >1 split is evaluation-set contamination (the "
    "test set 'knows' training content). The full near-dup extension "
    "runs the same join against dedup_clusters' pair output. This is "
    "the audit that motivates dedup-BEFORE-split ordering in "
    "pipeline_curation_e2e — and the fixture's near-dups really do "
    "straddle splits (pytest pins leaks>0 and re-derives every "
    "group). One digest shuffle; output O(duplicate groups).",
    tags=("curation", "quality"),
)
def text_split_leakage_audit(spark, sf_dir):
    d = _docs(spark, sf_dir)
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = F.when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
    prefix = F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
    assigned = d.select(
        "doc_id", F.md5(prefix).alias("digest"), split.alias("split")
    )
    groups = (
        assigned.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("split").alias("n_splits"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("n_copies") > 1)
    )
    return groups.select(
        "digest",
        "n_copies",
        "n_splits",
        "example_doc",
        (F.col("n_splits") > 1).cast("integer").alias("leaks"),
    )


COGROUP_BUCKETS = 64


@register(
    "op_cogroup_asof",
    """
    SELECT c.event_id AS click_event, c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(e.ts AS TIMESTAMP) AS last_error_ts,
           epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(e.ts AS TIMESTAMP)) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN
         (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
    doc="engine surface: COGROUPED applyInPandas — the per-key two-sided "
    "Arrow escape hatch (DataFrame.groupBy().cogroup().applyInPandas), "
    "demonstrated on a kernel with a full oracle: per user, clicks and "
    "errors arrive as two pandas frames and pandas.merge_asof computes "
    "the latest-error-at-or-before enrichment (identical semantics and "
    "output columns to ev_asof_join, which pytest pins bit-equal). The "
    "union-then-window form IS the production path — one exchange, "
    "planner-visible, no Python; cogroup is the right tool only when "
    "the per-key merge logic genuinely exceeds SQL (two-sided custom "
    "state machines, per-key model scoring over feature+label streams) "
    "— this query exists so that escape hatch is exercised against an "
    "oracle, not first reached for in anger. The cogroup KEY is a hash "
    "BUCKET of the user (user_id % 64), not the raw user: per-user "
    "cogroup paid one Python/Arrow dispatch per user (~6 ms each — "
    "measured 8.9 s over ~1.5k users at sf0.1), while per-bucket "
    "cogroup amortizes dispatch over many users and merge_asof's "
    "by='user_id' does the per-user as-of natively inside the batch "
    "(measured ~0.9 s, same result bit-for-bit). Production tuning: "
    "bucket count ~ a few x cores bounds both group count and "
    "per-task frame size. Scale: both sides shuffle once on the "
    "bucket, Arrow-batched both directions. Gotcha "
    "(vanilla-sweep catch): when both cogroup sides derive from ONE "
    "scan, same-named non-key columns can be attribute-deduplicated "
    "out of the right side's Arrow batch under some downstream plans — "
    "rename the right side's columns before cogrouping so only the "
    "grouping key is shared.",
    tags=("engine", "arrow"),
)
def op_cogroup_asof(spark, sf_dir):
    e = _events(spark, sf_dir)
    bucket = (F.col("user_id") % COGROUP_BUCKETS).alias("bucket")
    clicks = e.filter(F.col("event_type") == "click").select(
        bucket, "user_id", "event_id", "ts"
    )
    errors = (
        e.filter(F.col("event_type") == "error")
        .select(
            (F.col("user_id") % COGROUP_BUCKETS).alias("bucket"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
        .distinct()
    )

    def merge(clk: pd.DataFrame, err: pd.DataFrame) -> pd.DataFrame:
        if clk.empty:
            return pd.DataFrame(
                {
                    "click_event": pd.Series(dtype="int64"),
                    "user_id": pd.Series(dtype="int64"),
                    "click_ts": pd.Series(dtype="datetime64[ns]"),
                    "last_error_ts": pd.Series(dtype="datetime64[ns]"),
                    "gap_us": pd.Series(dtype="Int64"),
                }
            )
        clk = clk.sort_values("ts", kind="mergesort")
        err = (
            err[["err_user", "err_ts"]]
            .rename(columns={"err_user": "user_id", "err_ts": "last_error_ts"})
            .sort_values("last_error_ts", kind="mergesort")
        )
        out = pd.merge_asof(
            clk,
            err,
            left_on="ts",
            right_on="last_error_ts",
            by="user_id",
            direction="backward",
        )
        gap = (out["ts"] - out["last_error_ts"]) // pd.Timedelta(microseconds=1)
        return pd.DataFrame(
            {
                "click_event": out["event_id"],
                "user_id": out["user_id"],
                "click_ts": out["ts"],
                "last_error_ts": out["last_error_ts"],
                "gap_us": gap.astype("Int64"),
            }
        )

    return (
        clicks.groupBy("bucket")
        .cogroup(errors.groupBy("bucket"))
        .applyInPandas(
            merge,
            "click_event long, user_id long, click_ts timestamp, "
            "last_error_ts timestamp, gap_us long",
        )
    )


@register(
    "text_filter_attrition",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    m AS (
        SELECT doc_id, len(toks) AS n_tokens,
               list_max(list_transform(list_distinct(toks),
                        u -> len(list_filter(toks, x -> x = u))))
                   * 1.0 / len(toks) AS top_unigram_frac,
               CASE WHEN len(toks) >= 2 THEN
                    (len(toks) - 1 - len(list_distinct({_ngram_sql_bare(2)})))
                        * 1.0 / (len(toks) - 1)
               ELSE 0.0 END AS dup_2gram_frac
        FROM t),
    flagged AS (
        SELECT CASE
                 WHEN NOT (n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}) THEN 1
                 WHEN NOT (top_unigram_frac <= {MAX_TOP_UNIGRAM_FRAC}) THEN 2
                 WHEN NOT (dup_2gram_frac <= {MAX_DUP_2GRAM_FRAC}) THEN 3
                 ELSE 0 END AS first_failed
        FROM m),
    removed AS (
        SELECT g.gate_order, g.gate_name,
               CAST(COUNT(f.first_failed) AS BIGINT) AS n_removed
        FROM (VALUES (1, 'token_bounds'), (2, 'top_unigram'),
                     (3, 'dup_2gram')) g(gate_order, gate_name)
        LEFT JOIN flagged f ON f.first_failed = g.gate_order
        GROUP BY g.gate_order, g.gate_name),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM flagged)
    SELECT r.gate_order, r.gate_name,
           t.n_total - CAST(COALESCE(SUM(r.n_removed) OVER (
               ORDER BY r.gate_order
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_in,
           r.n_removed,
           t.n_total - CAST(SUM(r.n_removed) OVER (
               ORDER BY r.gate_order ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS n_out,
           CAST(CAST(t.n_total - SUM(r.n_removed) OVER (
                    ORDER BY r.gate_order ROWS UNBOUNDED PRECEDING)
                AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS DOUBLE)
               AS survival_rate
    FROM removed r CROSS JOIN total t
    """,
    doc="curation observability: filter-cascade ATTRITION report — the "
    "same Gopher/C4 gates as text_quality_filters, but attributed "
    "SEQUENTIALLY (a document counts against the FIRST gate it fails, "
    "the way a production pipeline orders its gates), with per-gate "
    "n_in / n_removed / n_out and cumulative survival. This is the "
    "funnel table every curation run ships next to its output — "
    "without it, gate-threshold changes are flown blind. Mechanics: "
    "one map-side pass computes first_failed per doc (same codegen "
    "array expressions as the gate filter), a 4-value aggregate, and "
    "a 3-row window for the cumulative; integer counts + one final "
    "division per row: hash-exact. Scale: the report costs one scan "
    "regardless of gate count (adding a gate adds a CASE arm, not a "
    "pass).",
    tags=("curation",),
)
def text_filter_attrition(spark, sf_dir):
    t = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    top_uni = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda u: F.size(F.filter(toks, lambda x: x == u)),
        )
    ) * F.lit(1.0) / n
    grams2 = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    dup2 = F.when(
        n >= 2,
        (n - 1 - F.size(F.array_distinct(grams2))) * F.lit(1.0) / (n - 1),
    ).otherwise(F.lit(0.0))
    first_failed = (
        F.when(~n.between(MIN_TOKENS, MAX_TOKENS), 1)
        .when(~(top_uni <= MAX_TOP_UNIGRAM_FRAC), 2)
        .when(~(dup2 <= MAX_DUP_2GRAM_FRAC), 3)
        .otherwise(0)
    )
    flagged = t.select(first_failed.alias("first_failed"))
    gates = flagged.sparkSession.createDataFrame(
        [(1, "token_bounds"), (2, "top_unigram"), (3, "dup_2gram")],
        "gate_order int, gate_name string",
    )
    removed = (
        gates.join(
            flagged, gates.gate_order == flagged.first_failed, "left"
        )
        .groupBy("gate_order", "gate_name")
        .agg(F.count("first_failed").alias("n_removed"))
    )
    total = flagged.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = (
        Window.orderBy("gate_order")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_incl = (
        Window.orderBy("gate_order")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        removed.crossJoin(F.broadcast(total))
        .select(
            "gate_order",
            "gate_name",
            (
                F.col("n_total")
                - F.coalesce(F.sum("n_removed").over(w_prev), F.lit(0))
            )
            .cast("long")
            .alias("n_in"),
            "n_removed",
            (F.col("n_total") - F.sum("n_removed").over(w_incl))
            .cast("long")
            .alias("n_out"),
            (
                (F.col("n_total") - F.sum("n_removed").over(w_incl)).cast(
                    "double"
                )
                / F.col("n_total").cast("double")
            )
            .cast("double")
            .alias("survival_rate"),
        )
    )
