"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline tier: token counting, quality scoring, language ID,
fingerprinting, corpus term frequencies. Everything is built-in column
expressions (split/filter/transform/aggregate) — at 100 TB these run inside
whole-stage codegen over the document scan with no Python round-trip.

documents.text is pre-normalized (lowercase, single-space), so queries
tokenize with a plain split; the general-purpose normalizing tokenizers
live in functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

# Tiny per-language stopword inventories for the n-gram/stopword-hit
# heuristic language ID. Deliberately small: the operator demonstrates the
# argmax-over-evidence-counts shape; production swaps in real lexicons.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "fr": ("le", "la", "et", "les", "des", "une", "est"),
    "de": ("der", "die", "das", "und", "ein", "ist"),
    "es": ("el", "los", "las", "una", "es", "y"),
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir).table("documents")


def _toks() -> Column:
    return F.split(F.col("text"), " ")


def _hits(lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(_toks(), lambda t: t.isin(*words)))


def _hits_sql(lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({inlist})))"


# ---------------------------------------------------------------------------
# 1. Token counting
# ---------------------------------------------------------------------------


@register(
    "text_token_count",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           length(text) AS n_chars_actual
    FROM documents
    """,
    doc="text analysis: whitespace token + distinct-token counts "
    "(the BPE-ish regex tokenizer lives in functions/text.py)",
)
def text_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(_toks()).alias("n_tokens"),
        F.size(F.array_distinct(_toks())).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


# ---------------------------------------------------------------------------
# 2. Quality scoring
# ---------------------------------------------------------------------------


@register(
    "text_quality_score",
    """
    SELECT doc_id, n_tokens, ttr, avg_word_len, stop_ratio,
           0.4 * ttr
         + 0.3 * least(avg_word_len / 8.0, 1.0)
         + 0.3 * least(stop_ratio * 5.0, 1.0) AS quality_score
    FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) AS ttr,
               (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
                   / len(string_split(text, ' ')) AS avg_word_len,
               {en_hits} * 1.0 / len(string_split(text, ' ')) AS stop_ratio
        FROM documents) q
    """.format(en_hits=_hits_sql("en")),
    doc="text analysis: quality score from type-token ratio, average word "
    "length, stopword ratio — integer-derived divisions, so doubles are "
    "bit-identical across engines",
)
def text_quality_score(spark, sf_dir):
    n = F.size(_toks())
    ttr = F.size(F.array_distinct(_toks())) * F.lit(1.0) / n
    awl = (F.length("text") - (n - F.lit(1))) * F.lit(1.0) / n
    stop = _hits("en") * F.lit(1.0) / n
    base = _docs(spark, sf_dir).select(
        "doc_id",
        n.alias("n_tokens"),
        ttr.alias("ttr"),
        awl.alias("avg_word_len"),
        stop.alias("stop_ratio"),
    )
    score = (
        F.lit(0.4) * F.col("ttr")
        + F.lit(0.3) * F.least(F.col("avg_word_len") / F.lit(8.0), F.lit(1.0))
        + F.lit(0.3) * F.least(F.col("stop_ratio") * F.lit(5.0), F.lit(1.0))
    )
    return base.select(
        "doc_id", "n_tokens", "ttr", "avg_word_len", "stop_ratio",
        score.alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# 3. Language ID (stopword-hit argmax)
# ---------------------------------------------------------------------------


@register(
    "text_lang_id",
    f"""
    SELECT doc_id, lang AS labeled_lang, en_hits, fr_hits, de_hits, es_hits,
           CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits
                 AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
                WHEN fr_hits >= de_hits AND fr_hits >= es_hits
                 AND fr_hits > 0 THEN 'fr'
                WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
                WHEN es_hits > 0 THEN 'es'
                ELSE 'unknown' END AS predicted_lang
    FROM (
        SELECT doc_id, lang,
               {_hits_sql("en")} AS en_hits,
               {_hits_sql("fr")} AS fr_hits,
               {_hits_sql("de")} AS de_hits,
               {_hits_sql("es")} AS es_hits
        FROM documents) q
    """,
    doc="text analysis: heuristic language ID — per-language stopword hit "
    "counts with a deterministic argmax tie-break (en > fr > de > es)",
)
def text_lang_id(spark, sf_dir):
    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        _hits("en").alias("en_hits"),
        _hits("fr").alias("fr_hits"),
        _hits("de").alias("de_hits"),
        _hits("es").alias("es_hits"),
    )
    en, fr, de, es = (F.col(c) for c in ("en_hits", "fr_hits", "de_hits", "es_hits"))
    predicted = (
        F.when((en >= fr) & (en >= de) & (en >= es) & (en > 0), "en")
        .when((fr >= de) & (fr >= es) & (fr > 0), "fr")
        .when((de >= es) & (de > 0), "de")
        .when(es > 0, "es")
        .otherwise("unknown")
    )
    return base.select(
        "doc_id", "labeled_lang", "en_hits", "fr_hits", "de_hits", "es_hits",
        predicted.alias("predicted_lang"),
    )


# ---------------------------------------------------------------------------
# 4. Fingerprinting
# ---------------------------------------------------------------------------


@register(
    "text_fingerprint",
    """
    SELECT doc_id, md5(text) AS fingerprint_md5,
           md5(substr(text, 1, 64)) AS prefix_fingerprint
    FROM documents
    """,
    doc="text analysis: content + prefix fingerprints (md5; the 64-bit "
    "xxhash64 rolling fingerprint in functions/text.py is the cheap "
    "production variant)",
)
def text_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5("text").alias("fingerprint_md5"),
        F.md5(F.substring("text", 1, 64)).alias("prefix_fingerprint"),
    )


# ---------------------------------------------------------------------------
# 5. Corpus term frequencies
# ---------------------------------------------------------------------------


@register(
    "text_word_freq",
    """
    SELECT tok, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) q
    GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT 20
    """,
    doc="text analysis: global term + document frequencies, top-20 "
    "(explode → partial-agg → final-agg; the explode fan-out stays "
    "map-side before the combine)",
)
def text_word_freq(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(_toks()).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(20)
    )


@register(
    "text_tf_df",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
    SELECT tf.doc_id, tf.tok, tf.tf, df.df
    FROM tf JOIN df ON tf.tok = df.tok
    """,
    doc="text analysis: per-document term frequency + corpus document "
    "frequency (the tf-idf core; the idf log transform is applied "
    "downstream — ln() is libm-dependent and excluded from cross-engine "
    "hashing). df reuses the tf aggregate: two shuffles total.",
)
def text_tf_df(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return tf.join(df, "tok").select("doc_id", "tok", "tf", "df")


# ---------------------------------------------------------------------------
# 6. Regex (BPE-ish) tokenization
# ---------------------------------------------------------------------------

# Pre-tokenizer pattern in the GPT-2 spirit, restricted to constructs RE2
# (DuckDB) and java.util.regex (Spark) treat identically: letter runs,
# digit runs, single non-alphanumeric marks.
BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@register(
    "text_regex_tokens",
    f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_bpe_tokens,
           regexp_extract_all(text, '{BPE_ISH_PATTERN}')[1] AS first_token
    FROM documents
    """,
    doc="text analysis: BPE-ish regex pre-tokenization (letter runs / "
    "digit runs / punctuation marks) vs whitespace token counts — the "
    "token-budget estimator for training-data curation",
)
def text_regex_tokens(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
    return d.select(
        "doc_id",
        F.size(_toks()).alias("n_ws_tokens"),
        F.size(toks).alias("n_bpe_tokens"),
        F.element_at(toks, 1).alias("first_token"),
    )


# ---------------------------------------------------------------------------
# 7. BPE merge-step statistics
# ---------------------------------------------------------------------------


@register(
    "text_bpe_pair_freqs",
    """
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    c AS (SELECT regexp_extract_all(word, '.') AS chars FROM w),
    p AS (SELECT unnest(list_transform(range(1, len(chars)),
                        i -> chars[i] || chars[i+1])) AS pair
          FROM c)
    SELECT pair, COUNT(*) AS freq
    FROM p GROUP BY pair
    ORDER BY freq DESC, pair
    LIMIT 50
    """,
    doc="text analysis: BPE vocabulary-induction step — corpus-wide "
    "adjacent symbol-pair frequencies (the statistic that selects the "
    "next merge in byte-pair-encoding training), top-50 with "
    "deterministic tie-break. Two bounded explodes (word, char-pair) "
    "that stay map-side before the partial aggregate; the shuffle "
    "carries (pair, partial count) — alphabet², not corpus-sized. "
    "Iterating merge rounds re-runs this with a growing symbol table.",
)
def text_bpe_pair_freqs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    words = d.select(F.explode(_toks()).alias("word"))
    # chars materialized in a projection first: HOF lambdas get no CSE
    chars = words.select(
        F.regexp_extract_all(F.col("word"), F.lit("."), 0).alias("chars")
    )
    # guard single-char words: sequence(1, 0) counts DOWN in Spark and
    # element_at(chars, 0) then throws under ANSI
    pair_arr = F.when(
        F.size("chars") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("chars") - 1),
            lambda i: F.concat(
                F.element_at(F.col("chars"), i),
                F.element_at(F.col("chars"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = chars.select(F.explode(pair_arr).alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# 8. Repetition statistics (the Gopher/C4 repetition-rule family)
# ---------------------------------------------------------------------------


@register(
    "text_repetition_stats",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    w AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    wc AS (SELECT doc_id, tok, COUNT(*) AS c FROM w GROUP BY doc_id, tok),
    wstat AS (
        SELECT doc_id,
               SUM(c) AS n_words,
               COUNT(*) AS n_distinct_words,
               MAX(c) AS top_word_count
        FROM wc GROUP BY doc_id),
    big AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t), 1)),
                      i -> t[i] || ' ' || t[i+1])) AS gram
        FROM toks WHERE len(t) >= 2),
    gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM big GROUP BY doc_id, gram),
    gstat AS (
        SELECT doc_id,
               SUM(c) AS n_2grams,
               COUNT(*) AS n_distinct_2grams,
               MAX(c) AS top_2gram_count
        FROM gc GROUP BY doc_id)
    SELECT w.doc_id,
           CAST(w.n_words AS BIGINT) AS n_words,
           CAST(w.n_words - w.n_distinct_words AS BIGINT) * 1.0 / w.n_words
               AS dup_word_frac,
           CAST(w.top_word_count AS BIGINT) * 1.0 / w.n_words AS top_word_frac,
           CAST(g.n_2grams AS BIGINT) AS n_2grams,
           CAST(g.n_2grams - g.n_distinct_2grams AS BIGINT) * 1.0 / g.n_2grams
               AS dup_2gram_frac,
           CAST(g.top_2gram_count AS BIGINT) * 1.0 / g.n_2grams
               AS top_2gram_frac
    FROM wstat w LEFT JOIN gstat g ON w.doc_id = g.doc_id
    """,
    doc="text analysis: within-document repetition statistics — the "
    "published Gopher/C4 repetition-rule family (Rae et al. 2021 §A1.1, "
    "adapted to word/2-gram units since this corpus has no line "
    "structure): duplicate-word fraction, most-frequent-word fraction, "
    "duplicate-2-gram fraction, most-frequent-2-gram fraction. High "
    "values flag boilerplate/spam for the quality gate. Two explodes "
    "whose shuffles are keyed (doc_id, gram) then doc_id — per-document "
    "state only, no corpus-wide structures, so the operator is "
    "embarrassingly data-parallel at 100 TB. Single integer-derived "
    "divisions keep every fraction engine-exact.",
    tags=("text",),
)
def text_repetition_stats(spark, sf_dir):
    toks_df = _docs(spark, sf_dir).select("doc_id", _toks().alias("t"))
    w = toks_df.select("doc_id", F.explode("t").alias("tok"))
    wc = w.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    wstat = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("c").alias("top_word_count"),
    )
    # adjacent 2-grams via the positional zip (see shingled_docs for why
    # the token array is materialized before the lambda references it)
    grams = F.filter(
        F.zip_with(
            F.col("t"),
            F.slice(F.col("t"), 2, 2_147_483_000),
            lambda a, b: F.when(b.isNull(), None).otherwise(
                F.concat_ws(" ", a, b)
            ),
        ),
        lambda x: x.isNotNull(),
    )
    big = (
        toks_df.filter(F.size("t") >= 2)
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    gc = big.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    gstat = gc.groupBy("doc_id").agg(
        F.sum("c").alias("n_2grams"),
        F.count(F.lit(1)).alias("n_distinct_2grams"),
        F.max("c").alias("top_2gram_count"),
    )
    return wstat.join(gstat, "doc_id", "left").select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        (
            (F.col("n_words") - F.col("n_distinct_words")).cast("long")
            * F.lit(1.0)
            / F.col("n_words")
        ).alias("dup_word_frac"),
        (
            F.col("top_word_count").cast("long") * F.lit(1.0) / F.col("n_words")
        ).alias("top_word_frac"),
        F.col("n_2grams").cast("long").alias("n_2grams"),
        (
            (F.col("n_2grams") - F.col("n_distinct_2grams")).cast("long")
            * F.lit(1.0)
            / F.col("n_2grams")
        ).alias("dup_2gram_frac"),
        (
            F.col("top_2gram_count").cast("long") * F.lit(1.0) / F.col("n_2grams")
        ).alias("top_2gram_frac"),
    )


# ---------------------------------------------------------------------------
# 9. Corpus-LM scoring (the CCNet-style perplexity quality filter)
# ---------------------------------------------------------------------------


def _doc_bigrams(toks_df: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent token pair, multiplicity
    preserved (unlike the shingle path, which deduplicates)."""
    pairs = F.filter(
        F.zip_with(
            F.col("t"),
            F.slice(F.col("t"), 2, 2_147_483_000),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda s: s.getField("w2").isNotNull(),
    )
    return toks_df.select("doc_id", F.explode(pairs).alias("g")).select(
        "doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    )


@register(
    "text_lm_score",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    dg AS (
        SELECT doc_id,
               unnest(toks[:len(toks) - 1]) AS w1,
               unnest(toks[2:]) AS w2
        FROM t WHERE len(toks) >= 2),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
           FROM dg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
    probs AS (
        SELECT c2.w1, c2.w2,
               CAST(c2.c2 AS DOUBLE) * 1.0 / CAST(c1.c1 AS DOUBLE) AS p
        FROM c2 JOIN c1 ON c2.w1 = c1.w1),
    scored AS (
        SELECT dg.doc_id, probs.p
        FROM dg JOIN probs ON dg.w1 = probs.w1 AND dg.w2 = probs.w2),
    agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               SUM(-log2(p)) / COUNT(*) AS ce
        FROM scored GROUP BY doc_id)
    SELECT doc_id, n_bigrams,
           ROUND(ce, 4) AS cross_entropy_q4,
           ROUND(power(2.0, ce), 2) AS perplexity_q2
    FROM agg
    """,
    doc="text analysis: corpus-bigram language-model scoring — the "
    "perplexity-style quality filter of CCNet/CC-Net-descended pipelines "
    "(Wenzek et al. 2020): train MLE bigram probabilities on the corpus "
    "itself (P(w2|w1) = C(w1,w2) / C(w1·), prefix-count normalized so "
    "probabilities sum to 1), score every document by its per-bigram "
    "cross-entropy, and emit perplexity = 2^ce. Outlier-high perplexity "
    "flags gibberish; outlier-low flags boilerplate. Scale: the count "
    "tables are vocab-bounded (never corpus-bounded) and merge "
    "map-side; scoring is one join keyed (w1,w2) + one doc_id "
    "aggregate. Promoted from rows-only (VERDICT r5 item 5): the raw "
    "log-sum is libm- and sum-order-dependent (cross-engine diffs "
    "~1e-14 absolute), so the registered output quantizes the scores — "
    "ROUND(ce, 4) / ROUND(2^ce, 2) on BOTH engines puts the nearest "
    "rounding boundary ~5e-5 away from values that agree to ~1e-14, "
    "making the 6-decimal driver hash deterministic; n_bigrams stays "
    "exact. The unquantized model is still pinned bit-tight by "
    "tests/test_r3_ops.py::test_lm_score_matches_python_replica "
    "(pure-Python replay, 1e-9 relative).",
    tags=("text",),
)
def text_lm_score(spark, sf_dir):
    toks_df = _docs(spark, sf_dir).select("doc_id", _toks().alias("t"))
    dg = _doc_bigrams(toks_df)
    c2 = dg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    probs = c2.join(c1, "w1").select(
        "w1", "w2", (F.col("c2") * F.lit(1.0) / F.col("c1")).alias("p")
    )
    scored = dg.join(probs, ["w1", "w2"])
    ce = (F.sum(-F.log2("p")) / F.count(F.lit(1))).alias("ce")
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), ce)
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("ce"), 4).alias("cross_entropy_q4"),
            F.round(F.pow(F.lit(2.0), F.col("ce")), 2).alias("perplexity_q2"),
        )
    )


# ---------------------------------------------------------------------------
# Novelty scoring (round 4)
# ---------------------------------------------------------------------------


@register(
    "text_ngram_novelty",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(
                   CASE WHEN len(toks) >= 3 THEN
                        list_transform(range(1, len(toks) - 1),
                                       i -> toks[i] || ' ' || toks[i+1]
                                            || ' ' || toks[i+2])
                   ELSE [] END)) AS g
        FROM t),
    owner AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    scored AS (
        SELECT grams.doc_id,
               COUNT(*) AS n_grams,
               SUM(CASE WHEN owner.first_doc = grams.doc_id
                        THEN 1 ELSE 0 END) AS n_novel
        FROM grams JOIN owner ON grams.g = owner.g
        GROUP BY grams.doc_id)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty_frac
    FROM scored
    """,
    doc="text analysis: n-gram novelty scoring — for each document, the "
    "fraction of its distinct word 3-grams whose FIRST corpus occurrence "
    "(minimum doc_id) is this document. The data-valuation signal behind "
    "'does this document add anything': near-zero novelty means the doc "
    "is reshuffled existing text (complementary to MinHash near-dup, "
    "which needs pairwise overlap — novelty catches mosaic duplication "
    "against the WHOLE corpus). Ingestion-order doc_ids make min(doc_id) "
    "'first seen'. Plan: distinct shingles map-side, one gram-keyed "
    "aggregate for ownership, one gram-keyed join back, one doc aggregate "
    "— shuffle rows are (gram, doc_id) pairs only. Docs shorter than 3 "
    "tokens have no grams and drop out (same contract as the shingle "
    "family).",
    tags=("text", "curation"),
)
def text_ngram_novelty(spark, sf_dir):
    t = _docs(spark, sf_dir).select("doc_id", _toks().alias("toks"))
    toks = F.col("toks")
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
    )
    grams3 = F.when(
        F.size(toks) >= 3,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 2), gram),
    ).otherwise(F.array().cast("array<string>"))
    grams = t.select(
        "doc_id", F.explode(F.array_distinct(grams3)).alias("g")
    )
    owner = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    scored = (
        grams.join(owner, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_grams").cast("double")).alias(
            "novelty_frac"
        ),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer application (round 4)
# ---------------------------------------------------------------------------

BPE_N_MERGES = 30


def train_bpe_merges(word_counts: list, n_merges: int = BPE_N_MERGES) -> list:
    """Standard BPE training over a (word, count) table (Sennrich et al.
    2016): repeatedly merge the most frequent adjacent symbol pair; ties
    break to the lexicographically smallest pair, so the merge list is
    fully deterministic. Runs driver-side because BPE training is
    inherently sequential in the merge order — but its input is the
    VOCABULARY (distinct words + counts), not the corpus: that table is
    what the distributed aggregate reduces 100 TB down to (the same
    architecture HuggingFace/sentencepiece trainers use)."""
    vocab = {tuple(w): c for w, c in word_counts}
    merges: list = []
    for _ in range(n_merges):
        pairs: dict = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        # deterministic: max count, then lexicographically smallest pair
        best_count = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == best_count)
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for sym, c in vocab.items():
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == best[0] and sym[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def apply_bpe(word: str, merges: list) -> list:
    """Apply a merge list to one word, in training order."""
    sym = list(word)
    for a, b in merges:
        out = []
        i = 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


@register(
    "text_bpe_apply",
    None,  # driver-side sequential merge training → rows-only; pytest
    # pins the merge algebra and the Spark plumbing
    doc="text analysis: BPE tokenizer TRAINED AND APPLIED — the follow-on "
    "to text_bpe_pair_freqs (which exposes the merge-step statistic): "
    "the distributed word-count aggregate reduces the corpus to its "
    "vocabulary, the driver trains 30 merges on that table (sequential "
    "by nature — exactly how production tokenizer trainers consume a "
    "distributed word count), and application is a BROADCAST word -> "
    "token-count mapping joined against each doc's token array — no "
    "Python in the corpus-sized path. Emits per-doc word/BPE-token "
    "counts and the chars-per-token compression ratio (the metric "
    "tokenizer ablations optimize). At 100 TB only the vocabulary "
    "(millions of rows, not the corpus) reaches the driver.",
    tags=("text",),
)
def text_bpe_apply(spark, sf_dir):
    d = _docs(spark, sf_dir)
    words = d.select(F.explode(_toks()).alias("w"))
    wc = [
        (r.w, r.c)
        for r in words.groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect()
    ]
    merges = train_bpe_merges(wc)
    mapping = [(w, len(apply_bpe(w, merges)), len(w)) for w, _ in wc]
    map_df = F.broadcast(
        d.sparkSession.createDataFrame(
            mapping, "w STRING, n_toks INT, n_chars INT"
        )
    )
    per_word = d.select("doc_id", F.explode(_toks()).alias("w")).join(
        map_df, "w"
    )
    return per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_toks").cast("long").alias("n_bpe_tokens"),
        (
            F.sum("n_chars").cast("double") / F.sum("n_toks").cast("double")
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (data selection for LM pretraining)
# ---------------------------------------------------------------------------

_DSIR_B = 512  # hashed feature buckets


def _dsir_buckets(spark, sf_dir):
    """(doc_id, source, bucket) per token occurrence — the hashed
    unigram feature stream; multiplicity preserved (DSIR features are
    bag-of-hashed-ngram COUNTS). md5-mod bucketing so DuckDB reproduces
    the bucket ids exactly (the established md5-twin convention)."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", "source", F.explode(_toks()).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % _DSIR_B
    )
    # The explicit isNotNull drops nothing (tok comes from explode(split)
    # and is never NULL, so neither is the md5-derived bucket) — it exists
    # so every consumer subtree carries the SAME filter the bucket
    # equi-joins push down, keeping the per-(doc,source,bucket) count
    # exchange byte-identical across branches and therefore reusable
    # (r12; without it the weights totals branch re-tokenized the corpus).
    return toks.select("doc_id", "source", bucket.alias("bucket")).where(
        F.col("bucket").isNotNull()
    )


@register(
    "text_dsir_stats",
    f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 8))
                    AS BIGINT) % {_DSIR_B} AS bucket
        FROM documents),
    tgt AS (SELECT bucket, COUNT(*) AS c_t FROM toks
            WHERE source = 'src0' GROUP BY bucket),
    raw AS (SELECT bucket, COUNT(*) AS c_r FROM toks GROUP BY bucket)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM(COALESCE(tgt.c_t, 0)) AS BIGINT) AS target_mass,
           CAST(SUM(raw.c_r) AS BIGINT) AS raw_mass
    FROM toks t
    LEFT JOIN tgt USING (bucket)
    JOIN raw  USING (bucket)
    GROUP BY t.doc_id
    """,
    doc="DSIR sufficient statistics (Xie et al. 2023, 'Data Selection "
    "for Language Models via Importance Resampling'): per document, the "
    "total target-domain and raw-corpus mass of its hashed-unigram "
    "feature buckets — the integer-exact core of the importance weight "
    "(the log-ratio itself is the rows-only sibling "
    "text_dsir_weights; libm). Target domain = source 'src0'. Scale: "
    "one tokenize pass total (r12) — the corpus aggregates once to "
    "per-(doc,source,bucket) counts, the bucket mass table derives from "
    "that aggregate's REUSED exchange via a conditional sum (B=512 "
    "rows, broadcast), and the per-doc masses are count-weighted sums "
    "over the same counts; the only corpus-sized shuffle is the "
    "map-side-combined count exchange.",
    tags=("text",),
)
def text_dsir_stats(spark, sf_dir):
    # r12 single-tokenize formulation (guide §2.4: remove repeated work,
    # share one exchange). The previous shape consumed the per-token
    # stream `tb` from THREE distinct subtrees (filtered tgt aggregate,
    # raw aggregate, per-doc main branch) — three full tokenize+md5
    # scans of documents, no exchange reuse because the subtrees differ.
    # Now: ONE per-(doc_id, source, bucket) count aggregate `g`; the
    # bucket mass table derives from g with a CONDITIONAL sum (not a
    # where-filter, which Catalyst would push below g's exchange and
    # break exchange identity), so the plan has a single documents scan
    # and a ReusedExchange for the masses branch (plans/r12/
    # text_dsir_stats_after.txt). All quantities are integer counts:
    # sum(k), sum(k·c_t), sum(k·c_r) are exactly the old per-token
    # count/coalesce-sums regrouped — bit-identical, and the oracle SQL
    # is unchanged.
    tb = _dsir_buckets(spark, sf_dir)
    g = tb.groupBy("doc_id", "source", "bucket").agg(
        F.count(F.lit(1)).alias("k")
    )
    masses = g.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("source") == "src0", F.col("k")).otherwise(F.lit(0))
        ).alias("c_t"),
        F.sum("k").alias("c_r"),
    )
    return (
        g.join(F.broadcast(masses), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_toks"),
            F.sum(F.col("k") * F.col("c_t")).alias("target_mass"),
            F.sum(F.col("k") * F.col("c_r")).alias("raw_mass"),
        )
    )


@register(
    "text_dsir_weights",
    f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 8))
                    AS BIGINT) % {_DSIR_B} AS bucket
        FROM documents),
    tgt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_t FROM toks
            WHERE source = 'src0' GROUP BY bucket),
    raw AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_r FROM toks
            GROUP BY bucket),
    tt AS (SELECT CAST(SUM(c_t) AS BIGINT) AS t_total FROM tgt),
    rt AS (SELECT CAST(SUM(c_r) AS BIGINT) AS r_total FROM raw),
    scored AS (
        SELECT t.doc_id,
               ln(CAST(COALESCE(g.c_t, 0) + 1 AS DOUBLE))
                   - ln(CAST(tt.t_total + {_DSIR_B} AS DOUBLE))
                   - ln(CAST(r.c_r + 1 AS DOUBLE))
                   + ln(CAST(rt.r_total + {_DSIR_B} AS DOUBLE)) AS pt
        FROM toks t
        LEFT JOIN tgt g ON t.bucket = g.bucket
        JOIN raw r ON t.bucket = r.bucket
        CROSS JOIN tt CROSS JOIN rt)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
           ROUND(SUM(pt), 4) + 0.0 AS log_weight_q4
    FROM scored GROUP BY doc_id
    """,
    doc="DSIR importance weights: log w(x) = sum over the document's "
    "hashed-unigram features of ln p_target(b) - ln p_raw(b), add-1 "
    "smoothed over B=512 buckets — documents resembling the target "
    "domain (source 'src0') score high; resampling the raw corpus by "
    "softmax of these weights is the DSIR selection step (the "
    "materialization twin is text_temperature_resample's hash-frac "
    "acceptance pattern). Scale: identical to text_dsir_stats — "
    "broadcast B-row count tables + one per-doc aggregate. Promoted "
    "from rows-only (VERDICT r5 item 5, the text_lm_score pattern): "
    "buckets are md5-exact on both engines and every ln() argument is "
    "an integer, so the only cross-engine drift is libm ulps + "
    "sum-order (~1e-13 absolute) — ROUND(log_weight, 4) on both sides "
    "makes the 6-decimal driver hash deterministic; n_toks stays "
    "exact. The unquantized model is still pinned at 1e-9 by "
    "tests/test_r4_ops.py (pure-Python replay).",
    tags=("text",),
)
def text_dsir_weights(spark, sf_dir):
    # r12 (guide §2.4): the bucket mass tables come from ONE
    # per-(doc,source,bucket) count aggregate with a CONDITIONAL c_t sum
    # (same rewrite as text_dsir_stats — a where-filtered tgt subtree
    # would tokenize src0 documents a third time), and both totals fold
    # into a single 1-row aggregate/crossJoin. The per-token MAIN branch
    # is deliberately NOT regrouped to (bucket, k) multiplicities: the
    # log-weight sum is a float fold, and k·x differs from x summed k
    # times in ulps — the 4-decimal quantization absorbs sum-ORDER noise
    # but a changed value set is a different query. c_t/c_r/t_total/
    # r_total are integers, so per_tok's inputs — and therefore the
    # per-token doubles being summed — are bit-identical to the old
    # formulation. 3 tokenize scans -> 2.
    tb = _dsir_buckets(spark, sf_dir)
    g = tb.groupBy("doc_id", "source", "bucket").agg(
        F.count(F.lit(1)).alias("k")
    )
    masses = g.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("source") == "src0", F.col("k")).otherwise(F.lit(0))
        ).alias("c_t"),
        F.sum("k").alias("c_r"),
    )
    # when(c_t>0): zero-c_t buckets add nothing to the sum, but an
    # all-zero corpus (no src0 tokens anywhere) must yield NULL — the
    # old tgt-side aggregate (and the DuckDB oracle's) sums an EMPTY
    # table in that case.
    totals = masses.agg(
        F.sum(F.when(F.col("c_t") > 0, F.col("c_t"))).alias("t_total"),
        F.sum("c_r").alias("r_total"),
    )
    per_tok = (
        F.log((F.col("c_t") + 1).cast("double"))
        - F.log((F.col("t_total") + F.lit(_DSIR_B)).cast("double"))
        - F.log((F.col("c_r") + 1).cast("double"))
        + F.log((F.col("r_total") + F.lit(_DSIR_B)).cast("double"))
    )
    return (
        tb.join(F.broadcast(masses), "bucket")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(per_tok).alias("log_weight"),
        )
        .select(
            "doc_id",
            "n_toks",
            # + 0.0 canonicalizes -0.0 (DuckDB ROUND keeps the sign of a
            # tiny negative, Spark's BigDecimal round does not — %.6f then
            # renders "-0.000000" vs "0.000000" and the driver hash reds;
            # found at the sf1 replica, r6)
            (F.round(F.col("log_weight"), 4) + F.lit(0.0)).alias(
                "log_weight_q4"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary growth curve (round 4, continuation)
# ---------------------------------------------------------------------------


@register(
    "text_vocab_growth",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
    counts AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM toks GROUP BY doc_id),
    firsts AS (
        SELECT w, MIN(doc_id) AS first_doc FROM toks GROUP BY w),
    new_per_doc AS (
        SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS new_words
        FROM firsts GROUP BY first_doc)
    SELECT c.doc_id,
           CAST(SUM(c.n_tokens) OVER (ORDER BY c.doc_id) AS BIGINT)
               AS cum_tokens,
           CAST(SUM(COALESCE(n.new_words, 0)) OVER (ORDER BY c.doc_id)
                AS BIGINT) AS cum_vocab
    FROM counts c LEFT JOIN new_per_doc n ON c.doc_id = n.doc_id
    """,
    doc="text analysis: vocabulary growth curve (Heaps'-law measurement) "
    "— cumulative corpus tokens vs cumulative DISTINCT vocabulary in "
    "doc_id ingestion order. The naive form (distinct-union state per "
    "prefix) is quadratic; this is the first-touch rewrite (the "
    "ev_cumulative_distinct_users mechanism applied to words): each "
    "word contributes at its MIN(doc_id), so two keyed aggregates + "
    "one cumulative sum produce the whole curve. The growth exponent "
    "this curve exposes (V ~ k*N^beta) is the corpus-health signal "
    "dedup pipelines watch: a flattening curve means incoming data "
    "stopped contributing new vocabulary. Scale: the token explode "
    "partial-aggregates map-side on (word); the cumulative window "
    "runs over the per-DOC table only — at 100 TB checkpoint the "
    "curve per shard/day and sum shard partials instead of "
    "single-partitioning a billion-doc window. All-integer outputs: "
    "hash-exact.",
    tags=("text", "curation"),
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: the two running sums ran the per-doc aggregate (|docs| rows —
    # corpus-scale, THE fact of a text pipeline) through one unpartitioned
    # window task; decomposed over the range-bucket prefix (integer token/
    # vocab counts recombine exactly; doc_id is unique, so the original
    # rangeBetween frame == the rows frame).
    from data_pipeline_4_online_retail_spark.functions.prefix import global_prefix

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    counts = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    new_per_doc = (
        toks.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    per_doc = counts.join(new_per_doc, "doc_id", "left")
    return global_prefix(
        per_doc,
        ["doc_id"],
        {
            "cum_tokens": ("sum", F.col("n_tokens"), True),
            "cum_vocab": ("sum", F.coalesce("new_words", F.lit(0)), True),
        },
        F.col("doc_id"),
    ).select("doc_id", "cum_tokens", "cum_vocab")


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage (round 4, continuation)
# ---------------------------------------------------------------------------

VOCAB_TOP_N = 1000


@register(
    "text_oov_rate",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
    vocab AS (
        SELECT w FROM (
            SELECT w, ROW_NUMBER() OVER (
                ORDER BY COUNT(*) DESC, w) AS rnk
            FROM toks GROUP BY w)
        WHERE rnk <= {VOCAB_TOP_N}),
    flagged AS (
        SELECT t.doc_id,
               CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
        FROM toks t LEFT JOIN vocab v ON t.w = v.w)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST(SUM(oov) AS DOUBLE) / COUNT(*) AS oov_rate
    FROM flagged GROUP BY doc_id
    """,
    doc="text analysis: tokenizer vocabulary coverage — per-document "
    "out-of-vocabulary rate against the corpus's own top-1000 word "
    "vocabulary (deterministic frequency-then-lexicographic rank). "
    "The report a tokenizer-training pipeline reads before freezing a "
    "vocab: a rising OOV tail means the vocab under-covers incoming "
    "sources (pairs with text_vocab_growth's curve — growth says NEW "
    "words exist, OOV says how much text they carry). Plan: one "
    "explode feeds both the vocab ranking (word-keyed partial "
    "aggregate + top-N) and the coverage join (broadcast: the vocab "
    "is N rows by construction); one doc-keyed aggregate emits the "
    "report. Scale: the vocab side is bounded (top-N), the flagged "
    "join is map-side broadcast — only the per-doc aggregate "
    "shuffles, on doc_id. Integer counts + one identically-spelled "
    "division: hash-exact.",
    tags=("text", "curation"),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    wr = Window.orderBy(F.desc("cnt"), "w")
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= VOCAB_TOP_N)
        .select("w")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "w", "left"
    ).select(
        "doc_id",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        (F.sum("oov").cast("double") / F.count(F.lit(1))).alias("oov_rate"),
    )
