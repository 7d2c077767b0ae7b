"""Invariant tests for the curation tier (operators/curation.py).

The DuckDB oracle twins prove cross-engine value equality; these tests pin
the *semantics* — packing feasibility, contamination ground truth vs a
brute-force recomputation, masking shape, as-of ordering — on sf0.001.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from data_pipeline_4_online_retail_spark.operators import curation as C

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_pdf(spark):
    from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

    return (
        load_tables(spark, SF_DIR).table("documents").select("doc_id", "text").toPandas()
    )


def test_quality_filters_keep_flag_consistent(spark):
    rows = C.text_quality_filters(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        expected = int(
            C.MIN_TOKENS <= r.n_tokens <= C.MAX_TOKENS
            and r.top_unigram_frac <= C.MAX_TOP_UNIGRAM_FRAC
            and r.dup_2gram_frac <= C.MAX_DUP_2GRAM_FRAC
        )
        assert r.keep == expected
        assert 0.0 < r.top_unigram_frac <= 1.0
        assert 0.0 <= r.dup_2gram_frac < 1.0
    kept = sum(r.keep for r in rows)
    assert 0 < kept < len(rows), "thresholds must split the corpus non-trivially"


def test_quality_filters_metrics_match_python(spark, docs_pdf):
    got = {r.doc_id: r for r in C.text_quality_filters(spark, SF_DIR).collect()}
    for _, row in docs_pdf.head(25).iterrows():
        toks = row.text.split(" ")
        r = got[row.doc_id]
        assert r.n_tokens == len(toks)
        top = max(toks.count(u) for u in set(toks))
        assert r.top_unigram_frac == pytest.approx(top / len(toks), abs=0)
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        dup = (len(grams) - len(set(grams))) / len(grams)
        assert r.dup_2gram_frac == pytest.approx(dup, abs=0)


def test_contamination_matches_bruteforce(spark, docs_pdf):
    def shingles(text: str) -> set[str]:
        toks = text.split(" ")
        n = C.CONTAM_NGRAM
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sh = {row.doc_id: shingles(row.text) for _, row in docs_pdf.iterrows()}
    bench = {d: s for d, s in sh.items() if d % C.BENCH_MOD == 0}
    expected = {}
    for d, s in sh.items():
        hit = set()
        for bd, bs in bench.items():
            if bd != d:
                hit |= s & bs
        expected[d] = len(hit)

    got = {r.doc_id: r for r in C.text_contamination(spark, SF_DIR).collect()}
    assert set(got) == set(sh)
    for d, r in got.items():
        assert r.n_hits == expected[d], d
        assert r.contaminated == int(expected[d] > 0)


def test_pii_mask_shape(spark):
    rows = C.pii_mask(spark, SF_DIR).collect()
    assert rows
    from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

    names = {
        r.c_custkey: r.c_name
        for r in load_tables(spark, SF_DIR).table("customer").collect()
    }
    for r in rows[:50]:
        name = names[r.c_custkey]
        assert r.name_hash == hashlib.md5(name.encode()).hexdigest()
        assert r.name_masked.endswith(name[-4:])
        head = r.name_masked[:-4]
        assert not any(ch.isdigit() for ch in head)
        assert len(r.name_masked) == len(name)
        assert r.acctbal_band % 1000 == 0


def test_asof_join_matches_bruteforce(spark):
    from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

    ev = load_tables(spark, SF_DIR).table("events").toPandas()
    errors = ev[ev.event_type == "error"]
    clicks = ev[ev.event_type == "click"]
    got = {r.click_event: r for r in C.ev_asof_join(spark, SF_DIR).collect()}
    assert set(got) == set(clicks.event_id)
    for _, c in clicks.iterrows():
        prior = errors[(errors.user_id == c.user_id) & (errors.ts <= c.ts)]
        r = got[c.event_id]
        if prior.empty:
            assert r.last_error_ts is None and r.gap_us is None
        else:
            expect = prior.ts.max()
            assert pd.Timestamp(r.last_error_ts) == expect
            assert r.gap_us == (c.ts - expect).value // 1000  # ns → µs
            assert r.gap_us >= 0


def test_split_assign_deterministic_and_balanced(spark):
    rows = C.text_split_assign(spark, SF_DIR).collect()
    counts = pd.Series([r.split for r in rows]).value_counts(normalize=True)
    # 12/2/2 of 16 hex digits; wide tolerance at 100 docs.
    assert 0.55 < counts["train"] < 0.95
    assert set(counts.index) <= {"train", "val", "test"}
    for r in rows[:20]:
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()[0]
        expect = "train" if h <= "b" else ("val" if h <= "d" else "test")
        assert r.split == expect


def test_bm25_matches_numpy(spark, docs_pdf):
    texts = {row.doc_id: row.text.split(" ") for _, row in docs_pdf.iterrows()}
    n_docs = len(texts)
    avgdl = sum(len(t) for t in texts.values()) / n_docs
    df = {
        term: sum(1 for t in texts.values() if term in t) for term in C.BM25_TERMS
    }

    def score(toks: list[str]) -> float:
        s = 0.0
        for term in C.BM25_TERMS:
            tf = toks.count(term)
            idf = ((n_docs - df[term]) + 0.5) / (df[term] + 0.5)
            num = tf * (C.BM25_K1 + 1.0)
            den = tf + (C.BM25_K1 * ((1.0 - C.BM25_B) + ((C.BM25_B * len(toks)) / avgdl)))
            s += idf * (num / den)
        return s

    expected = sorted(
        ((score(t), -d) for d, t in texts.items()), reverse=True
    )[:20]
    got = C.text_bm25(spark, SF_DIR).collect()
    assert len(got) == len(expected)
    for r, (es, ed) in zip(got, expected):
        assert r.doc_id == -ed
        assert r.score == pytest.approx(es, rel=1e-12)


def test_chunk_windows_cover_and_reconstruct(spark, docs_pdf):
    rows = C.text_chunk_windows(spark, SF_DIR).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for _, row in docs_pdf.iterrows():
        toks = row.text.split(" ")
        chunks = sorted(by_doc[row.doc_id], key=lambda r: r.chunk_idx)
        assert chunks[0].chunk_idx == 0
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        # full token coverage: last chunk reaches the end, no gaps between
        # consecutive windows (stride < window size)
        assert chunks[-1].start_tok + chunks[-1].chunk_len - 1 == len(toks)
        for c in chunks:
            start = (c.chunk_idx * C.CHUNK_STRIDE) + 1
            assert c.start_tok == start
            expect = " ".join(toks[start - 1 : start - 1 + C.CHUNK_TOKENS])
            assert c.chunk_text == expect
            assert c.chunk_len == len(expect.split(" "))
        if len(chunks) > 1:
            assert all(
                c.chunk_len == C.CHUNK_TOKENS for c in chunks[:-1]
            ), "every non-final window is full-width"


def test_pack_sequences_feasible_and_complete(spark, docs_pdf):
    rows = C.text_pack_sequences(spark, SF_DIR).collect()
    assert sorted(r.doc_id for r in rows) == sorted(docs_pdf.doc_id)
    by_bucket: dict[str, list] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    for bucket, rs in by_bucket.items():
        rs.sort(key=lambda r: r.doc_id)
        # doc_id order within bucket == (bin_idx, pos_in_bin) lexicographic
        keys = [(r.bin_idx, r.pos_in_bin) for r in rs]
        assert keys == sorted(keys)
        # positions restart at 0 and are contiguous within each bin
        fills: dict[int, int] = {}
        pos_seen: dict[int, int] = {}
        for r in rs:
            fills[r.bin_idx] = fills.get(r.bin_idx, 0) + r.n_tokens
            assert r.pos_in_bin == pos_seen.get(r.bin_idx, -1) + 1
            pos_seen[r.bin_idx] = r.pos_in_bin
        for bin_idx, fill in fills.items():
            n_in_bin = pos_seen[bin_idx] + 1
            assert fill <= C.PACK_BUDGET or n_in_bin == 1
        # next-fit: a bin only opens because the previous one could not
        # take the opener
        for r in rs:
            if r.pos_in_bin == 0 and r.bin_idx > 0:
                assert fills[r.bin_idx - 1] + r.n_tokens > C.PACK_BUDGET


def test_quality_sample_flag_consistent(spark):
    rows = C.text_quality_sample(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.hash_frac < 1.0
        assert r.sampled == int(r.hash_frac < r.quality_score)
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
        assert r.hash_frac == h / 4294967296.0  # exact: /2^32 is a pow-2
    kept = sum(r.sampled for r in rows)
    assert 0 < kept < len(rows)


def test_pack_group_properties():
    """Property-based check of the next-fit fold itself (no Spark): every
    doc packed exactly once in order, bins never exceed the budget unless
    a single oversized doc owns the bin, and a new bin opens only when the
    previous bin could not take its first doc."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None, derandomize=True)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10**6),  # doc_id
                st.integers(min_value=1, max_value=C.PACK_BUDGET * 2),
            ),
            min_size=1,
            max_size=60,
            unique_by=lambda t: t[0],
        )
    )
    def check(items):
        pdf = pd.DataFrame(
            {
                "doc_id": [d for d, _ in items],
                "bucket": ["x"] * len(items),
                "n_tokens": [n for _, n in items],
            }
        )
        out = C._pack_group(pdf.sample(frac=1, random_state=0))  # order-proof
        assert sorted(out.doc_id) == sorted(pdf.doc_id)
        out = out.sort_values("doc_id").reset_index(drop=True)
        keys = list(zip(out.bin_idx, out.pos_in_bin))
        assert keys == sorted(keys)  # doc order == (bin, pos) order
        fills = out.groupby("bin_idx").n_tokens.sum()
        sizes = out.groupby("bin_idx").size()
        for b in fills.index:
            assert fills[b] <= C.PACK_BUDGET or sizes[b] == 1
        openers = out[out.pos_in_bin == 0]
        for _, r in openers.iterrows():
            if r.bin_idx > 0:
                assert fills[r.bin_idx - 1] + r.n_tokens > C.PACK_BUDGET

    check()


def test_curation_quality_gate_green(spark):
    from data_pipeline_4_online_retail_spark.quality import check_curation

    rep = check_curation(spark, SF_DIR)
    assert rep.results, "gate must run checks"
    assert not rep.failures, [f"{r.table}.{r.check}: {r.detail}" for r in rep.failures]
    rep.raise_on_failure()  # no-op when green
