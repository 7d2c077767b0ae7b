"""Similarity-search properties: exactness of the Pandas-UDF path and
recall of the approximate (LSH) path vs the brute-force baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.functions.vector import cosine_similarity
from data_pipeline_4_online_retail_spark.operators import similarity as S

SF_DIR = "/root/testdata/sf0.001"


def test_pandas_udf_topk_equals_builtin(spark):
    builtin = [tuple(r) for r in S.sim_topk_bruteforce(spark, SF_DIR).collect()]
    arrow = [tuple(r) for r in S.sim_topk_pandas_udf(spark, SF_DIR).collect()]
    assert builtin == arrow


def test_lsh_recall_and_scan_fraction(spark, catalog):
    """Query-directed multi-probe LSH (18 tables x 12 bits, 5 flip bits)
    must beat the r1 exact-probe scheme on BOTH axes: measured at this
    fixture, recall 7/10 (was 4/10) while scoring 17.8% of the corpus
    (was 20.4%). Everything is deterministic (LCG hyperplanes, fixed
    data), so the floors are tight."""
    exact = [r["vec_id"] for r in S.sim_topk_bruteforce(spark, SF_DIR).collect()]
    lsh = {r["vec_id"] for r in S.sim_ann_lsh(spark, SF_DIR).collect()}
    assert lsh, "LSH returned no candidates"
    # recall floor raised with directed multi-probe (was >= 3 pre-r2)
    assert len(set(exact) & lsh) >= 6, (exact, lsh)
    emb = catalog.table("embeddings")
    n_scored = S.lsh_candidates(emb).count()
    n_corpus = emb.count() - 1
    # scan-fraction bound TIGHTENED vs the old ~20% exact-probe scheme
    assert n_scored / n_corpus <= 0.20, (n_scored, n_corpus)


def test_ivf_subset_of_cell(spark, catalog):
    out = S.sim_ann_ivf(spark, SF_DIR).collect()
    qlabel = (
        catalog.table("embeddings")
        .filter(F.col("vec_id") == S.QUERY_VEC_ID)
        .head()["label"]
    )
    assert out and all(r["label"] == qlabel for r in out)


def test_kmeans_matches_exact_replica(spark):
    """Replays Lloyd k-means in pure Python with the SAME float semantics
    as the Spark operator: left-to-right double folds for distances,
    engine-mirrored nano-unit means for the update (r8 — see
    functions/vector.nano_units), first-min-wins argmin — assignments
    must match exactly, not approximately."""
    from data_pipeline_4_online_retail_spark.functions.vector import (
        nano_units_py,
    )

    sf = "/root/testdata/sf0.001"
    from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

    rows = (
        load_tables(spark, sf)
        .table("embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}

    def sq_dist(v, c):
        acc = 0.0
        for x, y in zip(v, c):
            acc = acc + (x - y) * (x - y)
        return acc

    def assign(v, centroids):
        d = [sq_dist(v, c) for c in centroids]
        m = min(d)
        return d.index(m)

    centroids = [vecs[i] for i in sorted(vecs)[: S.KMEANS_K]]
    for _ in range(S.KMEANS_ITERS):
        groups: dict[int, list] = {}
        for vid in vecs:
            groups.setdefault(assign(vecs[vid], centroids), []).append(vid)
        new_c = [list(c) for c in centroids]
        for cid, members in groups.items():
            dim = len(centroids[0])
            comp = []
            for d in range(dim):
                s = sum(nano_units_py(vecs[m][d]) for m in members)
                comp.append(float(s) / 1e9 / len(members))
            new_c[cid] = comp
        centroids = new_c

    expected = {vid: assign(v, centroids) for vid, v in vecs.items()}
    got = {r.vec_id: r.cluster_id for r in S.sim_kmeans(spark, sf).collect()}
    assert got == expected
    assert len(set(got.values())) > 1


def test_emb_vec_forms_match_exploded(spark):
    """The array-native builders (emb_*_vec) and the driver-facing
    exploded forms must carry identical values; the exploded row count is
    exactly n_vectors x dim."""
    vec = {
        (r.vec_id, i): (r.norm, u)
        for r in S.emb_l2_normalize_vec(spark, SF_DIR).collect()
        for i, u in enumerate(r.unit)
    }
    flat = {
        (r.vec_id, r.dim_idx): (r.norm, r.unit_val)
        for r in S.emb_l2_normalize(spark, SF_DIR).collect()
    }
    assert vec == flat and vec

    qvec = {
        (r.vec_id, i): (r.scale, q)
        for r in S.emb_quantize_int8_vec(spark, SF_DIR).collect()
        for i, q in enumerate(r.q)
    }
    qflat = {
        (r.vec_id, r.dim_idx): (r.scale, r.q_val)
        for r in S.emb_quantize_int8(spark, SF_DIR).collect()
    }
    assert qvec == qflat and qvec
    # unit vectors actually have norm 1 (within float tolerance)
    for r in S.emb_l2_normalize_vec(spark, SF_DIR).limit(50).collect():
        assert abs(sum(u * u for u in r.unit) - 1.0) < 1e-9
    # quantized components are clamped int8-symmetric
    assert all(-127 <= v[1] <= 127 for v in qvec.values())


def _py_fold(x, w, op):
    """The scalar left fold the SQL oracle twins spell: from 0.0, dim by
    dim, ``acc + x*w`` (dot) or ``acc + (x-w)*(x-w)`` (l2)."""
    acc = 0.0
    for a, b in zip(x, w):
        acc = acc + (float(a) * b if op == "dot" else (float(a) - b) * (float(a) - b))
    return acc


def test_kmeans_assign_udf_matches_expr(spark):
    """The Arrow assignment must be BIT-IDENTICAL to the scalar fold the
    SQL twin spells (same fold order, lowest cluster id wins a tie) —
    this is what licenses the fast path inside sim_kmeans. The
    centroids are sim_kmeans' seeds plus a copy of seed 0 at the end,
    so every vector nearest to seed 0 is a tie between ids 0 and k."""
    sf = "/root/testdata/sf0.001"
    from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

    e = load_tables(spark, sf).table("embeddings").select("vec_id", "embedding")
    rows = sorted(e.collect(), key=lambda r: r.vec_id)
    centroids = [[float(x) for x in r.embedding] for r in rows[: S.KMEANS_K]]
    centroids.append(centroids[0])
    via_udf = {
        r.vec_id: r.c
        for r in e.select("vec_id", S._pq_codes([centroids])[0].alias("c")).collect()
    }
    want = {}
    for r in rows:
        d = [_py_fold(r.embedding, c, "l2") for c in centroids]
        want[r.vec_id] = d.index(min(d))
    assert via_udf == want
    assert sum(1 for c in want.values() if c == 0) >= 1  # the tie is exercised


def test_matrix_fold_is_the_scalar_left_fold(catalog):
    """Every accumulator of functions/vector.matrix_fold equals the scalar
    left fold bit for bit, for both ops, on real embeddings against the
    LSH hyperplanes: a reordered or re-associated fold changes the last
    bits of many of these doubles, where an argmin or a sign bit rarely
    moves."""
    import numpy as np

    from data_pipeline_4_online_retail_spark.functions.vector import matrix_fold

    rows = catalog.table("embeddings").orderBy("vec_id").limit(40).collect()
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    planes = S._hyperplanes(x.shape[1], S.N_TABLES * S.K_BITS)
    for op in ("dot", "l2"):
        got = matrix_fold(x, np.asarray(planes), op)
        for i, r in enumerate(rows):
            assert got[i].tolist() == [_py_fold(r.embedding, p, op) for p in planes]


def test_pq_codebooks_and_codes_are_pinned(spark, catalog):
    """train_pq_codebooks' codebooks (every double, by its hex form) and
    sim_pq_encode's codes at sf0.001, pinned by SHA-256 to the values the
    interpreted higher-order-function assignment produced before the
    numpy kernel replaced it."""
    import hashlib

    e = catalog.table("embeddings")
    cb = S.train_pq_codebooks(e, len(e.head()["embedding"]))
    books = "\n".join(",".join(x.hex() for x in c) for book in cb for c in book)
    codes = "\n".join(
        f"{r.vec_id},{r.m},{r.code}"
        for r in sorted(S.sim_pq_encode(spark, SF_DIR).collect())
    )
    assert hashlib.sha256(books.encode()).hexdigest() == (
        "0a353230128dd7fe09e2e45303134ccecf6cae93dee7979cb9d9a12b3c0458e0"
    )
    assert hashlib.sha256(codes.encode()).hexdigest() == (
        "bc5be95395cdedadd17215c11969d224d36aa5485c5465dd100a2f25644d8db7"
    )


def test_lsh_oracle_planes_bit_exact():
    """The DuckDB recursive-CTE LCG inside _lsh_oracle must reproduce
    _hyperplanes() BIT-exactly — the whole promotion (VERDICT r5 item 5)
    rests on both engines hashing the same sign bits. Checks every one of
    the 216x64 plane weights, not a sample."""
    import duckdb

    n_planes = S.N_TABLES * S.K_BITS
    dim = 64
    planes = S._hyperplanes(dim, n_planes)
    rows = duckdb.sql(
        f"""
        WITH RECURSIVE lcg AS (
            SELECT 0 AS i, CAST(42 AS HUGEINT) AS state
            UNION ALL
            SELECT i + 1,
                   (state * 6364136223846793005 + 1442695040888963407)
                       % 18446744073709551616
            FROM lcg WHERE i < {n_planes * dim}
        )
        SELECT CAST((i - 1) // {dim} AS INT) AS p,
               CAST((i - 1) % {dim} AS INT) AS d,
               (CAST(state // 2048 AS DOUBLE) / 9007199254740992.0) * 2.0
                   - 1.0 AS w
        FROM lcg WHERE i >= 1
        """
    ).fetchall()
    assert len(rows) == n_planes * dim
    for p, d, w in rows:
        assert planes[p][d] == w  # exact float equality, no tolerance


def test_lsh_buckets_match_python_fold(spark, catalog):
    """Every (vec_id, tbl) bucket Spark computes equals the pure-Python
    left fold over the same _hyperplanes, with bit j set when the dot is
    > 0: the arithmetic _query_probe_buckets uses for the query row, so
    corpus and probe buckets agree bit for bit."""
    emb = catalog.table("embeddings")
    dim = len(emb.head()["embedding"])
    planes = S._hyperplanes(dim, S.N_TABLES * S.K_BITS)
    rows = S._lsh_entries(emb, planes, S.N_TABLES, S.K_BITS).select(
        "vec_id", "embedding", "tbl", "bucket"
    ).collect()
    assert len(rows) == emb.count() * S.N_TABLES
    for r in rows:
        want = 0
        for j in range(S.K_BITS):
            acc = 0.0
            for x, y in zip(r.embedding, planes[r.tbl * S.K_BITS + j]):
                acc += float(x) * float(y)
            if acc > 0:
                want |= 1 << j
        assert r.bucket == want, (r.vec_id, r.tbl)


def test_lsh_plan_size_is_bounded(spark):
    """The hyperplanes ride a broadcast column, so the logical plan stays
    small; writing the 216x64 weights as literals made it ~209K chars."""
    plan = S.sim_ann_lsh(spark, SF_DIR)._jdf.queryExecution().logical()
    assert len(plan.toString()) < 20_000


def test_lsh_query_returns_topk_rows(spark):
    got = S.sim_ann_lsh(spark, SF_DIR).collect()
    assert len(got) == S.TOP_K
    assert len({r.vec_id for r in got}) == S.TOP_K
