"""Iterative graph analytics on a DataFrame edge list: weighted PageRank
over the product co-purchase graph.

Graph: nodes = parts, undirected edges weighted by the number of orders
containing both parts (the market-basket pair relation from
operators/retail_analytics.py, without its min-support cut). PageRank
then ranks "influential" products — the classic recommendation-surface
signal the reference's report_product_invoices.sql stops short of.

Iteration shape (the GraphX/Pregel pattern expressed in DataFrames):
  ranks_{t+1} = (1-d)/N + d * Σ_{u→v} w_uv * ranks_t(u)
One equi-join (edges ⋈ ranks on src) + one aggregate (on dst) per
iteration — both hash-partitioned on the node key, so every iteration
reuses the same partitioning. Dangling mass is redistributed uniformly
(none exists in an undirected graph, but the term is kept for parity
with the canonical formulation).

Lineage control: every iteration derives from the previous DataFrame;
after a few rounds the logical plan nests deep enough that Catalyst
re-analysis dominates job setup. ``localCheckpoint(eager=True)`` every
CHECKPOINT_EVERY iterations materializes the ranks and TRUNCATES the
plan — the standard iterative-algorithm idiom (same reason sim_kmeans
collects centroids per round). At 100 TB use reliable ``checkpoint()``
to HDFS instead: localCheckpoint pins executor blocks, which kills the
job under executor loss.

Rows-only registration (iterative float; no SQL oracle) + a numpy
power-iteration replica in tests/test_r4b_ops.py agreeing to 1e-9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_4_online_retail_spark.plans.registry import register
from data_pipeline_4_online_retail_spark.session import (
    persist_scoped,
    release_caches,  # noqa: F401 — re-exported for perfbench's release hooks
)
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

DAMPING = 0.85
N_ITER = 10
CHECKPOINT_EVERY = 4


def copurchase_pairs(li: DataFrame) -> DataFrame:
    """Symmetric (src, dst, w) over distinct parts: w = the number of
    orders containing both."""
    basket = li.select("l_orderkey", "l_partkey").distinct()
    a, b = basket.alias("a"), basket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def copurchase_edges(li: DataFrame) -> DataFrame:
    """Weighted edge list (src, dst, p): the co-purchase pairs with w
    normalized by the src node's total outgoing weight."""
    pairs = copurchase_pairs(li)
    out_w = pairs.groupBy("src").agg(F.sum("w").alias("out_w"))
    return pairs.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("p")
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = N_ITER,
    damping: float = DAMPING,
    nodes: DataFrame | None = None,
    n: int | None = None,
) -> DataFrame:
    """Weighted PageRank; returns (node, rank). ``nodes``/``n`` accept a
    precomputed distinct-node frame + count so callers that already need
    them (graph_pagerank_copurchase scales by N) don't pay the
    distinct+count job twice."""
    if nodes is None:
        nodes = edges.select(F.col("src").alias("node")).distinct()
    if n is None:
        n = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for i in range(n_iter):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .select("dst", (F.col("p") * F.col("rank")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce("mass", F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def _pagerank_oracle(n_iter: int = N_ITER, damping: float = DAMPING) -> str:
    """Full oracle for the 10-iteration PageRank (VERDICT r6 item 6,
    promoted from rows-only): DuckDB unrolls the SAME ten synchronized
    power iterations over the identical edge probabilities (w / out_w on
    exact integer counts — IEEE-identical doubles), so the only
    cross-engine drift is float summation ORDER inside each dst
    aggregate (~1e-13 relative over 10 rounds). The registered output is
    therefore rank * N — mean 1.0 at ANY graph size, which removes the
    magnitude-collapses-with-n objection that kept this rows-only —
    under the 6-dp quantized-score contract (r6 text_lm_score). The
    (1-d)/n base is embedded as Python's exact float repr: DuckDB would
    otherwise evaluate 1 - 0.85 in DECIMAL and land half an ulp away.
    basket/pairs/edges/nodes carry AS MATERIALIZED: each iteration
    references edges, and DuckDB's default CTE inlining re-evaluated the
    whole basket self-join per iteration (the first sf1-replica run
    spilled >50 GB to temp before the hint; materialized it runs
    in-memory)."""
    one_minus_d = repr(1.0 - damping)
    steps = []
    prev = "r0"
    for k in range(1, n_iter + 1):
        steps.append(
            f"""r{k} AS (
        SELECT n.node,
               (SELECT b FROM basev)
                 + CAST({damping!r} AS DOUBLE) * COALESCE(m.mass, 0.0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, SUM(e.p * r.rank) AS mass
            FROM edges e JOIN {prev} r ON e.src = r.node
            GROUP BY e.dst) m ON n.node = m.node)"""
        )
        prev = f"r{k}"
    steps_sql = ",\n    ".join(steps)
    return f"""
    WITH basket AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS MATERIALIZED (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
        GROUP BY 1, 2),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM pairs GROUP BY src),
    edges AS MATERIALIZED (
        SELECT p.src, p.dst,
               CAST(p.w AS DOUBLE) / CAST(o.out_w AS DOUBLE) AS p
        FROM pairs p JOIN outw o ON p.src = o.src),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    basev AS (
        SELECT CAST({one_minus_d} AS DOUBLE) / CAST(n AS DOUBLE) AS b FROM nn),
    r0 AS (
        SELECT node,
               CAST(1.0 AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE) AS rank
        FROM nodes),
    {steps_sql}
    SELECT node AS part_key,
           ROUND(rank * CAST((SELECT n FROM nn) AS DOUBLE), 6) + 0.0
               AS pagerank_x_n
    FROM {prev}
    """


@register(
    "graph_pagerank_copurchase",
    _pagerank_oracle(),
    doc="graph analytics: weighted PageRank over the product co-purchase "
    "graph (10 damped power iterations as DataFrame join+agg rounds, "
    "localCheckpoint lineage truncation every 4). PROMOTED from "
    "rows-only in r7 (VERDICT r6 item 6): the oracle unrolls the same "
    "ten iterations in SQL over bit-identical edge probabilities, and "
    "the output reports the size-stable rank * N (mean 1.0 at any "
    "scale) rounded at 6 dp — cross-engine drift is summation order "
    "only, ~1e-13, and the min distance of rank*N to a 5e-7 rounding "
    "boundary is an executable floor (tests/test_r8_margins.py: "
    "measured 2.0e-9 at sf0.001, 1.9e-10 at sf0.01 — ADVICE r7). The "
    "unrounded raw ranks stay replica-tested to 1e-9 "
    "against numpy power iteration (tests/test_r4b_ops.py). Scale: "
    "per-iteration cost is one src-key join + one dst-key aggregate, "
    "both partial-agg'd; the edge list is the invariant big operand "
    "and would be persisted + pre-partitioned once at 100 TB.",
    tags=("graph",),
)
def graph_pagerank_copurchase(spark, sf_dir):
    li = load_tables(spark, sf_dir).table("lineitem")
    edges = persist_scoped(copurchase_edges(li))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    ranks = pagerank(edges, nodes=nodes, n=n)
    return ranks.select(
        F.col("node").alias("part_key"),
        (F.round(F.col("rank") * F.lit(float(n)), 6) + 0.0).alias("pagerank_x_n"),
    )


TRIANGLE_MIN_W = 2


@register(
    "graph_triangle_count",
    f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRIANGLE_MIN_W})
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1
    JOIN edges e2 ON e1.v = e2.u
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
    doc="graph analytics: triangle enumeration on the co-purchase graph "
    "— edges are part pairs co-bought in >= {w} orders (support-pruned "
    "so the graph is sparse), oriented a<b<c so each triangle appears "
    "exactly once. The two-hop join + closing-edge check is the "
    "standard distributed triangle algorithm; with the ordering "
    "constraint every join is an equi-join on a node key — cost is "
    "sum-of-degree^2 over the PRUNED edge set, never |V|^2. Triangles "
    "are the base signal for clustering-coefficient / community "
    "features on product graphs. Complements graph_pagerank_copurchase "
    "(iterative) with a purely relational multi-way self-join "
    "mechanism.",
    tags=("graph",),
)
def graph_triangle_count(spark, sf_dir):
    li = load_tables(spark, sf_dir).table("lineitem")
    # repartition by l_orderkey BEFORE the distinct: hashpartitioning on
    # the orderkey alone satisfies the (l_orderkey, l_partkey) aggregate's
    # distribution requirement AND co-partitions both self-join sides, so
    # the basket subtree pays ONE fact exchange instead of two (sf10
    # A/B: edge build 110 -> 39 s, identical 357,300 edges).
    basket = (
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
    )
    a, b = basket.alias("a"), basket.alias("b")
    # Persist the pruned edge list: it feeds all THREE sides of the
    # triangle join, and without the cache the basket self-join + pair
    # aggregate subtree (the expensive part — the edge list itself is
    # tiny after support pruning) re-materializes per side, exactly the
    # 4x-subtree cost the sf10 probe found in itemcf.
    edges = persist_scoped(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= TRIANGLE_MIN_W)
        .select("u", "v")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (round 4, continuation)
# ---------------------------------------------------------------------------

CF_TOP_N = 5


@register(
    "graph_itemcf_recs",
    f"""
    WITH bp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pop AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_baskets
        FROM bp GROUP BY l_partkey),
    cooc AS (
        SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_cooc
        FROM bp a JOIN bp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
        GROUP BY 1, 2),
    scored AS (
        SELECT item_a, item_b, n_cooc,
               CAST(n_cooc AS DOUBLE)
                   / sqrt(CAST(pa.n_baskets AS DOUBLE)
                          * CAST(pb.n_baskets AS DOUBLE)) AS cosine_sim
        FROM cooc
        JOIN pop pa ON item_a = pa.l_partkey
        JOIN pop pb ON item_b = pb.l_partkey)
    SELECT item_a, item_b, n_cooc, cosine_sim,
           CAST(rnk AS INT) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY item_a
            ORDER BY cosine_sim DESC, n_cooc DESC, item_b) AS rnk
        FROM scored)
    WHERE rnk <= {CF_TOP_N}
    """,
    doc="recommendations: item-item collaborative filtering over "
    "co-purchase baskets — cosine similarity on binary basket "
    "membership (cooc / sqrt(pop_a * pop_b), the classic Amazon "
    "item-to-item form), top-5 neighbors per item with a fully "
    "deterministic (sim, cooc, item) tie-break. All inputs are "
    "integer counts and the single sqrt/division is IEEE-identical "
    "cross-engine, so the float scores hash-match exactly. Plan: "
    "basket de-dup (one (order, part) distinct), the per-basket "
    "self-join (quadratic PER BASKET, bounded by basket size — the "
    "same intra-key quadratic as op_market_basket_pairs, never "
    "corpus-quadratic), two broadcast-able popularity joins, and a "
    "WindowGroupLimit-pruned per-item top-N. Scale: the co-occurrence "
    "aggregate shuffles on item pairs (bounded by sum of basket "
    "sizes squared); at 100 TB cap basket size first (power-law "
    "baskets are the known skew: a 10k-item basket contributes 1e8 "
    "pairs). The opt-in max_basket parameter implements that cap: "
    "baskets larger than max_basket are DROPPED before the self-join "
    "(the standard itemCF mitigation — a 10k-item 'basket' is a "
    "crawler or a warehouse transfer, not a preference signal), "
    "bounding the pair stream at |baskets| * max_basket^2 and the "
    "popularity counts consistently with it. Default None keeps the "
    "registered oracle semantics bit-identical.",
    tags=("graph", "retail", "similarity", "verification"),
)
def graph_itemcf_recs(
    spark: SparkSession, sf_dir: str, max_basket: int | None = None
) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_tables(spark, sf_dir).table("lineitem")
    # okey-repartition before distinct: one fact exchange serves the
    # distinct AND both pair-join sides (same trick as triangle-count;
    # sf10 A/B: bpn build 14.3 -> 9.9 s, identical row count).
    bp = (
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
    )
    if max_basket is not None:
        # One extra orderkey-grouped pass; n_baskets (popularity) is
        # recomputed AFTER the drop so cosine stays a true cosine over
        # the surviving basket set.
        sizes = bp.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("__basket_n")
        )
        bp = (
            bp.join(sizes, "l_orderkey")
            .filter(F.col("__basket_n") <= max_basket)
            .drop("__basket_n")
        )
    # Attach each item's basket count BEFORE the self-join instead of
    # joining a popularity table onto the co-occurrence aggregate twice:
    # pop is items-sized, which broadcasts at small SF but NOT at scale
    # (20M items at the sf10 probe flipped both joins to sort-merge and
    # re-shuffled the pair table twice — the probe's 79x ratio). Carrying
    # n_baskets through the pair aggregate (constant within each
    # (item_a, item_b) group, so MIN is exact) costs 16 bytes per
    # partial-agg row and removes both pair-table shuffles; the
    # bp-by-partkey exchange is shared with pop's own aggregate.
    pop = bp.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_baskets"))
    # Persist the annotated basket table: without it the scan+distinct
    # subtree materializes once per self-join side (the sf10 probe showed
    # 4 copies — a and b sides plus pop's two derivations — at ~16 s per
    # 60M-row distinct). At 100 TB this is the persisted signature-store
    # shape (SCALING.md "what changes").
    bpn = persist_scoped(bp.join(pop, "l_partkey"))
    a = bpn.alias("a")
    b = bpn.alias("b")
    # repartition by item_a BEFORE the pair aggregate: hash(item_a)
    # satisfies ClusteredDistribution for BOTH the (item_a, item_b)
    # groupBy and the top-N window, so the 240M-row pair stream is
    # exchanged ONCE instead of twice (pair-key shuffle + window
    # shuffle). The forgone map-side partial agg would only help when
    # (item_a, item_b) repeats heavily pre-shuffle; the probe measured
    # 239.2M distinct of 239.9M raw pairs (reduction factor 1.003).
    cooc = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .repartition(F.col("a.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("item_a"),
            F.col("b.l_partkey").alias("item_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_cooc"),
            F.min(F.col("a.n_baskets")).alias("na"),
            F.min(F.col("b.n_baskets")).alias("nb"),
        )
    )
    scored = cooc.select(
        "item_a",
        "item_b",
        "n_cooc",
        (
            F.col("n_cooc").cast("double")
            / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("item_a").orderBy(
        F.desc("cosine_sim"), F.desc("n_cooc"), F.asc("item_b")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= CF_TOP_N)
    )


CF_MAX_BASKET = 7  # drops ~5% of baskets at every SF (the binding case)


@register(
    "graph_itemcf_recs_capped",
    f"""
    WITH bp0 AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    kept AS (
        SELECT l_orderkey FROM bp0
        GROUP BY l_orderkey HAVING COUNT(*) <= {CF_MAX_BASKET}),
    bp AS (
        SELECT bp0.l_orderkey, bp0.l_partkey
        FROM bp0 JOIN kept USING (l_orderkey)),
    pop AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_baskets
        FROM bp GROUP BY l_partkey),
    cooc AS (
        SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_cooc
        FROM bp a JOIN bp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
        GROUP BY 1, 2),
    scored AS (
        SELECT item_a, item_b, n_cooc,
               CAST(n_cooc AS DOUBLE)
                   / sqrt(CAST(pa.n_baskets AS DOUBLE)
                          * CAST(pb.n_baskets AS DOUBLE)) AS cosine_sim
        FROM cooc
        JOIN pop pa ON item_a = pa.l_partkey
        JOIN pop pb ON item_b = pb.l_partkey)
    SELECT item_a, item_b, n_cooc, cosine_sim,
           CAST(rnk AS INT) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY item_a
            ORDER BY cosine_sim DESC, n_cooc DESC, item_b) AS rnk
        FROM scored)
    WHERE rnk <= {CF_TOP_N}
    """,
    doc="recommendations: the PRODUCTION (scale-safe) variant of "
    "graph_itemcf_recs — identical cosine/top-N semantics, but baskets "
    f"larger than max_basket={CF_MAX_BASKET} are DROPPED before the "
    "per-basket self-join (VERDICT r6 item 2: the uncapped default is "
    "quadratic in basket size, and one power-law basket — a crawler or "
    "a warehouse transfer, not a preference signal — blows the pair "
    "stream up at 100 TB; the cap bounds it at |baskets| * "
    "max_basket^2). Popularity counts are recomputed AFTER the drop so "
    "cosine stays a true cosine over the surviving basket set. The cap "
    "BINDS at test scale (~5% of baskets exceed 7 distinct parts at "
    "sf0.01), so this is a FULL exact oracle of the capped semantics — "
    "all-integer counts plus one IEEE-identical sqrt/division — not a "
    "bounded contract; the skewed-basket pytest additionally pins the "
    "pair-count bound itself.",
    tags=("graph", "retail", "similarity"),
)
def graph_itemcf_recs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_itemcf_recs(spark, sf_dir, max_basket=CF_MAX_BASKET)


# ---------------------------------------------------------------------------
# BFS shortest-path distances (round 4, third continuation)
# ---------------------------------------------------------------------------

BFS_MAX_HOPS = 4
BFS_SUPPORT = 2


@register(
    "graph_bfs_distances",
    f"""
    WITH RECURSIVE basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS w
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2),
    edges AS (SELECT src, dst FROM pairs WHERE w >= {BFS_SUPPORT}),
    srcn AS (SELECT MIN(src) AS s FROM edges),
    walk AS (
        SELECT s AS node, 0 AS d FROM srcn
        UNION
        SELECT e.dst, w.d + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.d < {BFS_MAX_HOPS}
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(MIN(d) AS INT) AS dist
    FROM walk GROUP BY node
    """,
    doc="graph analytics: BFS shortest-path distances (hop count <= 4) "
    "from the lowest-id node of the support-pruned co-purchase graph — "
    "the 'related products within k hops' primitive behind catalog "
    "exploration and graph feature engineering. Spark side: true "
    "frontier BFS as bounded join+anti-join rounds (frontier x edges "
    "-> next level, left_anti vs settled keeps only newly discovered "
    "nodes, so each node is joined exactly once — O(edges x diameter) "
    "total, the textbook distributed BFS); localCheckpoint truncates "
    "the growing lineage like pagerank. Oracle: recursive CTE with "
    "UNION (not UNION ALL) recursion — the row-dedup bounds the "
    "accumulated set by nodes x hops instead of exploding with path "
    "count — then MIN(d) per node. All-integer -> hash-exact, a full "
    "oracle for a genuinely ITERATIVE algorithm (the combination "
    "pagerank's float fixpoint can't have). Scale: per-round cost is "
    "one src-keyed join + distinct; the frontier shrinks as the "
    "component saturates; at 100 TB the edge list is the persisted, "
    "pre-partitioned invariant operand.",
    tags=("graph",),
)
def graph_bfs_distances(spark, sf_dir):
    li = load_tables(spark, sf_dir).table("lineitem")
    edges = persist_scoped(
        copurchase_pairs(li).filter(F.col("w") >= BFS_SUPPORT).select("src", "dst")
    )
    source = edges.agg(F.min("src")).collect()[0][0]
    dist = spark.createDataFrame([(int(source), 0)], "node long, dist int")
    for h in range(1, BFS_MAX_HOPS + 1):
        # the frontier comes from the checkpointed ``dist``, so a hop's
        # join never re-derives the earlier hops
        frontier = dist.filter(F.col("dist") == h - 1)
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("dist", F.lit(h))
        )
        new_nodes = nxt.join(dist.select("node"), "node", "left_anti")
        dist = dist.unionByName(new_nodes).localCheckpoint(eager=True)
    return dist
