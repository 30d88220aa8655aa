"""Graph query surface (SURVEY.md §2.10 [EXT]): iterative PageRank
over the part co-purchase graph — parts are linked when they appear in
the same order. The dup-candidate graphs (dedup_clusters,
dedup_triangle_count) exercise contraction/counting; this exercises a
fixed-point iteration, the third graph-algorithm family a curation
pipeline needs (importance weighting for sampling).

The oracle unrolls the same integer-exact iterations as chained CTEs,
so the driver pins every rank bit-for-bit (see operators/graph.py for
why integer ranks make that possible at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import graph as G
from .registry import register

PR_ITERATIONS = 3
_SCALE = G.RANK_SCALE


def _pagerank_oracle(iterations: int) -> str:
    parts = [
        f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
nodes AS (SELECT DISTINCT s AS node FROM e),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT node, {_SCALE} // n AS r FROM nodes CROSS JOIN c)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
s{i} AS (
  SELECT e.d AS node, CAST(SUM(r{i - 1}.r // deg.outdeg) AS BIGINT) AS sc
  FROM e JOIN deg ON e.s = deg.s JOIN r{i - 1} ON r{i - 1}.node = e.s
  GROUP BY 1
),
r{i} AS (
  SELECT nodes.node,
         (15 * {_SCALE}) // (100 * c.n)
         + (85 * COALESCE(s{i}.sc, 0)) // 100 AS r
  FROM nodes CROSS JOIN c LEFT JOIN s{i} ON s{i}.node = nodes.node
)"""
        )
    parts.append(
        f"""
SELECT node AS part_key, r AS rank_scaled,
       CAST(r AS DOUBLE) / {float(_SCALE)} AS pagerank
FROM r{iterations}"""
    )
    return "".join(parts)


@register(
    "graph_pagerank_parts",
    oracle=_pagerank_oracle(PR_ITERATIONS),
    description=(
        "3-iteration integer-exact PageRank over the part co-purchase "
        "graph (parts sharing an order). One shuffle per iteration plus "
        "a broadcast node count; int64 ranks on the 1e-12 grid make the "
        "fixed point bit-reproducible and oracle-pinnable."
    ),
)
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    ranks = G.pagerank_integer(edges, iterations=PR_ITERATIONS)
    return ranks.select(
        F.col("node").alias("part_key"),
        "rank_scaled",
        (F.col("rank_scaled").cast("double") / float(_SCALE)).alias("pagerank"),
    )


PR_DEEP_ITERATIONS = 10
PR_CHECKPOINT_EVERY = 3


@register(
    "graph_pagerank_deep",
    oracle=_pagerank_oracle(PR_DEEP_ITERATIONS),
    description=(
        "10-iteration integer-exact PageRank with checkpoint_every=3 "
        "engaged — the convergence-regime evidence the 3-iteration "
        "fixture query can't give (r5 verdict #4): lineage is truncated "
        "every 3 rounds so plan depth stays bounded however deep the "
        "run, while the oracle unrolls all 10 integer-exact iterations "
        "as chained CTEs and pins every rank bit-for-bit. Per-iteration "
        "wall time stays flat (SCALING.md's deep-pagerank row) — the "
        "docstring promise at operators/graph.py made measurable."
    ),
)
def graph_pagerank_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    ranks = G.pagerank_integer(
        edges,
        iterations=PR_DEEP_ITERATIONS,
        checkpoint_every=PR_CHECKPOINT_EVERY,
    )
    return ranks.select(
        F.col("node").alias("part_key"),
        "rank_scaled",
        (F.col("rank_scaled").cast("double") / float(_SCALE)).alias("pagerank"),
    )


PPR_ITERATIONS = 3
PPR_N_SEEDS = 3


def _ppr_oracle(iterations: int, n_seeds: int) -> str:
    """Unrolled-CTE twin of operators/graph.ppr_integer on the part
    co-purchase graph, seeds = the n_seeds smallest node ids."""
    parts = [
        f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
nodes AS (SELECT DISTINCT s AS node FROM e),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
seeds AS (SELECT node FROM nodes ORDER BY node LIMIT {n_seeds}),
k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM seeds),
r0 AS (
  SELECT nodes.node,
         CASE WHEN seeds.node IS NOT NULL THEN {_SCALE} // k.k ELSE 0 END AS r
  FROM nodes CROSS JOIN k LEFT JOIN seeds ON seeds.node = nodes.node)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
s{i} AS (
  SELECT e.d AS node, CAST(SUM(r{i - 1}.r // deg.outdeg) AS BIGINT) AS sc
  FROM e JOIN deg ON e.s = deg.s JOIN r{i - 1} ON r{i - 1}.node = e.s
  GROUP BY 1
),
r{i} AS (
  SELECT nodes.node,
         CASE WHEN seeds.node IS NOT NULL
              THEN (15 * {_SCALE}) // (100 * k.k) ELSE 0 END
         + (85 * COALESCE(s{i}.sc, 0)) // 100 AS r
  FROM nodes CROSS JOIN k
  LEFT JOIN s{i} ON s{i}.node = nodes.node
  LEFT JOIN seeds ON seeds.node = nodes.node
)"""
        )
    parts.append(
        f"""
SELECT node AS part_key, r AS rank_scaled,
       CAST(r AS DOUBLE) / {float(_SCALE)} AS ppr
FROM r{iterations}"""
    )
    return "".join(parts)


@register(
    "graph_ppr_seeds",
    oracle=_ppr_oracle(PPR_ITERATIONS, PPR_N_SEEDS),
    description=(
        "[EXT] 3-iteration integer-exact PERSONALIZED PageRank on the "
        "part co-purchase graph: teleport mass returns to a 3-node "
        "seed set (the smallest node ids — deterministic at every SF) "
        "instead of all nodes, so rank measures importance RELATIVE TO "
        "the seeds — the recommendation/seed-expansion primitive. "
        "Nodes unreachable from the seeds hold exactly 0 (integer "
        "grid, no epsilon). Same per-iteration shape as "
        "graph_pagerank_parts (one groupBy(dst) shuffle) plus one "
        "broadcast seed-flag join; the oracle unrolls all iterations "
        "as chained CTEs and pins every rank bit-for-bit."
    ),
)
def graph_ppr_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(PPR_N_SEEDS)
    )
    ranks = G.ppr_integer(edges, seeds, iterations=PPR_ITERATIONS)
    return ranks.select(
        F.col("node").alias("part_key"),
        "rank_scaled",
        (F.col("rank_scaled").cast("double") / float(_SCALE)).alias("ppr"),
    )


@register(
    "graph_clustering_coeff",
    oracle="""
WITH und AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
e AS (SELECT s AS u, d AS v FROM und WHERE s < d),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
t AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM corners GROUP BY 1),
deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY 1)
SELECT deg.node AS part_key, deg.degree,
       COALESCE(t.n_tri, 0) AS n_triangles,
       CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE)
         / (deg.degree * (deg.degree - 1)) AS clustering_coeff
FROM deg LEFT JOIN t ON t.node = deg.node
WHERE deg.degree >= 2
""",
    description=(
        "[EXT] per-node local clustering coefficient on the part "
        "co-purchase graph (Watts-Strogatz 1998, public methodology) "
        "— the community-density signal that separates parts bought "
        "in coherent bundles from promiscuous hubs. Triangles come "
        "from the canonical oriented (u<v) two-hop join — each "
        "triangle enumerated exactly once, then credited to all "
        "three corners — so per-task work is bounded by out-degree, "
        "never a node's full neighborhood; degrees come from the "
        "undirected edge list; the coefficient 2T/(d(d-1)) is one "
        "exact int64 division. Same 2-shuffle scaling as the global "
        "triangle count, with a node-sized output."
    ),
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a, b = li.alias("a"), li.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("s"), F.col("b.l_partkey").alias("d")
        )
        .distinct()
        # lazy pin: the oriented edge list (x3 triangle-join aliases) and
        # the degree count all derive from this frame, and per-branch
        # pruning defeats ReuseExchange — measured 20 fact-table scans
        # unpinned. Pinning the distinct edge list (the canonical graph
        # materialization every triangle algorithm starts from) drops
        # that to one co-purchase self-join.
        .localCheckpoint(eager=False)
    )
    e = und.filter(F.col("s") < F.col("d")).select(
        F.col("s").alias("u"), F.col("d").alias("v")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u"))
            & (F.col("e2.v") == F.col("e3.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    t = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    deg = und.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0))
    return (
        deg.join(t, "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            F.col("node").alias("part_key"),
            "degree",
            n_tri.alias("n_triangles"),
            (
                (2 * n_tri).cast("double")
                / (F.col("degree") * (F.col("degree") - 1))
            ).alias("clustering_coeff"),
        )
    )


def _kcore_floor_audit(spark: SparkSession, sf_dir: str):
    """Plan-audit hook: the co-purchase edge build plus ONE lazy peel
    round (degree aggregate + two semi joins — the exact per-round
    shape operators/graph.kcore runs under its eager batched-probe
    loop, with a placeholder k)."""
    li = load_table(spark, sf_dir, "lineitem")
    e = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    keep = deg.filter(F.col("deg") >= 2).select("src")
    peeled = e.join(keep, "src", "left_semi").join(
        keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
    )
    return {"edges": e, "peel_round": peeled}


@register(
    "graph_kcore_floor",
    oracle="""
SELECT 'degrees_ge_k' AS check_name, TRUE AS guarantee_ok
UNION ALL
SELECT 'strictly_peeled' AS check_name, TRUE AS guarantee_ok
UNION ALL
SELECT 'core_nonempty' AS check_name, TRUE AS guarantee_ok
""",
    description=(
        "[EXT] driver-visible guarantee floor for iterative k-core "
        "peeling (operators/graph.kcore, Seidman 1983 — the density "
        "filter that keeps only well-embedded items): k is derived "
        "from the data as min_degree+1 of the part co-purchase graph "
        "(node-sized frame, one MIN — any larger quantile cascades "
        "this near-uniform-degree fixture to an EMPTY core, measured: "
        "k at the lower quartile left 0 nodes, k=min+1 leaves n-1..n-2 "
        "while still forcing real peeling rounds). The floor pins the "
        "defining invariants: every surviving node's in-core degree "
        ">= k; at least one node was actually peeled (the min-degree "
        "node must go); and the core is non-empty. Scale shape: each "
        "round is one degree aggregation + two semi joins; rounds are "
        "bounded by peeling depth, lineage truncated every 3 rounds "
        "with the deep-PageRank pinning rule."
    ),
    audit_frames=_kcore_floor_audit,
)
def graph_kcore_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    edges = edges.localCheckpoint(eager=True)  # consumed by deg probe + peel
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    n_nodes = deg.count()
    k = int(deg.agg(F.min("d").alias("m")).collect()[0]["m"]) + 1
    core = G.kcore(edges, k=k)
    core_deg = core.groupBy("src").agg(F.count("*").alias("d"))
    stats = core_deg.agg(
        F.count(F.lit(1)).alias("n_core"), F.min("d").alias("min_d")
    ).collect()[0]
    n_core = stats["n_core"] or 0
    min_d = stats["min_d"]
    checks = [
        ("degrees_ge_k", bool(n_core > 0 and min_d >= k)),
        ("strictly_peeled", bool(n_core < n_nodes)),
        ("core_nonempty", bool(n_core > 0)),
    ]
    return spark.createDataFrame(checks, "check_name string, guarantee_ok boolean")


BFS_MAX_DEPTH = 6


def _bfs_oracle(max_depth: int) -> str:
    # every CTE is MATERIALIZED on purpose: e is referenced once per
    # level and each k{i-1} TWICE per level (the NOT IN visited check
    # plus the union), so an inlined plan re-evaluates the whole chain
    # ~2^depth times — at sf0.1 that spilled >80 GB of DuckDB temp and
    # failed the replica on disk (r13); materialized, each level is
    # computed exactly once.
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
k0 AS MATERIALIZED (SELECT MIN(s) AS node, CAST(0 AS BIGINT) AS depth FROM e),
f0 AS MATERIALIZED (SELECT node FROM k0)"""
    ]
    for i in range(1, max_depth + 1):
        parts.append(
            f""",
f{i} AS MATERIALIZED (
  SELECT DISTINCT e.d AS node
  FROM e JOIN f{i - 1} ON e.s = f{i - 1}.node
  WHERE e.d NOT IN (SELECT node FROM k{i - 1})
),
k{i} AS MATERIALIZED (
  SELECT node, depth FROM k{i - 1}
  UNION ALL
  SELECT node, CAST({i} AS BIGINT) AS depth FROM f{i}
)"""
        )
    parts.append(
        f"""
SELECT node AS part_key, depth FROM k{max_depth}"""
    )
    return "".join(parts)


def _bfs_depths_audit(spark: SparkSession, sf_dir: str):
    """Plan-audit hook: edge build plus ONE lazy BFS level (frontier-
    edge join + distinct + visited anti join — the per-level shape of
    the level loop operators/graph.bfs_depths and bfs_depths_multi
    share, which pins the edge list once and each level's frontier and
    visited set eagerly)."""
    li = load_table(spark, sf_dir, "lineitem")
    e = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    frontier = e.agg(F.min("src").alias("node"))
    level = (
        frontier.join(e, frontier["node"] == e["src"])
        .select(F.col("dst").alias("node"))
        .distinct()
        .join(frontier.select("node"), "node", "left_anti")
    )
    return {"edges": e, "bfs_level": level}


@register(
    "graph_bfs_depths",
    oracle=_bfs_oracle(BFS_MAX_DEPTH),
    description=(
        "[EXT] bounded-depth BFS from the minimum part key over the "
        "co-purchase graph (operators/graph.bfs_depths): minimum hop "
        "count of every node reachable within 6 levels — the "
        "reachability primitive the dedup-cluster audit and ER graphs "
        "lacked (r6 verdict #6). Level-synchronous frontier expansion, "
        "one frontier-edge join + distinct + visited anti-join per "
        "level, frontier/visited pinned eagerly each level (the "
        "deep-PageRank cross-job rule); per-level driver state is the "
        "frontier-size scalar. The oracle unrolls all 6 levels as "
        "chained CTEs, pinning every (node, depth) pair exactly — "
        "deterministic because level-synchronous BFS assigns each node "
        "its unique minimum depth."
    ),
    audit_frames=_bfs_depths_audit,
)
def graph_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    edges = edges.localCheckpoint(eager=True)  # consumed by the seed + BFS
    sources = edges.agg(F.min("src").alias("node"))
    depths = G.bfs_depths(edges, sources, max_depth=BFS_MAX_DEPTH)
    return depths.select(F.col("node").alias("part_key"), "depth")


SSSP_ROUNDS = 4


def _sssp_oracle(rounds: int) -> str:
    parts = [
        """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT pa AS s, pb AS d, 1 + 1000 // c AS w
  FROM (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
  )
),
src AS (SELECT MIN(s) AS node FROM e),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM src)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
d{i} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.d AS node, d{i - 1}.dist + e.w AS dist
    FROM d{i - 1} JOIN e ON e.s = d{i - 1}.node
  ) GROUP BY 1
)"""
        )
    parts.append(
        f"""
SELECT node AS part_key, dist FROM d{rounds}"""
    )
    return "".join(parts)


def _sssp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Popularity-inverse weighted co-purchase edges (shared by the
    query and its plan-audit hook)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "src", "dst", (F.lit(1) + F.expr("1000 div c")).alias("w")
        )
    )


def _sssp_audit(spark: SparkSession, sf_dir: str):
    """Plan-audit hook: the edge build plus ONE Bellman-Ford relax
    round, fully lazy (checkpoint_every=2 never fires at rounds=1, so
    the hook exposes the real join+min-agg round plan instead of an
    ExistingRDD leaf)."""
    edges = _sssp_edges(spark, sf_dir)
    sources = edges.agg(F.min("src").alias("node"))
    relax = G.sssp_weighted(edges, sources, rounds=1, checkpoint_every=2)
    return {"edges": edges, "relax_round": relax}


@register(
    "graph_sssp_weighted",
    oracle=_sssp_oracle(SSSP_ROUNDS),
    description=(
        "[EXT] weighted single-source shortest paths (operators/graph."
        "sssp_weighted): 4-round Bellman-Ford from the minimum part "
        "key over the co-purchase graph with popularity-inverse edge "
        "costs (w = 1 + 1000 div shared-order-count — frequently "
        "co-bought parts are 'close'). Fixed-round semantics: the "
        "output IS min cost over paths of <= 4 edges, which the "
        "oracle unrolls exactly; no convergence probe, so the whole "
        "run is ONE Spark job and ReuseExchange shares the edge scan "
        "across rounds (the shallow-PageRank regime). Int64 "
        "path sums and MINs are exact and order-independent — every "
        "distance pins bit-for-bit."
    ),
    audit_frames=_sssp_audit,
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _sssp_edges(spark, sf_dir)
    sources = edges.agg(F.min("src").alias("node"))
    dist = G.sssp_weighted(edges, sources, rounds=SSSP_ROUNDS)
    return dist.select(F.col("node").alias("part_key"), "dist")


CLOSENESS_SEEDS = 3
CLOSENESS_DEPTH = 4


def _closeness_oracle(n_seeds: int, max_depth: int) -> str:
    parts = [
        f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
seeds AS (
  SELECT s AS source FROM (SELECT DISTINCT s FROM e ORDER BY s LIMIT {n_seeds})
),
k0 AS (SELECT source, source AS node, CAST(0 AS BIGINT) AS depth FROM seeds),
f0 AS (SELECT source, node FROM k0)"""
    ]
    for i in range(1, max_depth + 1):
        parts.append(
            f""",
f{i} AS (
  SELECT DISTINCT f{i - 1}.source, e.d AS node
  FROM e JOIN f{i - 1} ON e.s = f{i - 1}.node
  WHERE NOT EXISTS (
    SELECT 1 FROM k{i - 1}
    WHERE k{i - 1}.source = f{i - 1}.source AND k{i - 1}.node = e.d
  )
),
k{i} AS (
  SELECT source, node, depth FROM k{i - 1}
  UNION ALL
  SELECT source, node, CAST({i} AS BIGINT) AS depth FROM f{i}
)"""
        )
    parts.append(
        f"""
SELECT source AS seed_part,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
       CAST(SUM(depth) AS BIGINT) AS sum_depth,
       CASE WHEN SUM(depth) > 0
            THEN CAST(COUNT(*) - 1 AS DOUBLE) / SUM(depth)
            ELSE 0.0 END AS closeness
FROM k{max_depth}
GROUP BY source"""
    )
    return "".join(parts)


@register(
    "graph_closeness_seeds",
    oracle=_closeness_oracle(CLOSENESS_SEEDS, CLOSENESS_DEPTH),
    description=(
        "[EXT] bounded closeness centrality for seed nodes "
        "(operators/graph.bfs_depths_multi): the 3 smallest part keys "
        "expand simultaneously in ONE multi-source BFS — frontier "
        "keyed by (seed, node), per-seed visited sets via the "
        "composite anti-join — and closeness = (reached-1)/sum(depth) "
        "within 4 hops falls out of one aggregation. Completes the "
        "centrality family (PageRank, degree assortativity, "
        "clustering coefficient, k-core): k seeds cost one expansion, "
        "not k traversals. The oracle unrolls the same 4 levels with "
        "per-seed NOT EXISTS visited checks; counts/depth sums are "
        "int64, closeness one final division."
    ),
)
def graph_closeness_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    edges = edges.localCheckpoint(eager=True)  # consumed by the seeds + BFS
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(CLOSENESS_SEEDS)
    )
    depths = G.bfs_depths_multi(edges, seeds, max_depth=CLOSENESS_DEPTH)
    return depths.groupBy(F.col("source").alias("seed_part")).agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("n_reached"),
        F.sum("depth").cast("long").alias("sum_depth"),
        F.when(
            F.sum("depth") > 0,
            (F.count(F.lit(1)) - 1).cast("double") / F.sum("depth"),
        )
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )


LINKPRED_TOP = 20


@register(
    "graph_link_prediction",
    oracle=f"""
WITH p AS (
  SELECT a.l_partkey AS s, b.l_partkey AS d,
         COUNT(DISTINCT a.l_orderkey) AS sup
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT s, d FROM p WHERE sup >= 2),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS dg FROM e GROUP BY 1),
w AS (
  SELECT e1.s AS a, e2.d AS b, CAST(COUNT(*) AS BIGINT) AS cn
  FROM e e1 JOIN e e2 ON e1.d = e2.s AND e1.s < e2.d
  GROUP BY 1, 2
),
nl AS (
  SELECT w.a, w.b, w.cn FROM w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = w.a AND e.d = w.b)
)
SELECT nl.a AS part_a, nl.b AS part_b, nl.cn AS common_neighbors,
       da.dg AS degree_a, db.dg AS degree_b,
       CAST(nl.cn AS DOUBLE) / (da.dg + db.dg - nl.cn) AS jaccard
FROM nl
JOIN deg da ON da.s = nl.a
JOIN deg db ON db.s = nl.b
ORDER BY jaccard DESC, part_a, part_b
LIMIT {LINKPRED_TOP}
""",
    description=(
        "[EXT] neighborhood-Jaccard link prediction (Liben-Nowell & "
        "Kleinberg 2003) on the SUPPORT-FILTERED co-purchase graph: "
        "edges only between parts co-purchased in >= 2 distinct "
        "orders — one-off basket noise is not a link, and the filter "
        "is the scale lever: the raw graph is dense (mean degree "
        "~120 at sf0.1, wedge cost ~288M — measured 139s), the "
        "support-2 graph is sparse (max degree 6, wedge cost ~10k). "
        "For every NON-adjacent 2-hop pair, score = |N(a) n N(b)| / "
        "|N(a) u N(b)| from one wedge join + degree lookups, top-20 "
        "by score with (a, b) tie-breaks — the 'bought together "
        "next' recommender primitive complementing PPR's global "
        "relevance. Counts exact ints, Jaccard one division, "
        "candidates anti-joined against existing edges (prediction "
        "means NEW links). Support comes from cooccurrence_edges("
        "with_support=True), so the per-group dense_rank cap bounds "
        "the basket self-join — the r9 verdict flagged the previous "
        "uncapped raw self-join as the repo's one skew bomb (a 1e5-"
        "item hot basket would emit 1e10 pairs from one key); every "
        "TPC-H order is <= 7 lines, so results are byte-identical."
    ),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = G.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", with_support=True
    )
    e = sup.filter(F.col("support") >= 2).select("src", "dst")
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("dg")
    )
    e1, e2 = e.alias("e1"), e.alias("e2")
    wedges = (
        e1.join(
            e2,
            (F.col("e1.dst") == F.col("e2.src"))
            & (F.col("e1.src") < F.col("e2.dst")),
        )
        .groupBy(
            F.col("e1.src").alias("a"), F.col("e2.dst").alias("b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    new_links = wedges.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    scored = (
        new_links.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("dg", "da")
        .join(deg.withColumnRenamed("node", "b"), "b")
        .withColumnRenamed("dg", "db")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            F.col("da").alias("degree_a"),
            F.col("db").alias("degree_b"),
            (
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn"))
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.asc("part_a"), F.asc("part_b")
    ).limit(LINKPRED_TOP)


LPA_ROUNDS = 5


def _lpa_oracle(rounds: int) -> str:
    """Unrolled per-round CTE twin of operators/graph.label_propagation:
    same most-frequent-neighbor-label rule with (count DESC, label ASC)
    tie-break, same keep-label fallback. MATERIALIZED because each
    round reads the previous one twice (votes + fallback) — inlined,
    the plan would double per round."""
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
nodes AS MATERIALIZED (SELECT DISTINCT s AS node FROM e),
l0 AS MATERIALIZED (SELECT node, CAST(node AS BIGINT) AS label FROM nodes)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(f""",
w{t} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT e.s AS node, l.label,
           ROW_NUMBER() OVER (PARTITION BY e.s
                              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM e JOIN l{t - 1} l ON l.node = e.d
    GROUP BY e.s, l.label)
  WHERE rn = 1
),
l{t} AS MATERIALIZED (
  SELECT n.node, CAST(COALESCE(w.label, p.label) AS BIGINT) AS label
  FROM nodes n
  LEFT JOIN w{t} w ON w.node = n.node
  JOIN l{t - 1} p ON p.node = n.node
)""")
    parts.append(f"""
SELECT node AS part_key, label AS community FROM l{rounds}
ORDER BY part_key""")
    return "".join(parts)


def _lpa_cte(rounds: int) -> str:
    """The LPA oracle's CTE prefix (through l{rounds}) without the
    final SELECT — reused by the modularity evaluation."""
    full = _lpa_oracle(rounds)
    return full.rsplit("\nSELECT node AS part_key", 1)[0]


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(LPA_ROUNDS),
    description=(
        "[EXT] synchronous label-propagation community detection "
        "(Raghavan 2007) over the part co-purchase graph, 5 fixed "
        "rounds: every node starts as its own label and adopts its "
        "neighbors' most frequent label, ties to the smallest — both "
        "rules integer-exact, so the run is bit-reproducible and the "
        "oracle unrolls all 5 rounds as chained CTEs (the pagerank "
        "pattern). One shuffle per round; the previous label frame is "
        "read twice per round (votes + keep-label fallback), so a "
        "lazy localCheckpoint per round keeps the plan linear in one "
        "action. Communities come out as per-node label assignments — "
        "the curation use is domain grouping for stratified sampling "
        "alongside the dedup connected components."
    ),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    labels = G.label_propagation(edges, rounds=LPA_ROUNDS)
    return labels.select(
        F.col("node").alias("part_key"), F.col("label").alias("community")
    ).orderBy("part_key")


MST_ROUNDS = 4


def _mst_oracle() -> str:
    parts = ["""WITH RECURSIVE p AS MATERIALIZED (
  SELECT a.l_partkey AS s, b.l_partkey AS d,
         COUNT(DISTINCT a.l_orderkey) AS sup
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
ed AS MATERIALIZED (SELECT s AS src, d AS dst, CAST(-sup AS BIGINT) AS w FROM p WHERE sup >= 2),
nd AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
comp_0 AS MATERIALIZED (SELECT node, node AS label FROM nd)"""]
    for r in range(1, MST_ROUNDS + 1):
        parts.append(f""",
e2_{r} AS MATERIALIZED (
  SELECT e.src, e.dst, e.w, a.label AS ca, b.label AS cb
  FROM ed e
  JOIN comp_{r - 1} a ON a.node = e.src
  JOIN comp_{r - 1} b ON b.node = e.dst
  WHERE a.label <> b.label
),
ori_{r} AS (
  SELECT src, dst, w, ca, cb FROM e2_{r}
  UNION ALL
  SELECT src, dst, w, cb AS ca, ca AS cb FROM e2_{r}
),
sel_{r} AS MATERIALIZED (
  SELECT src, dst, w, ca, cb FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY ca ORDER BY w, src, dst) AS rn
    FROM ori_{r}) WHERE rn = 1
),
per_{r} AS (SELECT DISTINCT src, dst, w, CAST({r} AS BIGINT) AS round FROM sel_{r}),
und_{r} AS (SELECT ca AS a, cb AS b FROM sel_{r} UNION SELECT cb, ca FROM sel_{r}),
reach_{r}(node, label) AS (
  SELECT a, a FROM und_{r}
  UNION
  SELECT u.b, t.label FROM reach_{r} t JOIN und_{r} u ON u.a = t.node
),
map_{r} AS (SELECT node, MIN(label) AS newlab FROM reach_{r} GROUP BY 1),
comp_{r} AS MATERIALIZED (
  SELECT c.node, COALESCE(m.newlab, c.label) AS label
  FROM comp_{r - 1} c LEFT JOIN map_{r} m ON m.node = c.label
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM per_{r}" for r in range(1, MST_ROUNDS + 1)
    )
    parts.append(f"""
SELECT src AS part_a, dst AS part_b, CAST(-w AS BIGINT) AS support, round
FROM ({union})""")
    return "".join(parts)


@register(
    "graph_mst_boruvka",
    oracle=_mst_oracle(),
    description=(
        "[EXT] maximum-support spanning forest of the co-purchase "
        "graph via fixed-round Borůvka (1926; the MapReduce MST): "
        "each round every component grabs its strongest outgoing tie "
        "(w = -support, ties by (w, src, dst) — a total order, so the "
        "forest is UNIQUE and oracle-pinnable), components contract "
        "via the large-star/small-star relabel on the selected edges "
        "only. 4 rounds complete components up to 16 supernodes; both "
        "engines run the same fixed rounds. The backbone MST IS "
        "single-linkage clustering (cut at support t = the dedup "
        "hierarchy), and component count halves per round — log2(n) "
        "rounds at any scale, with per-round relabel graphs bounded "
        "by component count, never corpus size. Support comes from "
        "the CAPPED cooccurrence_edges."
    ),
)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = G.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", with_support=True
    )
    ed = (
        sup.filter((F.col("support") >= 2) & (F.col("src") < F.col("dst")))
        .select("src", "dst", (-F.col("support")).cast("long").alias("w"))
    )
    forest = G.boruvka_forest(ed, rounds=MST_ROUNDS)
    return forest.select(
        F.col("src").alias("part_a"),
        F.col("dst").alias("part_b"),
        (-F.col("w")).cast("long").alias("support"),
        "round",
    )


SL_CUT = 3  # single-linkage cut: keep forest edges with support >= 3


def _single_linkage_oracle() -> str:
    # the Borůvka forest CTEs, then cut at the support threshold and
    # take connected components of what survives
    mst = _mst_oracle()
    head, _tail = mst.rsplit("\nSELECT src AS part_a", 1)
    union = "\nUNION ALL\n".join(
        f"SELECT src, dst, w FROM per_{r}" for r in range(1, MST_ROUNDS + 1)
    )
    return head + f""",
forest AS MATERIALIZED (SELECT src, dst FROM ({union}) WHERE -w >= {SL_CUT}),
fund AS (SELECT src AS a, dst AS b FROM forest UNION SELECT dst, src FROM forest),
freach(node, label) AS (
  SELECT a, a FROM fund
  UNION
  SELECT u.b, t.label FROM freach t JOIN fund u ON u.a = t.node
),
fcc AS (SELECT node, MIN(label) AS label FROM freach GROUP BY 1)
SELECT node AS part, label AS cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS cluster_size
FROM fcc
"""


@register(
    "graph_single_linkage_cut",
    oracle=_single_linkage_oracle(),
    description=(
        "[EXT] single-linkage clustering by CUTTING the Borůvka "
        "backbone: drop forest edges below support 3, components of "
        "the survivors ARE the single-linkage clusters at that "
        "threshold (the classic MST<->single-linkage equivalence, "
        "Gower & Ross 1969) — sweeping the threshold costs one filter "
        "per level over the |V|-1-edge forest, never a re-clustering "
        "of the corpus. Spark side reuses boruvka_forest + the "
        "large-star/small-star contraction; the oracle unrolls the "
        "same fixed rounds and a recursive-CTE component pass."
    ),
)
def graph_single_linkage_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import dup_clusters

    li = load_table(spark, sf_dir, "lineitem")
    sup = G.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", with_support=True
    )
    ed = (
        sup.filter((F.col("support") >= 2) & (F.col("src") < F.col("dst")))
        .select("src", "dst", (-F.col("support")).cast("long").alias("w"))
    )
    forest = G.boruvka_forest(ed, rounds=MST_ROUNDS).filter(
        -F.col("w") >= SL_CUT
    )
    cc = dup_clusters(forest.select("src", "dst"), "src", "dst")
    wsz = Window.partitionBy("label")
    return cc.select(
        F.col("node").alias("part"),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1)).over(wsz).cast("long").alias("cluster_size"),
    )


@register(
    "graph_modularity_lpa",
    oracle=_lpa_cte(LPA_ROUNDS)
    + f""",
can AS (SELECT s, d FROM e WHERE s < d),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM can),
deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS dg FROM e GROUP BY 1),
intra AS (
  SELECT la.label, CAST(COUNT(*) AS BIGINT) AS ec
  FROM can
  JOIN l{LPA_ROUNDS} la ON la.node = can.s
  JOIN l{LPA_ROUNDS} lb ON lb.node = can.d AND lb.label = la.label
  GROUP BY 1
),
dc AS (
  SELECT l.label, CAST(SUM(deg.dg) AS BIGINT) AS dsum,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM l{LPA_ROUNDS} l JOIN deg USING (node) GROUP BY 1
),
per AS (
  SELECT dc.label, dc.n_nodes, COALESCE(intra.ec, 0) AS ec, dc.dsum
  FROM dc LEFT JOIN intra USING (label)
),
q AS (
  SELECT CAST(SUM(4 * m.m * per.ec - per.dsum * per.dsum) AS DOUBLE)
           / (4.0 * MAX(m.m) * MAX(m.m)) AS q
  FROM per, m
)
SELECT per.label AS community, per.n_nodes,
       per.ec AS intra_edges, per.dsum AS degree_sum,
       q.q AS modularity
FROM per, q
""",
    description=(
        "[EXT] Newman modularity of the label-propagation communities "
        "(Newman & Girvan 2004): Q = sum_c [e_c/m - (d_c/2m)^2], "
        "computed as ONE exact integer numerator sum(4*m*e_c - d_c^2) "
        "over a single division by 4m^2 — no per-community float "
        "accumulation, so the score is bit-identical cross-engine. "
        "The eval metric for the community detector (pairs with the "
        "detector the way nDCG pairs with BM25): per-community node "
        "count, intra-edge count and degree mass, plus the global Q. "
        "Intra edges come from one canonical-edge join against the "
        "label frame; everything after the LPA rounds is "
        "community-count-sized."
    ),
)
def graph_modularity_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    labels = G.label_propagation(edges, rounds=LPA_ROUNDS)
    can = edges.filter(F.col("src") < F.col("dst"))
    m = can.agg(F.count(F.lit(1)).cast("long").alias("m"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("dg")
    )
    la = labels.select(F.col("node").alias("src"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
    intra = (
        can.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("ec"))
    )
    dc = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(
            F.sum("dg").cast("long").alias("dsum"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
    )
    per = dc.join(intra, "label", "left").select(
        "label",
        "n_nodes",
        F.coalesce("ec", F.lit(0)).cast("long").alias("ec"),
        "dsum",
    )
    q = (
        per.crossJoin(F.broadcast(m))
        .agg(
            (
                F.sum(
                    F.lit(4) * F.col("m") * F.col("ec")
                    - F.col("dsum") * F.col("dsum")
                ).cast("double")
                / (F.lit(4.0) * F.max("m") * F.max("m"))
            ).alias("q")
        )
    )
    return per.crossJoin(F.broadcast(q)).select(
        F.col("label").alias("community"),
        "n_nodes",
        F.col("ec").alias("intra_edges"),
        F.col("dsum").alias("degree_sum"),
        F.col("q").alias("modularity"),
    )
