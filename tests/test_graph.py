"""Integer-PageRank invariants (oracle equivalence is covered by
test_queries_oracle; these pin the algorithm semantics)."""

from __future__ import annotations

from pyspark.sql import Row

from cust_sagemaker_feature_store_spark.operators import graph as G


def _star(spark):
    # hub 0 <-> spokes 1..4, symmetric
    rows = []
    for i in range(1, 5):
        rows += [Row(src=0, dst=i), Row(src=i, dst=0)]
    return spark.createDataFrame(rows)


def test_pagerank_hub_dominates_and_mass_is_conserved(spark):
    ranks = {
        r["node"]: r["rank_scaled"]
        for r in G.pagerank_integer(_star(spark), iterations=3).collect()
    }
    assert len(ranks) == 5
    # the hub receives all spoke mass; spokes split the hub's
    spoke = {ranks[i] for i in range(1, 5)}
    assert len(spoke) == 1, "symmetric spokes must have identical ranks"
    assert ranks[0] > max(spoke)
    # total mass stays within integer-truncation drift of the scale
    total = sum(ranks.values())
    assert G.RANK_SCALE * 0.999 <= total <= G.RANK_SCALE


def test_pagerank_matches_hand_computation(spark):
    # 2-node symmetric graph: outdeg 1 each, so rank is a fixed point
    # at scale/2 from iteration 0 and must stay there exactly.
    e = spark.createDataFrame([Row(src=1, dst=2), Row(src=2, dst=1)])
    half = G.RANK_SCALE // 2
    expected = (15 * G.RANK_SCALE) // 200 + (85 * half) // 100
    for it in (1, 3):
        ranks = {
            r["node"]: r["rank_scaled"]
            for r in G.pagerank_integer(e, iterations=it).collect()
        }
        assert ranks == {1: expected, 2: expected}


def test_cooccurrence_edges_symmetric_no_self_loops(spark):
    df = spark.createDataFrame(
        [Row(g=1, item=10), Row(g=1, item=11), Row(g=1, item=11), Row(g=2, item=10)]
    )
    edges = {(r["src"], r["dst"]) for r in G.cooccurrence_edges(df, "g", "item").collect()}
    assert edges == {(10, 11), (11, 10)}


def test_cooccurrence_cap_bounds_hot_group_quadratic(spark):
    """Planted skew: one hot group with 40 items, one normal group with
    3. Cap=10 must bound the hot group to its first 10 items (ascending
    — deterministic) -> exactly 10*9 directed pairs, while the normal
    group is untouched, and the output stays symmetric (pagerank's
    no-dangling contract)."""
    from pyspark.sql import Row

    rows = [Row(g=1, item=i) for i in range(40)] + [
        Row(g=2, item=i) for i in (100, 101, 102)
    ]
    df = spark.createDataFrame(rows)
    edges = {
        (r["src"], r["dst"])
        for r in G.cooccurrence_edges(
            df, "g", "item", max_items_per_group=10
        ).collect()
    }
    hot = {(a, b) for a, b in edges if a < 100}
    assert hot == {(a, b) for a in range(10) for b in range(10) if a != b}
    assert {(a, b) for a, b in edges if a >= 100} == {
        (a, b) for a in (100, 101, 102) for b in (100, 101, 102) if a != b
    }
    assert {(b, a) for a, b in edges} == edges, "capped edges must stay symmetric"
    # groups under the cap are byte-identical to uncapped semantics
    uncapped = {
        (r["src"], r["dst"])
        for r in G.cooccurrence_edges(df, "g", "item").collect()
    }
    assert {(a, b) for a, b in uncapped if a >= 100} == {
        (a, b) for a, b in edges if a >= 100
    }
    import pytest

    with pytest.raises(ValueError, match="at least one pair"):
        G.cooccurrence_edges(df, "g", "item", max_items_per_group=1)


def test_cooccurrence_support_counts_distinct_groups_and_caps(spark):
    """with_support=True (the r9-verdict fix for link prediction's
    uncapped support self-join): support = DISTINCT co-occurring
    groups — duplicate rows inside one group must not inflate it —
    and the per-group dense_rank cap bounds the planted hot basket
    exactly as the edge form does."""
    import pytest
    from pyspark.sql import Row

    rows = [
        # pair (10, 11) co-occurs in groups 1 and 2; group 1 lists
        # item 11 twice (dup rows must not inflate support)
        Row(g=1, item=10), Row(g=1, item=11), Row(g=1, item=11),
        Row(g=2, item=10), Row(g=2, item=11),
        # (10, 12) co-occurs only in group 2
        Row(g=2, item=12),
    ]
    sup = {
        (r["src"], r["dst"]): r["support"]
        for r in G.cooccurrence_edges(
            spark.createDataFrame(rows), "g", "item", with_support=True
        ).collect()
    }
    assert sup[(10, 11)] == 2 and sup[(11, 10)] == 2
    assert sup[(10, 12)] == 1 and sup[(12, 11)] == 1
    assert {(b, a) for (a, b) in sup} == set(sup), "support edges symmetric"

    # planted hot basket: 40 items in one group, cap=10 -> only the
    # first 10 ascending items pair up (10*9 directed pairs), so the
    # support stage is bounded by cap² per group, never basket².
    hot = [Row(g=1, item=i) for i in range(40)]
    capped = G.cooccurrence_edges(
        spark.createDataFrame(hot), "g", "item",
        max_items_per_group=10, with_support=True,
    ).collect()
    assert len(capped) == 10 * 9
    assert all(r["support"] == 1 for r in capped)
    assert max(max(r["src"], r["dst"]) for r in capped) == 9

    with pytest.raises(ValueError, match="at least one pair"):
        G.cooccurrence_edges(
            spark.createDataFrame(hot), "g", "item",
            max_items_per_group=1, with_support=True,
        )


def test_semantic_dedup_prunes_within_cluster_only(spark):
    """Near-identical vectors in the same cluster: higher id dropped.
    Near-identical vectors in different clusters: both kept (the
    SemDeDup contract — the quadratic step never crosses clusters)."""
    from pyspark.sql import Row

    from cust_sagemaker_feature_store_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.05], label=0),
            Row(vec_id=2, embedding=[1.0, 0.06], label=0),   # dup of 1, same cluster
            Row(vec_id=3, embedding=[0.05, 1.0], label=1),
            Row(vec_id=4, embedding=[0.06, 1.0], label=1),   # dup of 3, same cluster
            Row(vec_id=5, embedding=[-1.0, -0.9], label=0),  # no near neighbor
        ]
    )
    out = {r["vec_id"]: r for r in S.semantic_dedup(emb, threshold=0.95).collect()}
    assert len(out) == 5
    assert out[1]["kept"] and not out[2]["kept"]
    assert out[3]["kept"] and not out[4]["kept"]
    assert out[5]["kept"]
    # 1,2 share a cluster; 3,4 share a different one
    assert out[1]["cluster"] == out[2]["cluster"] != out[3]["cluster"]


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment ~1.0
    even though Jaccard is diluted below a 0.4 threshold."""
    from pyspark.sql import Row

    from cust_sagemaker_feature_store_spark.operators import dedup as D

    quote = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=quote),
            Row(doc_id=2, text=quote + " " + filler),
            Row(doc_id=3, text="totally unrelated content here now"),
        ]
    )
    pairs = D.containment_pairs(
        docs, min_df=2, max_df=8, threshold=0.5
    ).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]
    p = pairs[0]
    assert p["containment_a"] == 1.0           # all of doc 1 inside doc 2
    assert p["containment_b"] < 0.4            # Jaccard-style view dilutes
    jac = D.jaccard_pairs(docs, threshold=0.4).collect()
    assert not jac, "Jaccard at 0.4 must miss the quote-inclusion pair"


def test_pagerank_validate_rejects_dangling_nodes(spark):
    import pytest

    e = spark.createDataFrame([Row(src=1, dst=2)])  # 2 never a source
    with pytest.raises(ValueError, match="dangling"):
        G.pagerank_integer(e, iterations=1, validate=True)
    # symmetric edges pass validation
    e2 = spark.createDataFrame([Row(src=1, dst=2), Row(src=2, dst=1)])
    assert G.pagerank_integer(e2, iterations=1, validate=True).count() == 2


def test_kcore_peels_tail_keeps_triangle(spark):
    """Triangle with a pendant chain: the 2-core is exactly the
    triangle — the chain peels over multiple rounds (depth > 1, so the
    fixpoint loop is actually exercised)."""
    from pyspark.sql import Row

    und = []
    for a, b in [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]:
        und += [Row(src=a, dst=b), Row(src=b, dst=a)]
    edges = spark.createDataFrame(und)
    core = G.kcore(edges, k=2)
    nodes = {r["src"] for r in core.select("src").distinct().collect()}
    assert nodes == {1, 2, 3}
    got = {(r["src"], r["dst"]) for r in core.collect()}
    assert got == {(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)}
    # k above the max degree empties the graph
    assert G.kcore(edges, k=4).count() == 0


def test_bfs_depths_match_naive_bfs(spark):
    """Distributed level-synchronous BFS equals a python BFS (minimum
    hop counts) on seeded random digraphs, including the bounded-depth
    cutoff, an unreachable component, and several sources sharing one
    visited set."""
    import random
    from collections import deque

    from pyspark.sql import Row

    from cust_sagemaker_feature_store_spark.operators.graph import bfs_depths

    rng = random.Random(13)
    for trial, (n, m, max_depth) in enumerate([(30, 60, 4), (50, 80, 6), (40, 40, 3)]):
        edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
        edges = {(a, b) for a, b in edges if a != b}
        adj: dict[int, list[int]] = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
        e_df = spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in sorted(edges)]
        )
        for src_nodes in ([0], [0, n // 2]):
            want = {s: 0 for s in src_nodes}
            q = deque((s, 0) for s in src_nodes)
            while q:
                u, d = q.popleft()
                if d == max_depth:
                    continue
                for v in adj.get(u, []):
                    if v not in want:
                        want[v] = d + 1
                        q.append((v, d + 1))
            s_df = spark.createDataFrame([Row(node=s) for s in src_nodes])
            got = {
                r["node"]: r["depth"]
                for r in bfs_depths(e_df, s_df, max_depth=max_depth).collect()
            }
            assert got == want, (trial, n, m, max_depth, src_nodes)


def test_bfs_source_not_in_graph_survives(spark):
    from pyspark.sql import Row

    from cust_sagemaker_feature_store_spark.operators.graph import bfs_depths

    e_df = spark.createDataFrame([Row(src=1, dst=2)])
    s_df = spark.createDataFrame([Row(node=99)])
    got = bfs_depths(e_df, s_df, max_depth=3).collect()
    assert [(r["node"], r["depth"]) for r in got] == [(99, 0)]


def test_sssp_weighted_matches_naive_bellman_ford(spark):
    """Fixed-round distributed relaxation equals a python Bellman-Ford
    limited to the same path length, on seeded random weighted
    digraphs."""
    import random

    from pyspark.sql import Row

    from cust_sagemaker_feature_store_spark.operators.graph import sssp_weighted

    rng = random.Random(17)
    for trial, (n, m, rounds) in enumerate([(25, 60, 3), (40, 120, 5)]):
        edges = {}
        for _ in range(m):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges[(a, b)] = rng.randrange(1, 20)
        want = {0: 0}
        for _ in range(rounds):
            nxt = dict(want)
            for (a, b), w in edges.items():
                if a in want and want[a] + w < nxt.get(b, 1 << 60):
                    nxt[b] = want[a] + w
            want = nxt
        e_df = spark.createDataFrame(
            [Row(src=a, dst=b, w=w) for (a, b), w in sorted(edges.items())]
        )
        s_df = spark.createDataFrame([Row(node=0)])
        got = {
            r["node"]: r["dist"]
            for r in sssp_weighted(e_df, s_df, rounds=rounds).collect()
        }
        assert got == want, (trial, n, m, rounds)


def test_multi_source_bfs_matches_per_seed_bfs(spark):
    """bfs_depths_multi must equal running bfs_depths independently per
    seed (per-seed visited sets must not interfere)."""
    import random

    from pyspark.sql import Row

    from cust_sagemaker_feature_store_spark.operators.graph import (
        bfs_depths,
        bfs_depths_multi,
    )

    rng = random.Random(29)
    n, m = 35, 90
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
    edges = sorted((a, b) for a, b in edges if a != b)
    e_df = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
    seeds = [0, 1, 2]
    multi = {
        (r["source"], r["node"]): r["depth"]
        for r in bfs_depths_multi(
            e_df, spark.createDataFrame([Row(node=s) for s in seeds]),
            max_depth=4,
        ).collect()
    }
    single = {}
    for s in seeds:
        for r in bfs_depths(
            e_df, spark.createDataFrame([Row(node=s)]), max_depth=4
        ).collect():
            single[(s, r["node"])] = r["depth"]
    assert multi == single


def test_kcore_confirms_fixpoint_reached_inside_final_batch(spark):
    """ADVICE r7 #1: with batched probing, a fixpoint REACHED inside
    the final batch still sees a count change from the batch's earlier
    rounds, so the probe can't confirm it until one batch PAST
    max_rounds. The loop budgets that confirming probe: a chain that
    peels in exactly max_rounds rounds must return the (empty or
    stable) core, not raise."""
    from pyspark.sql import Row

    # path graph 1-2-3-4-5-6-7: 2-core is empty, peeling one node pair
    # per round from each end -> needs 3 peel rounds + confirmation
    und = []
    for a, b in [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)]:
        und += [Row(src=a, dst=b), Row(src=b, dst=a)]
    edges = spark.createDataFrame(und)
    # max_rounds=3 is EXACTLY the peeling depth; probe_every=3 means
    # the count change from rounds 1-2 masks the round-3 fixpoint
    # until the confirming batch past the cap
    assert G.kcore(edges, k=2, max_rounds=3, probe_every=3).count() == 0
    # triangle + pendant chain (peels 6, then 5, then 4 — depth 3):
    # with max_rounds=3 == depth and probe_every=3, the only possible
    # confirmation is the probe batch PAST the cap — the exact ADVICE
    # r7 scenario that used to raise
    und2 = []
    for a, b in [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]:
        und2 += [Row(src=a, dst=b), Row(src=b, dst=a)]
    core = G.kcore(
        spark.createDataFrame(und2), k=2, max_rounds=3, probe_every=3
    )
    assert {r["src"] for r in core.select("src").distinct().collect()} == {1, 2, 3}


def test_kcore_max_rounds_is_a_hard_peel_budget(spark):
    """ADVICE r8 #1: the batch past max_rounds may only CONFIRM the
    fixpoint — if it actually peels, the call must raise, so a peeling
    depth in (max_rounds, max_rounds + probe_every] no longer converges
    silently, and max_rounds=0 raises for any non-fixpoint graph."""
    import pytest
    from pyspark.sql import Row

    # path graph 1-..-9: 2-core empty, peeling depth 4 (one pair of
    # endpoints per round) — max_rounds=3 with probe_every=3 used to
    # absorb round 4 into the "confirming" batch and return
    und = []
    for a, b in [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8), (8, 9)]:
        und += [Row(src=a, dst=b), Row(src=b, dst=a)]
    edges = spark.createDataFrame(und)
    with pytest.raises(RuntimeError, match="peeling past max_rounds"):
        G.kcore(edges, k=2, max_rounds=3, probe_every=3)
    # the same graph converges with an honest budget
    assert G.kcore(edges, k=2, max_rounds=4, probe_every=3).count() == 0
    # max_rounds=0: non-fixpoint raises, fixpoint (pure triangle) returns
    with pytest.raises(RuntimeError, match="peeling past max_rounds"):
        G.kcore(edges, k=2, max_rounds=0, probe_every=3)
    tri = []
    for a, b in [(1, 2), (2, 3), (1, 3)]:
        tri += [Row(src=a, dst=b), Row(src=b, dst=a)]
    assert G.kcore(spark.createDataFrame(tri), k=2, max_rounds=0).count() == 6


def test_ppr_matches_python_twin_and_conserves_mass(spark):
    """ppr_integer equals a pure-python integer PPR (same floor-div
    grid) on seeded random symmetric graphs; total mass stays within
    the truncation bound below RANK_SCALE; unreachable nodes hold 0."""
    import random

    from pyspark.sql import Row

    SCALE = G.RANK_SCALE
    rng = random.Random(909)
    for trial in range(3):
        n = rng.randint(6, 12)
        und = set()
        for _ in range(rng.randint(n, 2 * n)):
            a, b = rng.sample(range(n), 2)
            und.add((a, b))
            und.add((b, a))
        # an isolated 2-cycle unreachable from low-numbered seeds
        und.add((100, 101))
        und.add((101, 100))
        edges = sorted(und)
        seeds = sorted({s for s, _ in edges})[:2]
        # python twin on the exact integer grid
        nodes = sorted({s for s, _ in edges})
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        k = len(seeds)
        r = {v: (SCALE // k if v in seeds else 0) for v in nodes}
        for _ in range(3):
            sums = {v: 0 for v in nodes}
            for s, d in edges:
                sums[d] += r[s] // outdeg[s]
            r = {
                v: (15 * SCALE // (100 * k) if v in seeds else 0)
                + 85 * sums[v] // 100
                for v in nodes
            }
        e_df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
        s_df = spark.createDataFrame([Row(node=s) for s in seeds])
        got = {
            row["node"]: row["rank_scaled"]
            for row in G.ppr_integer(e_df, s_df, iterations=3).collect()
        }
        assert got == r, trial
        # truncation-only mass loss, never gain
        assert sum(got.values()) <= SCALE
        assert sum(got.values()) >= SCALE - 100 * (len(edges) + len(nodes)) * 3
        # the isolated cycle is unreachable from the seeds -> exactly 0
        assert got[100] == 0 and got[101] == 0


def test_ppr_seed_validation(spark):
    """Seeds outside the graph are dropped; an empty intersection
    raises instead of silently returning all-zero ranks."""
    import pytest
    from pyspark.sql import Row

    e = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=1)]
    )
    # seed 99 is not in the graph: ignored, seed 1 carries the mass
    out = {
        r["node"]: r["rank_scaled"]
        for r in G.ppr_integer(
            e,
            spark.createDataFrame([Row(node=1), Row(node=99)]),
            iterations=1,
        ).collect()
    }
    assert out[2] > out[1] > 0  # all mass flowed 1 -> 2, teleport back to 1
    with pytest.raises(ValueError, match="no seed node"):
        G.ppr_integer(
            e, spark.createDataFrame([Row(node=99)]), iterations=1
        )


def test_label_propagation_matches_synchronous_reference(spark):
    """Two triangles bridged by one edge: communities must converge to
    the min label of each triangle, the bridge endpoints pulled by
    their own triangle's majority. Pinned against a pure-Python
    synchronous reference (most-frequent neighbor label, ties to the
    smallest, keep-label fallback) — the same rule the DuckDB oracle
    unrolls."""
    import pytest
    from pyspark.sql import Row

    und = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    pairs = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])

    def ref(pairs, rounds):
        from collections import Counter, defaultdict

        nbrs = defaultdict(list)
        for a, b in pairs:
            nbrs[a].append(b)
        labels = {n: n for n in nbrs}
        for _ in range(rounds):
            nxt = {}
            for n in labels:
                votes = Counter(labels[m] for m in nbrs[n])
                top = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
                nxt[n] = top[0]
            labels = nxt
        return labels

    for rounds in (1, 3, 5):
        got = {
            r["node"]: r["label"]
            for r in G.label_propagation(edges, rounds=rounds).collect()
        }
        assert got == ref(pairs, rounds), rounds
    # converged state: triangle 1 holds its min label; triangle 2 is
    # invaded through the bridge by node 2's label (node 10's round-1
    # vote ties {11, 12, 2} and the smallest wins), so the two
    # communities end up distinct but triangle 2's label is 2, not 10
    final = ref(pairs, 5)
    assert {final[0], final[1], final[2]} == {0}
    assert final[10] == final[11] == final[12] == 2

    with pytest.raises(ValueError, match="rounds"):
        G.label_propagation(edges, rounds=0)


def _kruskal(nodes, edges):
    # edges: (src, dst, w) canonical; unique total order (w, src, dst)
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = set()
    for w, s, d in sorted((w, s, d) for s, d, w in edges):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
            out.add((s, d))
    return out


def test_boruvka_forest_matches_kruskal_random(spark):
    import random

    from cust_sagemaker_feature_store_spark.operators.graph import boruvka_forest

    rng = random.Random(7)
    for trial in range(3):
        n = 30
        nodes = list(range(n))
        eset = set()
        while len(eset) < 45:
            a, b = rng.sample(nodes, 2)
            eset.add((min(a, b), max(a, b)))
        edges = [(s, d, rng.randrange(1, 12)) for s, d in sorted(eset)]
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        got = {
            (r["src"], r["dst"])
            for r in boruvka_forest(df, rounds=6).collect()
        }
        want = _kruskal(nodes, edges)
        assert got == want, f"trial {trial}: {got ^ want}"


def test_boruvka_forest_path_and_ties(spark):
    from cust_sagemaker_feature_store_spark.operators.graph import boruvka_forest

    # a path with ALL-EQUAL weights: tie-break by (src, dst) still
    # yields the unique spanning tree (n-1 edges, no cycle)
    path = [(i, i + 1, 5) for i in range(10)]
    df = spark.createDataFrame(path, "src long, dst long, w long")
    got = boruvka_forest(df, rounds=5).collect()
    assert {(r["src"], r["dst"]) for r in got} == {(i, i + 1) for i in range(10)}
    # two disjoint components -> a forest, one tree each
    two = [(0, 1, 1), (1, 2, 2), (0, 2, 3), (10, 11, 1)]
    df2 = spark.createDataFrame(two, "src long, dst long, w long")
    got2 = {(r["src"], r["dst"]) for r in boruvka_forest(df2, rounds=4).collect()}
    assert got2 == {(0, 1), (1, 2), (10, 11)}


def test_boruvka_forest_fractional_weights(spark):
    # ADVICE r10 #2 regression: the weight column keeps its native
    # type. The old cast-to-long truncated 2.9/2.1 both to 2, so the
    # (w, src, dst) tie-break picked the WRONG edge (1,2) instead of
    # (1,3). True MST of this triangle is {(2,3) w=1.95, (1,3) w=2.1}.
    from cust_sagemaker_feature_store_spark.operators.graph import boruvka_forest

    tri = [(1, 2, 2.9), (1, 3, 2.1), (2, 3, 1.95)]
    df = spark.createDataFrame(tri, "src long, dst long, w double")
    rows = boruvka_forest(df, rounds=4).collect()
    assert {(r["src"], r["dst"]) for r in rows} == {(2, 3), (1, 3)}
    # the weight comes back untruncated, in its native double type
    assert sorted(r["w"] for r in rows) == [1.95, 2.1]
