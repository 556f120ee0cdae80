"""Graph analytics: integer PageRank vs a literal Python model, triangle
counts vs brute force on random graphs, and the plan shapes."""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from data_engineering_assignment_spark.operators.graphs import (
    oriented_edges,
    pagerank_integer,
    triangle_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u string, v string")


def _model_pagerank(pairs, iters, scale=10**12, dn=17, dd=20):
    adj: dict[str, list[str]] = {}
    for u, v in pairs:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    base = scale * (dd - dn) // dd
    pr = {n: scale for n in adj}
    for _ in range(iters):
        nxt = {n: base for n in adj}
        for u, nbrs in adj.items():
            c = (pr[u] * dn) // (dd * len(nbrs))
            for v in nbrs:
                nxt[v] += c
        pr = nxt
    return pr


def test_pagerank_matches_python_model(spark):
    rng = random.Random(3)
    nodes = [f"n{i}" for i in range(12)]
    pairs = sorted(
        {tuple(sorted(rng.sample(nodes, 2))) for _ in range(25)}
    )
    for iters in (1, 3):
        got = {
            r.node: r.pr
            for r in pagerank_integer(_edges(spark, pairs), iters=iters).collect()
        }
        assert got == _model_pagerank(pairs, iters), iters


def test_pagerank_star_hub_ranks_highest(spark):
    pairs = [("hub", f"leaf{i}") for i in range(5)]
    pr = {
        r.node: r.pr
        for r in pagerank_integer(_edges(spark, pairs), iters=3).collect()
    }
    assert pr["hub"] > max(v for k, v in pr.items() if k != "hub")
    # leaves are symmetric: identical integer ranks, no float jitter
    assert len({v for k, v in pr.items() if k != "hub"}) == 1


def _model_triangles(pairs):
    es = {tuple(sorted(p)) for p in pairs}
    nodes = sorted({n for p in es for n in p})
    per = dict.fromkeys(nodes, 0)
    for a, b, c in itertools.combinations(nodes, 3):
        if ((a, b) in es) and ((b, c) in es) and ((a, c) in es):
            for n in (a, b, c):
                per[n] += 1
    return {n: c for n, c in per.items() if c}


def test_triangles_match_bruteforce_random(spark):
    rng = random.Random(11)
    nodes = [f"n{i:02d}" for i in range(14)]
    pairs = sorted(
        {tuple(sorted(rng.sample(nodes, 2))) for _ in range(45)}
    )
    got = {
        r.node: r.triangles
        for r in triangle_counts(_edges(spark, pairs), top_k=100).collect()
    }
    assert got == _model_triangles(pairs)


def test_orientation_is_a_bijection_on_edges(spark):
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    oe = oriented_edges(_edges(spark, pairs)).collect()
    assert len(oe) == len(pairs)
    assert {tuple(sorted((r.a, r.b))) for r in oe} == set(pairs)


def test_oriented_out_degree_bounded_on_star(spark):
    # a hub with 6 leaves: orientation must point every edge AT the hub,
    # leaving out-degree 1 per leaf — the skew-defense property
    pairs = [("hub", f"l{i}") for i in range(6)]
    oe = oriented_edges(_edges(spark, pairs)).collect()
    assert all(r.b == "hub" for r in oe)


def test_plan_shapes(spark, sf_dir):
    from data_engineering_assignment_spark.queries import load_catalog

    cat = load_catalog()
    tri_plan = (
        cat["part_copurchase_triangles"]
        .build(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert tri_plan.count("ShuffledHashJoin") >= 2
    assert "CartesianProduct" not in tri_plan
    assert "TakeOrderedAndProject" in tri_plan
    pr_plan = (
        cat["copurchase_pagerank"]
        .build(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in pr_plan
    assert "CartesianProduct" not in pr_plan


def test_kcore_peel_hand_computed(spark):
    """Triangle {1,2,3} + pendant 4-1 + path 5-4: the 2-core is exactly the
    triangle; round 1 peels {5}, round 2 peels {4}, then fixpoint."""
    from data_engineering_assignment_spark.operators.graphs import (
        kcore_peel_counts,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4), (4, 5)], "u long, v long"
    )
    row = kcore_peel_counts(edges, k=2, rounds=3).collect()[0]
    assert row.n_nodes_total == 5
    assert row.nodes_r1 == 4  # 5 has degree 1 -> peeled
    assert row.nodes_r2 == 3  # 4 drops to degree 1 once 5 is gone
    assert row.nodes_r3 == 3  # fixpoint: the triangle survives
    assert row.core_arcs == 6  # 3 undirected edges x 2 directions


def test_kcore_rounds_monotone_property(spark):
    """Survivor counts never increase across rounds, and a complete graph
    never peels below k+1 nodes."""
    import itertools

    from data_engineering_assignment_spark.operators.graphs import (
        kcore_peel_counts,
    )

    k5 = list(itertools.combinations(range(5), 2))
    edges = spark.createDataFrame(k5, "u long, v long")
    row = kcore_peel_counts(edges, k=4, rounds=3).collect()[0]
    assert row.n_nodes_total == row.nodes_r1 == row.nodes_r2 == row.nodes_r3 == 5
    assert row.core_arcs == 20


def _cc_model(pairs):
    """Union-find ground truth: node -> min id of its component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_star_matches_union_find_random(spark):
    from data_engineering_assignment_spark.operators.graphs import cc_star

    rng = random.Random(11)
    pairs = list(
        {
            (rng.randrange(60), rng.randrange(60))
            for _ in range(80)
        }
    )
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r.node: r.cluster for r in cc_star(df).collect()}
    assert got == _cc_model(pairs)


def test_cc_star_long_chain_converges_logarithmically(spark):
    """The adversarial case for min-label propagation: a 200-node path has
    diameter 199, so propagation needs ~200 rounds — the star algorithm
    must finish inside max_iter=12 (O(log n)) and still label every node
    with the chain minimum."""
    from data_engineering_assignment_spark.operators.graphs import cc_star

    n = 200
    pairs = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r.node: r.cluster for r in cc_star(df, max_iter=12).collect()}
    assert got == {i: 0 for i in range(n)}


def test_cc_star_agrees_with_label_propagation(spark):
    """cc_star gives the (node, cluster = component min) map that label
    propagation converges to, on a multi-component graph with different
    shapes (clique, chain, pair)."""
    from data_engineering_assignment_spark.operators.graphs import cc_star

    pairs = (
        [(a, b) for a, b in itertools.combinations([3, 9, 14, 20], 2)]  # clique
        + [(100, 101), (101, 102), (102, 103), (103, 104)]  # chain
        + [(500, 777)]  # pair
    )
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    star = {r.node: r.cluster for r in cc_star(df).collect()}
    assert star == _cc_model(pairs)


def _model_sssp(wedges, sources, rounds):
    """Literal Bellman-Ford model: dist after <= `rounds` relaxations."""
    dist = {s: 0 for s in sources}
    bi = [(u, v, w) for u, v, w in wedges] + [(v, u, w) for u, v, w in wedges]
    for _ in range(rounds):
        nxt = dict(dist)
        for u, v, w in bi:
            if u in dist and dist[u] + w < nxt.get(v, float("inf")):
                nxt[v] = dist[u] + w
        dist = nxt
    return dist


def test_sssp_hand_computed_and_hop_bounded(spark):
    from data_engineering_assignment_spark.operators.graphs import sssp_rounds

    # path 1-2-3-4-5 (weight 1 each) with a heavy shortcut 1-4 (weight 10):
    # within 3 rounds dist(4)=3 via the path; dist(5)=4 needs round 4;
    # with 1 round dist(4)=10 via the shortcut (hop-bound semantics)
    wedges = [(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1), (1, 4, 10)]
    edges = spark.createDataFrame(wedges, "u long, v long, w long")
    src = spark.createDataFrame([(1,)], "node long")
    for rounds, exp in [
        (1, {1: 0, 2: 1, 4: 10}),
        (3, {1: 0, 2: 1, 3: 2, 4: 3, 5: 11}),
        (4, {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}),
    ]:
        got = {
            r["node"]: r["dist"]
            for r in sssp_rounds(edges, src, rounds).collect()
        }
        assert got == exp, rounds
        assert got == _model_sssp(wedges, [1], rounds), rounds


def test_sssp_multi_source_random_vs_model(spark):
    from data_engineering_assignment_spark.operators.graphs import sssp_rounds

    rng = random.Random(11)
    nodes = list(range(40))
    wedges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (rng.sample(nodes, 2) for _ in range(90))
        }
    )
    wedges = [(u, v, rng.randint(1, 9)) for u, v in wedges]
    sources = [0, 7, 23]
    edges = spark.createDataFrame(wedges, "u long, v long, w long")
    src = spark.createDataFrame([(s,) for s in sources], "node long")
    got = {r["node"]: r["dist"] for r in sssp_rounds(edges, src, 4).collect()}
    assert got == _model_sssp(wedges, sources, 4)


def test_cc_star_raises_when_max_iter_exhausted(spark):
    """Returning labels from a non-fixed-point edge set would be silently
    wrong — the read-off is only valid at convergence, so exhausting
    max_iter must raise, not under-contract."""
    import pytest

    from data_engineering_assignment_spark.operators.graphs import cc_star

    pairs = [(i, i + 1) for i in range(39)]  # 40-chain: needs >1 round
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="max_iter"):
        cc_star(df, max_iter=1).collect()


def test_sssp_frontier_plan_keeps_partial_min(spark):
    """The per-round relaxation min must stay map-side combinable (a
    partial HashAggregate before the exchange) through the delta-frontier
    rewrite, and the frontier split must not plan a cartesian product."""
    from data_engineering_assignment_spark import plans
    from data_engineering_assignment_spark.operators.graphs import sssp_rounds

    wedges = [(1, 2, 1), (2, 3, 1), (3, 4, 1)]
    edges = spark.createDataFrame(wedges, "u long, v long, w long")
    src = spark.createDataFrame([(1,)], "node long")
    df = sssp_rounds(edges, src, rounds=2)
    assert plans.has_partial_aggregation(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_hits_integer_hand_computed(spark):
    """Three max-norm integer HITS iterations on a 4-node digraph,
    hand-computed: pure hubs keep score scale, the chain node decays by
    the floor-divided max-norm each round, sinks/sources carry 0 on the
    missing side; duplicate edges dedup."""
    from data_engineering_assignment_spark.operators.graphs import (
        hits_integer,
    )

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4), (1, 3)],  # duplicate edge dedups
        "src long, dst long",
    )
    got = {
        r.node: (r.hub, r.auth)
        for r in hits_integer(edges).collect()
    }
    assert got == {
        1: (1_000_000, 0),
        2: (1_000_000, 0),
        3: (125_000, 1_000_000),
        4: (0, 125_000),
    }
