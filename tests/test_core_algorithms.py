"""Core algorithm correctness vs pure-Python oracles (SURVEY.md §5).

Mirrors the reference's unit-test style: tiny fixture graphs, assert
collected maps (e.g. /root/reference/test/.../PageRankTest.scala:9-20,
ConnectedComponentsTest.scala:41-75)."""

import random

import pytest

from lynxkite_spark.graph import Graph, example_graph, graph_from_adjacency
from lynxkite_spark.operators import (
    connected_components,
    degree,
    label_propagation,
    pagerank,
    shortest_path,
    triangle_count,
)
from tests.oracles import (
    components_oracle,
    lpa_oracle,
    pagerank_oracle,
    triangles_oracle,
)


def random_graph(n: int, m: int, seed: int) -> tuple[list[int], list[tuple[int, int]]]:
    rng = random.Random(seed)
    vertices = list(range(n))
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    return vertices, edges


def as_graph(spark, vertices, edges, weights=None):
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    if weights is not None:
        e = spark.createDataFrame(
            [(s, d, w) for (s, d), w in zip(edges, weights)], "src long, dst long, weight double"
        )
    else:
        e = spark.createDataFrame(edges, "src long, dst long")
    return Graph(vertices=v, edges=e)


# ---------------------------------------------------------------- PageRank


def test_pagerank_example_graph_reference_ranges(spark):
    """The reference's own assertion: PageRank(0.5, 3 iters, weighted) on
    the example graph → ranks in (1,2) for Adam/Eve, (0,1) for Bob/Joe
    (PageRankTest.scala:9-20)."""
    g = example_graph(spark)
    pr = {r["id"]: r["pagerank"] for r in pagerank(g, damping=0.5, iterations=3, tol=None).collect()}
    assert 1 < pr[0] < 2 and 1 < pr[1] < 2
    assert 0 < pr[2] < 1 and 0 < pr[3] < 1


def test_pagerank_matches_oracle_fixed_iterations(spark):
    g = example_graph(spark)
    pr = {r["id"]: r["pagerank"] for r in pagerank(g, damping=0.85, iterations=5, tol=None).collect()}
    oracle = pagerank_oracle(
        [0, 1, 2, 3],
        [(0, 1, 1.0), (1, 0, 2.0), (2, 0, 3.0), (2, 1, 4.0)],
        damping=0.85,
        iterations=5,
    )
    for v in oracle:
        assert pr[v] == pytest.approx(oracle[v], abs=1e-9)


def test_pagerank_convergence_matches_oracle_random_graph(spark):
    vertices, edges = random_graph(60, 240, seed=7)
    weights = [float((i % 5) + 1) for i in range(len(edges))]
    g = as_graph(spark, vertices, edges, weights)
    pr = {r["id"]: r["pagerank"] for r in pagerank(g, damping=0.85, tol=1e-6).collect()}
    oracle = pagerank_oracle(
        vertices, [(s, d, w) for (s, d), w in zip(edges, weights)], damping=0.85, tol=1e-6
    )
    assert set(pr) == set(oracle)
    for v in oracle:
        assert pr[v] == pytest.approx(oracle[v], abs=1e-5)


def test_pagerank_mass_conservation(spark):
    """Total rank mass stays |V| (init 1.0/vertex + uniform redistribution,
    PageRank.scala:70-88)."""
    vertices, edges = random_graph(40, 100, seed=3)
    g = as_graph(spark, vertices, edges)
    total = sum(r["pagerank"] for r in pagerank(g, iterations=4, tol=None).collect())
    assert total == pytest.approx(len(vertices), abs=1e-6)


# ------------------------------------------------- Connected components


@pytest.mark.parametrize("algorithm", ["star", "minlabel"])
def test_components_line_and_isolated(spark, algorithm):
    """Reference test shape: path graph + isolated vertex
    (ConnectedComponentsTest.scala:48-75); labels are canonical minima."""
    g = graph_from_adjacency(spark, {0: [1], 1: [2], 2: [], 5: []})
    got = {r["id"]: r["component"] for r in connected_components(g, algorithm=algorithm).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 5: 5}


@pytest.mark.parametrize("algorithm", ["star", "minlabel"])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_components_random_vs_oracle(spark, algorithm, seed):
    vertices, edges = random_graph(80, 90, seed=seed)
    g = as_graph(spark, vertices, edges)
    got = {r["id"]: r["component"] for r in connected_components(g, algorithm=algorithm).collect()}
    assert got == components_oracle(vertices, edges)


def test_components_long_path_star(spark):
    """A 64-long path: star contraction must converge in O(log n) rounds,
    not O(diameter)."""
    n = 64
    g = graph_from_adjacency(spark, {i: [i + 1] for i in range(n - 1)})
    got = {r["id"]: r["component"] for r in connected_components(g, algorithm="star", max_iterations=12).collect()}
    assert got == {i: 0 for i in range(n)}


def test_components_star_stops_at_first_star_forest(spark, tmp_path):
    """Star CC stops in the round whose edge set (oriented src > dst) is
    a star forest, without a second round to see that nothing changed."""
    from lynxkite_spark.operators.components import _star_forest
    from lynxkite_spark.plans.checkpoint import CheckpointManager, step_key

    def check(pairs):
        e = spark.createDataFrame(pairs, "src long, dst long")
        stop, record = _star_forest(e, e)
        return stop, record["not_star"]

    assert check([(1, 0), (2, 0), (4, 3), (5, 3)]) == (True, 0)  # two stars
    assert check([(2, 0), (2, 1)]) == (False, 1)  # leaf 2 has two centres
    assert check([(2, 1), (1, 0)]) == (False, 1)  # chain: leaf 2 -> centre 1 -> centre 0
    assert check([(2, 0), (2, 1), (5, 3), (5, 4)]) == (False, 2)  # leaves 2 and 5 have two centres each

    g = graph_from_adjacency(spark, {0: [1, 2, 3]})  # already a star
    cp = CheckpointManager(spark, str(tmp_path / "cc_star"))
    got = connected_components(g, algorithm="star", checkpoint=cp, checkpoint_every=1, input_fingerprint="star")
    assert {r["id"]: r["component"] for r in got.collect()} == {i: 0 for i in range(4)}
    params = {"algorithm": "star", "max_iterations": 50}
    assert not cp.exists(step_key("star", "cc", params, 2))
    assert [h["iteration"] for h in cp.metrics(step_key("star", "cc", params, 1))["metrics"]["history"]] == [1]


def test_components_multigraph_parity(spark):
    """Star CC starts from the input edges as they are, neither
    symmetrized nor deduplicated: duplicate edges, both orientations of
    an edge, self-loops and isolated vertices give the oracle's labels on
    both algorithms, and star's first round yields each edge once, the
    same set as from the symmetrized, distinct edges."""
    from collections import Counter

    from lynxkite_spark.operators.components import _large_star, _small_star, _symmetrized

    pairs = [(1, 2), (1, 2), (2, 1), (2, 3), (3, 3), (4, 4), (6, 5), (5, 6), (6, 5), (7, 6), (9, 8), (8, 9), (9, 9)]
    vertices = list(range(12))  # 0, 10 and 11 isolated; 4 has only a loop
    g = as_graph(spark, vertices, pairs)
    endpoints = sorted({v for p in pairs for v in p})
    for graph, ids in ((g, vertices), (Graph.from_edges(g.edges), endpoints)):
        want = components_oracle(ids, pairs)
        for algorithm in ("star", "minlabel"):
            got = {r["id"]: r["component"] for r in connected_components(graph, algorithm=algorithm).collect()}
            assert got == want, algorithm

    def round1(e):
        return Counter(tuple(r) for r in _small_star(_large_star(e)).collect())

    raw = round1(g.edges)
    assert raw == round1(_symmetrized(g.edges))
    assert set(raw.values()) == {1}


def test_star_round_plans_three_shuffles_and_no_broadcast(spark):
    """One star round takes its minima as windows: it plans exactly three
    shuffle exchanges (large-star's window, small-star's window, the
    distinct) and no broadcast, whatever the state's size."""
    import re

    from lynxkite_spark.operators.components import _large_star, _small_star

    e = spark.createDataFrame([(1, 2), (2, 3), (5, 4)], "src long, dst long").localCheckpoint()
    plan = _small_star(_large_star(e))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    assert len(re.findall(r"^[\s:|+-]*Exchange ", plan, re.MULTILINE)) == 3, plan


# ----------------------------------------------------------- Triangles


def test_triangles_example_graph(spark):
    """Example graph: 0↔1, 2→0, 2→1 → one triangle {0,1,2}; Joe has none."""
    g = example_graph(spark)
    got = {r["id"]: r["triangles"] for r in triangle_count(g).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 0}
    both = {r["id"]: r["triangles"] for r in triangle_count(g, needs_both_directions=True).collect()}
    assert both == {0: 0, 1: 0, 2: 0, 3: 0}


@pytest.mark.parametrize("both", [False, True])
@pytest.mark.parametrize("seed", [11, 12])
def test_triangles_random_vs_oracle(spark, both, seed):
    vertices, edges = random_graph(50, 300, seed=seed)
    g = as_graph(spark, vertices, edges)
    got = {r["id"]: r["triangles"] for r in triangle_count(g, needs_both_directions=both).collect()}
    oracle = triangles_oracle(edges, both_directions=both)
    for v in vertices:
        assert got[v] == oracle.get(v, 0), f"vertex {v}"


# ------------------------------------------------------------------ LPA


def test_lpa_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge → two communities."""
    adj = {i: [j for j in range(4) if j > i] for i in range(4)}
    adj.update({i: [j for j in range(4, 8) if j > i] for i in range(4, 8)})
    adj[3] = adj.get(3, []) + [4]
    g = graph_from_adjacency(spark, adj)
    got = {r["id"]: r["label"] for r in label_propagation(g).collect()}
    assert len({got[i] for i in range(4)}) == 1
    assert len({got[i] for i in range(4, 8)}) == 1


@pytest.mark.parametrize("seed", [21, 22])
def test_lpa_matches_deterministic_oracle(spark, seed):
    vertices, edges = random_graph(40, 120, seed=seed)
    g = as_graph(spark, vertices, edges)
    got = {r["id"]: r["label"] for r in label_propagation(g, max_iterations=10).collect()}
    oracle = lpa_oracle(vertices, edges, max_iterations=10)
    assert got == oracle


# -------------------------------------------------------------- Degrees


def test_degrees_example_graph(spark):
    """Golden degree table from GraphMetricsTest.scala:24-75 semantics."""
    g = example_graph(spark)
    out = {r["id"]: r["degree"] for r in degree(g, "out").collect()}
    inn = {r["id"]: r["degree"] for r in degree(g, "in").collect()}
    alln = {r["id"]: r["degree"] for r in degree(g, "all").collect()}
    sym = {r["id"]: r["degree"] for r in degree(g, "symmetric").collect()}
    assert out == {0: 1, 1: 1, 2: 2, 3: 0}
    assert inn == {0: 2, 1: 2, 2: 0, 3: 0}
    assert alln == {0: 3, 1: 3, 2: 2, 3: 0}
    assert sym == {0: 1, 1: 1, 2: 0, 3: 0}


# -------------------------------------------------------- Shortest path


def test_shortest_path_hops(spark):
    g = graph_from_adjacency(spark, {0: [1], 1: [2], 2: [3], 4: []})
    sources = spark.createDataFrame([(0, 0.0)], "id long, distance double")
    got = {r["id"]: r["distance"] for r in shortest_path(g, sources).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}  # vertex 4 unreached → absent
