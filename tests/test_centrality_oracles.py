"""Eigenvector, Katz and weighted shortest path against pure-Python
oracles on a 200-vertex ER digraph, and a guard on the Catalyst size
estimate the superstep operators hand to their callers."""

import pytest
from pyspark.sql import functions as F

from lynxkite_spark.graph import Graph
from lynxkite_spark.operators.betweenness import betweenness_centrality, closeness_centrality
from lynxkite_spark.operators.centrality import (
    average_distance,
    eigenvector_centrality,
    harmonic_centrality,
    katz_centrality,
    lin_centrality,
)
from lynxkite_spark.operators.shortest_path import shortest_path
from tests.oracles import bellman_ford_oracle, eigenvector_oracle, katz_oracle
from tests.test_hyperball import _er_graph


def _weighted(g):
    """The same digraph with weights in {0.25, 0.5, …, 2.25}."""
    w = (F.pmod(F.xxhash64("dst", "src"), F.lit(9)) + 1).cast("double") / 4.0
    return Graph(vertices=g.vertices, edges=g.edges.withColumn("weight", w))


def _lists(g):
    vertices = [r["id"] for r in g.vertices.collect()]
    edges = [(r["src"], r["dst"], r["weight"]) for r in g.edges.collect()]
    return vertices, edges


def _sources(spark):
    return spark.createDataFrame([(0, 0.0), (1, 0.5)], "id long, distance double")


def test_eigenvector_fixed_iterations_matches_power_iteration(spark):
    g = _weighted(_er_graph(spark))
    vertices, edges = _lists(g)
    want = eigenvector_oracle(vertices, edges, iterations=7)
    got = {r["id"]: r["eigenvector"] for r in eigenvector_centrality(g, iterations=7).collect()}
    assert got == pytest.approx(want, rel=1e-9, abs=1e-15)


def test_katz_matches_its_recurrence(spark):
    g = _weighted(_er_graph(spark))
    vertices, edges = _lists(g)
    want = katz_oracle(vertices, edges, alpha=0.05, beta=1.0, iterations=12)
    got = {r["id"]: r["katz"] for r in katz_centrality(g, alpha=0.05, iterations=12).collect()}
    assert got == pytest.approx(want, rel=1e-9)


def test_weighted_shortest_path_matches_bellman_ford(spark):
    g = _weighted(_er_graph(spark))
    _, edges = _lists(g)
    want = bellman_ford_oracle(edges, {0: 0.0, 1: 0.5})
    got = {r["id"]: r["distance"] for r in shortest_path(g, _sources(spark), weighted=True).collect()}
    assert got == pytest.approx(want, rel=1e-12)
    # unweighted: hop counts from the same sources
    hops = bellman_ford_oracle([(s, d, 1.0) for s, d, _ in edges], {0: 0.0, 1: 0.5})
    assert {r["id"]: r["distance"] for r in shortest_path(g, _sources(spark)).collect()} == hops


# Decimal digits of the optimized plan's sizeInBytes estimate of each
# result on _er_graph(n=200). A round that joins its state with
# something derived from the same state squares the estimate every
# round (k-core on a 28-vertex path reaches 350,812 digits, and
# planning time grows with it); a round that joins the state with the
# edges only multiplies it, so the digits grow linearly with the rounds.
# The bounds are the figures of the hand-written loops these operators
# replaced, except for three: those loops cached a per-round table and
# never released it, and a cached table's estimate is its real size.
# Without the cache, eigenvector (the loop gave 8 digits in both
# modes) and betweenness (18) grow linearly too.
_ESTIMATE_DIGITS = {
    "eigenvector_tol": (lambda g, s: eigenvector_centrality(g), 41),
    "eigenvector_iterations": (lambda g, s: eigenvector_centrality(g, iterations=5), 28),
    "katz": (lambda g, s: katz_centrality(g), 92),
    "shortest_path": (lambda g, s: shortest_path(g, _sources(s)), 39),
    "shortest_path_weighted": (lambda g, s: shortest_path(_weighted(g), _sources(s), weighted=True), 57),
    "harmonic": (lambda g, s: harmonic_centrality(g), 23),
    "lin": (lambda g, s: lin_centrality(g), 23),
    "average_distance": (lambda g, s: average_distance(g), 23),
    "betweenness": (lambda g, s: betweenness_centrality(g), 32),
    "closeness": (lambda g, s: closeness_centrality(g), 19),
}


@pytest.mark.parametrize("name", sorted(_ESTIMATE_DIGITS))
def test_size_estimate_does_not_grow(spark, name):
    op, digits = _ESTIMATE_DIGITS[name]
    out = op(_er_graph(spark), spark)
    size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert len(str(size)) <= digits
