"""Sampled-source Brandes betweenness and closeness centrality.

The reference exposes both through NetworKit on one node
(/root/reference/sphynx/lynxkite-sphynx/networkit_compute_double_attribute.go:30-84
"Betweenness", "Closeness"; boxes in app/.../frontend_operations/
GraphComputationOperations.scala). Exact Brandes is O(V·E); the
distributable formulation is k-source Brandes (Brandes & Pich 2007,
"Centrality estimation in large networks"): run the forward
BFS/σ-counting and backward dependency accumulation from k sampled
roots SIMULTANEOUSLY — every DataFrame carries a ``root`` column, so
one round of the loop advances all k sources at once and the shuffle
volume is k·|frontier|, never |V|².

Forward (per hop): frontier σ-messages flow along edges, partial σ
sums combine map-side; visited set checked with a left-anti join.
Backward (per depth, deepest first): δ(v) += Σ_{w∈succ(v)}
σ(v)/σ(w) · (1 + δ(w)) — one join of the depth-d+1 state against the
reversed edges per level.

Root sampling is value-derived (smallest xxhash64(id, seed)) —
deterministic at any parallelism. The returned score scales the sum of
sampled dependencies by n/k (the standard unbiased estimator); with
k ≥ n every vertex is a root and the result is exact Brandes.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.iterate import run_supersteps


def _sample_roots(vertices: DataFrame, k: int, seed: int) -> DataFrame:
    return (
        vertices.select("id", F.xxhash64("id", F.lit(seed)).alias("_h"))
        .orderBy("_h", "id")
        .limit(k)
        .select(F.col("id").alias("root"))
    )


def _forward_bfs(
    e: DataFrame, sources: DataFrame, max_depth: int
) -> tuple[DataFrame, int]:
    """Multi-root BFS with path counting on the superstep driver, from
    ``sources`` = DataFrame[root, id] (each root's depth-0 vertices).
    Returns (state, reached_depth); state = DataFrame[root, id, d,
    sigma, depth] for every reached (root, id), where ``depth`` is the
    depth reached, the same on every row. A round expands the rows at
    ``d == depth``, drops the (root, id) pairs already reached and
    unions the rest in one level deeper; it stops at the first round
    that reaches nothing."""
    depth, stopped_at = 0, None

    def step(state: DataFrame, _: int) -> DataFrame:
        frontier = state.where(F.col("d") == F.col("depth"))
        nxt = (
            frontier.join(e, frontier.id == e.src)
            .groupBy("root", F.col("dst").alias("nid"))
            .agg(F.sum("sigma").alias("sigma"), (F.max("d") + 1).alias("d"))
            .select("root", F.col("nid").alias("id"), "d", "sigma", F.col("d").alias("depth"))
        )
        return state.select("root", "id", "d", "sigma", (F.col("depth") + 1).alias("depth")).unionByName(
            nxt.join(state.select("root", "id"), ["root", "id"], "left_anti")
        )

    def reached(new: DataFrame, old: DataFrame) -> tuple[bool, dict]:
        nonlocal depth, stopped_at
        if new.where(F.col("d") == F.col("depth")).count() == 0:
            # the round only appended an empty frontier: keep the state
            # before it, whose size estimate has one join factor fewer
            stopped_at = old
            return True, {"depth": depth}
        depth += 1
        return False, {"depth": depth}

    state = run_supersteps(
        sources.select("root", "id", F.lit(0).alias("d"), F.lit(1.0).alias("sigma"), F.lit(0).alias("depth")),
        step,
        limit=max_depth,
        changed=reached,
    )
    return (state if stopped_at is None else stopped_at), depth


@contextmanager
def _sampled_bfs(
    graph: Graph, k: int, max_depth: int, seed: int, roots: DataFrame | None
) -> Iterator[tuple[DataFrame, DataFrame, int, int, DataFrame, int]]:
    """The prologue betweenness and closeness share: symmetrize the
    edges, pin them and the vertex ids, count |V|, sample (or take) the
    roots and run the forward BFS from them. Yields (e, vertices, n,
    k_eff, state, depth); both pinned tables are released on exit."""
    # NOT pre-partitioned (tried in r6, reverted): pinning src- and
    # dst-partitioned copies saved the per-hop exchanges of the edge
    # table but disabled AQE's coalescing of the frontier-join stages,
    # which made the σ-sum partial aggregation compress worse — net
    # shuffle GREW (330→373 MB at sf0.1) and walls were flat-to-worse
    # across repeated A/B runs. Same effect as hyperball's merge join.
    e0 = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    e = (
        e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vertices = graph.vertices.select("id").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = vertices.count()
        if roots is None:
            k_eff = min(k, n)
            roots = _sample_roots(vertices, k_eff, seed)
        else:
            roots = roots.select(F.col(roots.columns[0]).alias("root"))
            k_eff = roots.count()
        state, depth = _forward_bfs(e, roots.select("root", F.col("root").alias("id")), max_depth)
        yield e, vertices, n, k_eff, state, depth
    finally:
        e.unpersist()
        vertices.unpersist()


def betweenness_centrality(
    graph: Graph,
    k: int = 16,
    max_depth: int = 10,
    seed: int = 11,
    normalized: bool = False,
    roots: DataFrame | None = None,
) -> DataFrame:
    """Sampled-source Brandes over the undirected simple graph
    (NetworKit's Betweenness convention: directed=false). Returns
    DataFrame[id, betweenness] — δ-dependencies summed over k roots,
    scaled by n/k (exact when k ≥ n)."""
    with _sampled_bfs(graph, k, max_depth, seed, roots) as (e, vertices, n, k_eff, state, depth):
        # backward accumulation, deepest level first: round r settles
        # level lvl = depth - r, a column, so every depth runs one plan;
        # delta starts at 0
        def back(delta: DataFrame, _: int) -> DataFrame:
            succ = delta.where(F.col("d") == F.col("lvl") + 1).select(
                "root",
                F.col("id").alias("dst"),
                F.col("sigma").alias("sigma_w"),
                F.col("delta").alias("delta_w"),
            )
            # v at depth d contributes along v→w edges to w at depth d+1
            contrib = (
                succ.join(e, "dst")
                .groupBy("root", F.col("src").alias("id"))
                .agg(F.sum((F.lit(1.0) + F.col("delta_w")) / F.col("sigma_w")).alias("_c"))
            )
            return delta.join(contrib.hint("shuffle_hash"), ["root", "id"], "left").select(
                "root",
                "id",
                "d",
                "sigma",
                F.when(F.col("d") == F.col("lvl"), F.col("delta") + F.col("sigma") * F.coalesce("_c", F.lit(0.0)))
                .otherwise(F.col("delta"))
                .alias("delta"),
                (F.col("lvl") - 1).alias("lvl"),
            )

        delta = run_supersteps(
            state.select("root", "id", "d", "sigma", F.lit(0.0).alias("delta"), (F.col("depth") - 1).alias("lvl")),
            back,
            limit=depth,
        )
    dep = (
        delta.where(F.col("d") > 0)
        .groupBy("id")
        .agg(F.sum("delta").alias("_dep"))
    )
    scale = float(n) / float(k_eff) if k_eff else 0.0
    if normalized and n > 2:
        scale /= (n - 1) * (n - 2)
    return (
        vertices.join(dep, "id", "left")
        .select(
            "id",
            (F.coalesce("_dep", F.lit(0.0)) * F.lit(scale)).alias("betweenness"),
        )
    )


def closeness_centrality(
    graph: Graph,
    k: int = 16,
    max_depth: int = 10,
    seed: int = 11,
    roots: DataFrame | None = None,
) -> DataFrame:
    """Sampled closeness (Eppstein-Wang estimator): from the same
    k-root BFS distances, closeness(v) ≈ (n − 1) / (n/k · Σ_{r} d(r, v))
    over the sampled roots that reach v (undirected graph: d(r,v) =
    d(v,r)). Exact harmonic-free NetworKit "Closeness" convention;
    unreachable vertices get 0."""
    with _sampled_bfs(graph, k, max_depth, seed, roots) as (_, vertices, n, k_eff, state, _):
        sums = state.where(F.col("d") > 0).groupBy("id").agg(F.sum("d").alias("sum_d"))
        return vertices.join(sums, "id", "left").select(
            "id",
            F.when(
                F.coalesce("sum_d", F.lit(0)) > 0,
                F.lit(float(n - 1)) / (F.lit(float(n) / float(k_eff)) * F.col("sum_d")),
            )
            .otherwise(F.lit(0.0))
            .alias("closeness"),
        )
