"""Centrality measures beyond PageRank.

The reference ships eigenvector/Katz/harmonic/etc. through NetworKit on
a single node (/root/reference/app/.../graph_operations/NetworKit.scala,
sphynx/lynxkite-sphynx/networkit_compute_double_attribute.go:30-84).
Those that are power iterations distribute naturally as DataFrame
gather-scatter loops — same shape as PageRank (SURVEY.md §2.2 notes
"Eigenvector ≈ our PageRank loop without damping redistribution").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.operators.betweenness import _forward_bfs
from lynxkite_spark.plans.iterate import broadcasts, run_supersteps


def _gather(e: DataFrame, x: DataFrame, small: bool) -> DataFrame:
    """A·x as DataFrame[dst, ax]: the (weighted) sum of ``x`` over each
    vertex's in-edges. Broadcast only truly small state: building a
    broadcast relation is a serial driver step per round (see
    pagerank.py)."""
    lookup = x.select(F.col("id").alias("src"), "x")
    gathered = e.join(F.broadcast(lookup) if small else lookup, "src")
    return gathered.groupBy("dst").agg(F.sum(F.col("x") * F.col("weight")).alias("ax"))


def _l1_norm(x: DataFrame) -> DataFrame:
    """One row [n1]: ‖x‖₁ over column ``x``."""
    return x.agg(F.sum(F.abs(F.col("x"))).alias("n1"))


def _over_n1(value: Column) -> Column:
    return F.when(F.col("n1") > 0, value / F.col("n1")).otherwise(F.lit(0.0))


def _l1_normalized(x: DataFrame) -> DataFrame:
    """DataFrame[id, x] scaled to ‖x‖₁ = 1, or 0 everywhere when ‖x‖₁ = 0."""
    return x.crossJoin(F.broadcast(_l1_norm(x))).select("id", _over_n1(F.col("x")).alias("x"))


def eigenvector_centrality(
    graph: Graph,
    tol: float = 1e-6,
    max_iterations: int = 100,
    iterations: int | None = None,
) -> DataFrame:
    """Power iteration x' = A·x / ‖A·x‖₁ over the (weighted) adjacency;
    returns DataFrame[id, eigenvector] normalized to sum 1. Vertices with
    no in-edges converge to 0."""
    g = graph.with_weight()
    e = g.edges.select("src", "dst", "weight").persist(StorageLevel.MEMORY_AND_DISK)
    vertices = g.vertices.select("id").persist(StorageLevel.MEMORY_AND_DISK)
    n = vertices.count()
    small = broadcasts(n)

    def step(x: DataFrame, k: int) -> DataFrame:
        # The state is the iterate before its normalization, and
        # A·(x/‖x‖₁) = (A·x)/‖x‖₁: the norm is read off the materialized
        # state, so A·x has one reference and the gather runs once (AQE
        # reuses no exchange above a cached scan, so a second reference
        # would run it again). Built on the pinned vertex table: a round
        # that joins the state with its own derivative squares
        # Catalyst's size estimate every round.
        ax = _gather(e, x, small)
        return (
            vertices.crossJoin(F.broadcast(_l1_norm(x)))
            .join(ax, vertices.id == ax.dst, "left")
            .select("id", _over_n1(F.coalesce(F.col("ax"), F.lit(0.0))).alias("x"))
        )

    def delta(new: DataFrame, old: DataFrame) -> tuple[bool, dict]:
        x_old = _l1_normalized(old)
        d = (
            _l1_normalized(new).alias("n")
            .join((F.broadcast(x_old) if small else x_old).alias("o"), "id")
            .agg(F.max(F.abs(F.col("n.x") - F.col("o.x"))).alias("d"))
            .first()["d"]
        )
        return d is not None and d < tol, {"max_delta": d}

    limit = iterations if iterations is not None else max_iterations
    x = run_supersteps(
        vertices.select("id", F.lit(1.0).alias("x")),  # normalizes to 1/n
        step,
        limit=limit if n else 0,  # an empty graph runs no rounds
        changed=delta if iterations is None else None,
        pinned=[e, vertices],
    )
    return _l1_normalized(x).select("id", F.col("x").alias("eigenvector"))


def katz_centrality(
    graph: Graph,
    alpha: float = 0.1,
    beta: float = 1.0,
    iterations: int = 20,
) -> DataFrame:
    """Katz: x' = α·Aᵀx + β, fixed iterations (converges for
    α < 1/λ_max). Returns DataFrame[id, katz]."""
    g = graph.with_weight()
    e = g.edges.select("src", "dst", "weight").persist(StorageLevel.MEMORY_AND_DISK)
    vertices = g.vertices.select("id").persist(StorageLevel.MEMORY_AND_DISK)
    small = broadcasts(vertices.count())

    def step(x: DataFrame, k: int) -> DataFrame:
        ax = _gather(e, x, small)
        return vertices.join(ax, vertices.id == ax.dst, "left").select(
            "id", (F.lit(alpha) * F.coalesce(F.col("ax"), F.lit(0.0)) + F.lit(beta)).alias("x")
        )

    x = run_supersteps(
        vertices.select("id", F.lit(beta).alias("x")), step, limit=iterations, pinned=[e, vertices]
    )
    return x.select("id", F.col("x").alias("katz"))


def _reached(graph: Graph, max_distance: int) -> DataFrame:
    """Exact BFS closure up to ``max_distance`` hops: DataFrame
    [root, v, d] with d the shortest distance root→v along edge
    direction (so grouping by ``v`` measures the *coreachable* set, the
    orientation the reference's HyperBall uses,
    /root/reference/app/.../graph_operations/HyperBallCentrality.scala:110+).
    It is betweenness' multi-root BFS with every vertex a root, over the
    directed, deduplicated edges.

    NOTE: exact all-pairs state is O(n²) worst case — this is the
    small-graph path (the reference's equivalent runs in NetworKit /
    HyperBall on one node, the same budget); the 100 TB path would use
    HLL frontier sketches (SURVEY.md §2.2)."""
    e = (
        graph.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        state, _ = _forward_bfs(e, graph.vertices.select(F.col("id").alias("root"), "id"), max_distance)
    finally:
        e.unpersist()
    return state.select("root", F.col("id").alias("v"), "d")


def harmonic_centrality(
    graph: Graph, max_distance: int = 10
) -> DataFrame:
    """Exact harmonic centrality Σ 1/d(u,v) up to ``max_distance`` hops
    (reference: HyperBallCentrality "Harmonic",
    HyperBallCentrality.scala:57-66, approximated there via HLL)."""
    reached = _reached(graph, max_distance)
    harm = (
        reached.where(F.col("d") > 0)
        .groupBy("v")
        .agg(F.sum(1.0 / F.col("d")).alias("harmonic"))
    )
    return (
        graph.vertices.select("id")
        .join(harm, graph.vertices.id == harm.v, "left")
        .select("id", F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"))
    )


def lin_centrality(graph: Graph, max_distance: int = 10) -> DataFrame:
    """Lin's index up to ``max_distance`` hops: |coreachable|² / Σ d,
    1.0 for vertices with an empty coreachable set — exactly the
    reference's convention (HyperBallCentrality.scala:68-84).
    Returns DataFrame[id, lin]."""
    reached = _reached(graph, max_distance)
    agg = reached.groupBy("v").agg(
        F.count("*").alias("size"), F.sum("d").alias("sum_d")
    )
    return (
        graph.vertices.select("id")
        .join(agg, graph.vertices.id == agg.v, "left")
        .select(
            "id",
            F.when(
                F.coalesce(F.col("sum_d"), F.lit(0)) == 0, F.lit(1.0)
            )
            .otherwise(
                (F.col("size").cast("double") * F.col("size")) / F.col("sum_d")
            )
            .alias("lin"),
        )
    )


def average_distance(graph: Graph, max_distance: int = 10) -> DataFrame:
    """Average distance from the coreachable set (0.0 when only the
    vertex itself reaches it — HyperBallCentrality.scala:86-100).
    Returns DataFrame[id, average_distance]."""
    reached = _reached(graph, max_distance)
    agg = reached.groupBy("v").agg(
        F.count("*").alias("size"), F.sum("d").alias("sum_d")
    )
    return (
        graph.vertices.select("id")
        .join(agg, graph.vertices.id == agg.v, "left")
        .select(
            "id",
            F.when(F.coalesce(F.col("size"), F.lit(1)) <= 1, F.lit(0.0))
            .otherwise(F.col("sum_d") / (F.col("size") - 1))
            .alias("average_distance"),
        )
    )


def _symmetric_simple(graph: Graph) -> DataFrame:
    """Undirected simple adjacency [src, dst]: direction ignored,
    loops and parallel edges dropped (NetworKit's convention for the
    degree-based centralities)."""
    e = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def sfigality(graph: Graph) -> DataFrame:
    """Sfigality: the fraction of a vertex's neighbors that have a
    strictly higher degree (reference ships it via NetworKit,
    networkit_compute_double_attribute.go:30-84). Degree = distinct
    undirected neighbors. Isolated vertices → 0.0.
    Returns DataFrame[id, sfigality]."""
    sym = _symmetric_simple(graph).persist(StorageLevel.MEMORY_AND_DISK)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    pairs = (
        sym.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("deg_s")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("deg_d")), "dst")
    )
    sf = pairs.groupBy(F.col("src").alias("id")).agg(
        (
            F.sum(F.when(F.col("deg_d") > F.col("deg_s"), 1).otherwise(0))
            / F.count("*")
        ).alias("sfigality")
    )
    out = (
        graph.vertices.select("id")
        .join(sf, "id", "left")
        .select("id", F.coalesce("sfigality", F.lit(0.0)).alias("sfigality"))
    )
    sym.unpersist()
    return out


def laplacian_centrality(graph: Graph) -> DataFrame:
    """Unweighted Laplacian centrality (raw form): the drop in the
    graph's Laplacian energy when the vertex is removed,
    LC(v) = deg(v)² + deg(v) + 2·Σ_{u∈N(v)} deg(u)
    (Qi et al. 2012; reference ships it via NetworKit). Degree = distinct
    undirected neighbors. Returns DataFrame[id, laplacian]."""
    sym = _symmetric_simple(graph).persist(StorageLevel.MEMORY_AND_DISK)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    nsum = (
        sym.join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("deg_d")), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum("deg_d").alias("nbr_deg_sum"))
    )
    out = (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .join(nsum, "id", "left")
        .select(
            "id",
            (
                F.coalesce(F.col("deg"), F.lit(0)) * F.coalesce(F.col("deg"), F.lit(0))
                + F.coalesce(F.col("deg"), F.lit(0))
                + 2 * F.coalesce(F.col("nbr_deg_sum"), F.lit(0))
            )
            .cast("double")
            .alias("laplacian"),
        )
    )
    sym.unpersist()
    return out
