"""Random-walk graph sampling.

Reference: /root/reference/app/.../graph_operations/RandomWalkSample.scala
(203 LoC) — many parallel walkers start from random vertices, walk with a
geometric abortion probability, and the visited set is the sample
(outputs `vertexFirstVisited` / `edgeFirstTraversed` order attributes,
RandomWalkSample.scala:30-33). Its randomness is seed + partition
dependent.

This engine's variant keeps the walker/step/restart shape but replaces
the RNG with value-derived pseudo-randomness (``xxhash64`` of
(seed, walker, step, candidate)) so the sample is **identical at any
parallelism** — the same discipline as the rest of the engine
(SURVEY.md §4.2). Each step is one gather join (walkers ⋈ edges) plus a
per-walker ``max_by`` — the same shuffle shape as PageRank, so it scales
the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.operators.betweenness import _forward_bfs
from lynxkite_spark.plans.iterate import run_supersteps


def random_walk_sample(
    graph: Graph,
    num_walkers: int = 8,
    max_steps: int = 20,
    restart_probability: float = 0.15,
    seed: int = 42,
) -> DataFrame:
    """Deterministic random-walk sample.

    ``num_walkers`` walkers start from the hash-minimal vertices; each
    step every walker either restarts at its start vertex (when the step
    hash falls below ``restart_probability``) or moves to the neighbor
    with the maximal step hash. Returns DataFrame[id, first_visited]
    where ``first_visited`` is the earliest step the vertex was visited
    (the reference's `vertexFirstVisited` semantics); unvisited vertices
    are absent.

    Walker state [walker, start, pos, path] on the superstep driver; the
    step number is ``size(path)``, so every round runs the same plan,
    and ``first_visited`` is a vertex's smallest index in any path.
    """
    assert 0.0 <= restart_probability < 1.0
    pinned = []

    def setup() -> DataFrame:
        pinned.append(graph.edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK))
        return (
            graph.vertices.select("id")
            .orderBy(F.xxhash64(F.lit(seed), "id"))
            .limit(num_walkers)
            .select(
                F.row_number().over(Window.orderBy("id")).alias("walker"),
                F.col("id").alias("start"),
                F.col("id").alias("pos"),
                F.array("id").alias("path"),
            )
        )

    def step(walkers: DataFrame, _: int) -> DataFrame:
        e = pinned[0]
        s = F.size("path")  # the step number: the path holds the start and one vertex per step
        moved = (
            walkers.join(e, walkers.pos == e.src, "left")
            .groupBy("walker", "start", "pos")
            .agg(
                F.max_by("dst", F.xxhash64(F.lit(seed), s, F.col("walker"), F.col("dst"))).alias("nxt"),
                F.first("path").alias("path"),
            )
        )
        restart = F.pmod(F.xxhash64(F.lit(seed), s, F.col("walker")), F.lit(10_000)) < F.lit(
            int(restart_probability * 10_000)
        )
        pos = F.when(restart | F.col("nxt").isNull(), F.col("start")).otherwise(F.col("nxt"))
        return moved.select("walker", "start", pos.alias("pos"), F.concat("path", F.array(pos)).alias("path"))

    walkers = run_supersteps(setup, step, limit=max_steps, pinned=pinned)
    return (
        walkers.select(F.posexplode("path").alias("first_visited", "id"))
        .groupBy("id")
        .agg(F.min("first_visited").alias("first_visited"))
    )


def vertex_neighborhood(
    graph, center_ids: list, radius: int = 1, max_count: int | None = None
):
    """ComputeVertexNeighborhood.scala — the vertices within ``radius``
    hops of the given centers (ego net), as DataFrame[id, distance]:
    betweenness' multi-root BFS with every center a source of one root;
    ``max_count`` caps the result like the reference's sampled view
    budget (nearest hops kept first, ties broken by id)."""
    spark = graph.vertices.sparkSession
    e = graph.edges.select("src", "dst")
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    sources = spark.createDataFrame([(0, int(i)) for i in center_ids], "root long, id long")
    state, _ = _forward_bfs(sym, sources, radius)
    seen = state.select("id", F.col("d").alias("distance"))
    if max_count is not None:
        w = Window.orderBy("distance", "id")
        seen = (
            seen.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= max_count)
            .drop("_r")
        )
    return seen


def vertex_bucket_grid(
    vertices, x_attr: str, y_attr: str, x_buckets: int = 4, y_buckets: int = 4
):
    """VertexBucketGrid.scala — the 2-D bucket histogram behind the
    reference's bucketed graph view: equal-width buckets over the two
    attributes' ranges, count per cell. One aggregation, min/max from a
    single stats pass. Returns [x_bucket, y_bucket, count]."""
    stats = vertices.agg(
        F.min(x_attr).alias("xlo"), F.max(x_attr).alias("xhi"),
        F.min(y_attr).alias("ylo"), F.max(y_attr).alias("yhi"),
    ).first()
    xw = (stats["xhi"] - stats["xlo"]) / x_buckets or 1.0
    yw = (stats["yhi"] - stats["ylo"]) / y_buckets or 1.0
    xb = F.least(
        F.floor((F.col(x_attr) - stats["xlo"]) / xw), F.lit(x_buckets - 1)
    ).cast("int")
    yb = F.least(
        F.floor((F.col(y_attr) - stats["ylo"]) / yw), F.lit(y_buckets - 1)
    ).cast("int")
    return (
        vertices.where(F.col(x_attr).isNotNull() & F.col(y_attr).isNotNull())
        .groupBy(xb.alias("x_bucket"), yb.alias("y_bucket"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
