"""K-path centrality — randomized self-avoiding-walk visit counts.

Reference: NetworKit "KPathCentrality" via the sphynx bridge
(/root/reference/sphynx/lynxkite-sphynx/networkit_compute_double_attribute.go:74-78),
the Alahakoon et al. randomized approximation: launch short
self-avoiding random walks (length ≤ k) from every vertex and score
each vertex by how often the walks visit it.

Distributed, deterministic formulation (same policy as
RandomWalkSample, sampling.py): the "randomness" is value-derived —
each walker at step s moves to the unvisited neighbor maximizing
hash(walker, step, neighbor). That makes the result identical at any
parallelism AND lets the DuckDB oracle replay every step exactly
(``hash_fn="portable"``). Each step is one gather join over the edge
table + a per-walker argmax — the PageRank shuffle shape; walker state
carries the ≤ k-element visited array (k is O(log n), so the state
stays tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.functions.dedup import portable_hash64
from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.iterate import run_supersteps


def kpath_centrality(
    graph: Graph,
    k: int = 6,
    walks_per_vertex: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Visit counts from ``walks_per_vertex`` self-avoiding ≤ k-step
    walks per start vertex (start vertex itself not counted).
    Returns DataFrame[id, kpath: bigint]; unvisited vertices get 0.

    Walker state [wid, pos, visited] on the superstep driver; a walker
    with no unvisited neighbour stays in it with ``pos`` null. The step
    number is ``size(visited)``, so every round runs the same plan."""
    vertices = graph.vertices.select("id")
    pinned = []

    def setup() -> DataFrame:
        e0 = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
        e = (
            e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        pinned.append(e)
        return vertices.select(
            F.explode(F.array(*[F.lit(w) for w in range(walks_per_vertex)])).alias("w"), "id"
        ).select(
            (F.col("id") * walks_per_vertex + F.col("w")).alias("wid"),
            F.col("id").alias("pos"),
            F.array("id").alias("visited"),
        )

    def step(walkers: DataFrame, _: int) -> DataFrame:
        e = pinned[0]
        s = F.size("visited")
        if hash_fn == "portable":
            h = portable_hash64(F.concat_ws("_", F.col("wid"), F.col("dst")), s)
        else:
            h = F.xxhash64("wid", s, "dst")
        # dead walkers (pos null) match no edge and keep their row
        fresh = F.col("dst").isNotNull() & ~F.array_contains(F.col("visited"), F.col("dst"))
        nxt = (
            walkers.join(e, walkers.pos == e.src, "left")
            .groupBy("wid")
            .agg(
                F.max_by("dst", F.when(fresh, F.struct(h, F.col("dst")))).alias("pos"),
                F.first("visited").alias("visited"),
            )
        )
        return nxt.select(
            "wid",
            "pos",
            F.when(F.col("pos").isNull(), F.col("visited"))
            .otherwise(F.concat("visited", F.array("pos")))
            .alias("visited"),
        )

    def live(new: DataFrame, old: DataFrame) -> tuple[bool, dict]:
        n = new.where(F.col("pos").isNotNull()).count()
        return n == 0, {"walkers": n}

    walkers = run_supersteps(setup, step, limit=k, changed=live, pinned=pinned)
    counts = (
        walkers.select(F.explode(F.slice("visited", 2, F.size("visited"))).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("kpath"))
    )
    return (
        vertices.join(counts, "id", "left")
        .select("id", F.coalesce("kpath", F.lit(0)).cast("long").alias("kpath"))
    )
