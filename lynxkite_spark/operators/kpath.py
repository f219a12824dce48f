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


def kpath_centrality(
    graph: Graph,
    k: int = 6,
    walks_per_vertex: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Visit counts from ``walks_per_vertex`` self-avoiding ≤ k-step
    walks per start vertex (start vertex itself not counted).
    Returns DataFrame[id, kpath: bigint]; unvisited vertices get 0."""
    e0 = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    e = (
        e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vertices = graph.vertices.select("id")
    try:
        walkers = vertices.select(
            F.explode(
                F.array(*[F.lit(w) for w in range(walks_per_vertex)])
            ).alias("w"),
            "id",
        ).select(
            (F.col("id") * walks_per_vertex + F.col("w")).alias("wid"),
            F.col("id").alias("pos"),
            F.array("id").alias("visited"),
        ).localCheckpoint(eager=True)

        visits = []
        for s in range(1, k + 1):
            cand = walkers.join(e, walkers.pos == e.src).where(
                ~F.array_contains(F.col("visited"), F.col("dst"))
            )
            if hash_fn == "portable":
                h = portable_hash64(
                    F.concat_ws("_", F.col("wid"), F.col("dst")), s
                )
            else:
                h = F.xxhash64("wid", F.lit(s), "dst")
            step = cand.groupBy("wid").agg(
                F.max_by(F.struct(F.col("dst"), F.col("visited")), F.struct(h, F.col("dst"))).alias(
                    "c"
                )
            )
            walkers = step.select(
                "wid",
                F.col("c.dst").alias("pos"),
                F.concat(F.col("c.visited"), F.array(F.col("c.dst"))).alias("visited"),
            ).localCheckpoint(eager=True)
            visits.append(walkers.select(F.col("pos").alias("id")))
            if walkers.limit(1).count() == 0:
                break
    finally:
        e.unpersist()
    if not visits:
        return vertices.select("id", F.lit(0).cast("long").alias("kpath"))
    all_visits = visits[0]
    for v in visits[1:]:
        all_visits = all_visits.unionByName(v)
    counts = all_visits.groupBy("id").agg(F.count(F.lit(1)).alias("kpath"))
    return (
        vertices.join(counts, "id", "left")
        .select("id", F.coalesce("kpath", F.lit(0)).cast("long").alias("kpath"))
    )
