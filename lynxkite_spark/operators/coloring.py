"""Approximate greedy vertex coloring.

Reference: /root/reference/app/.../graph_operations/Coloring.scala (153
LoC) — iterative approximate coloring. Ours is the deterministic
distributed greedy: process vertices in hash-priority order; a vertex
takes the smallest color unused by its already-colored higher-priority
neighbors. Each round colors the current priority-maximal uncolored
vertices, so rounds ≈ longest monotone path (O(log n) w.h.p. for the
hash priority).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph


def greedy_coloring(graph: Graph, max_iterations: int = 50) -> DataFrame:
    """Returns DataFrame[id, color] (colors 1..k). Deterministic: priority
    = (xxhash64(id), id)."""
    e = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    sym = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        pri = F.xxhash64("id")
        remaining = graph.vertices.select("id", pri.alias("pri")).localCheckpoint(eager=False)
        colored = None  # DataFrame[id, color]
        for _ in range(max_iterations):
            # the count fills the lazy checkpoint; a LIMIT would compile anew on every call
            if remaining.count() == 0:
                break
            # a vertex is a local max if no *uncolored* neighbor has higher priority
            nbr = sym.join(
                remaining.select(F.col("id").alias("src"), F.col("pri").alias("src_pri")), "src"
            ).join(
                remaining.select(F.col("id").alias("dst"), F.col("pri").alias("dst_pri")), "dst"
            )
            blocked = nbr.where(
                (F.col("dst_pri") > F.col("src_pri"))
                | ((F.col("dst_pri") == F.col("src_pri")) & (F.col("dst") > F.col("src")))
            ).select(F.col("src").alias("id")).distinct()
            winners = remaining.join(blocked, "id", "left_anti").select("id")
            # smallest color not used by already-colored neighbors
            if colored is not None:
                used = (
                    sym.join(winners.select(F.col("id").alias("src")), "src")
                    .join(colored.select(F.col("id").alias("dst"), "color"), "dst")
                    .groupBy("src")
                    .agg(F.collect_set("color").alias("used"))
                )
                pick = winners.join(
                    used, winners.id == used.src, "left"
                ).select(
                    "id",
                    F.coalesce(
                        F.array_min(
                            F.filter(
                                F.sequence(F.lit(1), F.size(F.coalesce("used", F.array())) + 1),
                                lambda c: ~F.array_contains(F.coalesce("used", F.array()), c),
                            )
                        ),
                        F.lit(1),
                    ).alias("color"),
                )
            else:
                pick = winners.select("id", F.lit(1).alias("color"))
            pick = pick.localCheckpoint(eager=False)
            colored = pick if colored is None else colored.unionByName(pick).localCheckpoint(eager=False)
            remaining = remaining.join(pick.select("id"), "id", "left_anti").localCheckpoint(eager=False)
    finally:
        sym.unpersist()
    return colored if colored is not None else graph.vertices.select(
        "id", F.lit(1).alias("color")
    )
