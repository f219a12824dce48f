"""Single-source(-set) shortest path by distributed Bellman-Ford.

Reference: /root/reference/app/.../graph_operations/ShortestPath.scala:27-66
— relax all edges each round (dist' = min(dist, min over in-neighbors
dist+w)), stop when the (count, sum) state signature is unchanged or
after ``max_iterations`` rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.iterate import run_supersteps


def shortest_path(
    graph: Graph,
    sources: DataFrame,
    max_iterations: int = 20,
    weighted: bool = False,
) -> DataFrame:
    """``sources``: DataFrame[id, distance] starting distances
    (ShortestPath.scala's startingDistance attribute). Returns
    DataFrame[id, distance] for *reached* vertices only (the reference's
    output attribute is partial — unreachable vertices stay undefined)."""
    g = graph.with_weight()
    e = g.edges.select("src", "dst", "weight" if weighted else F.lit(1.0).alias("weight"))
    e = e.persist(StorageLevel.MEMORY_AND_DISK)

    def step(dist: DataFrame, k: int) -> DataFrame:
        relaxed = (
            e.join(dist.hint("shuffle_hash"), e.src == dist.id)
            .select(F.col("dst").alias("id"), (F.col("distance") + F.col("weight")).alias("distance"))
        )
        return dist.unionByName(relaxed).groupBy("id").agg(F.min("distance").alias("distance"))

    def signature(dist: DataFrame) -> tuple:
        return tuple(dist.agg(F.count(F.lit(1)), F.sum("distance")).first())

    last: tuple | None = None

    def unchanged(new: DataFrame, old: DataFrame) -> tuple[bool, dict]:
        # the starting state's signature is taken once, on the first call
        nonlocal last
        before = last if last is not None else signature(old)
        last = signature(new)
        return last == before, {"count": last[0], "sum": last[1]}

    return run_supersteps(
        sources.select("id", F.col("distance").cast("double")),
        step,
        limit=max_iterations,
        changed=unchanged,
        pinned=[e],
    )
