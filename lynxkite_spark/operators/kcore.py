"""k-core decomposition (coreness per vertex).

The reference exposes core decomposition through NetworKit
(/root/reference/sphynx/lynxkite-sphynx/networkit_compute_double_attribute.go:36
"CoreDecomposition"; box at /root/reference/app/.../frontend_operations/
GraphComputationOperations.scala:45-112) — a single-node in-memory
peeling. The distributed formulation here is Montresor-De Pellegrini-
Miorandi ("Distributed k-core decomposition", IEEE TPDS 2013): every
vertex keeps a coreness estimate, initialized to its degree, and
repeatedly lowers it to the h-index of its neighbors' estimates. The
estimates are monotonically non-increasing and converge to the exact
core numbers; each round is one gather (edges ⋈ estimates) plus one
per-vertex h-index, i.e. the same shuffle shape as a PageRank step.

The h-index is computed WITHOUT a raw-neighborhood window: neighbor
estimates are first capped at the vertex's own estimate (provably
equivalent under the subsequent least(est, h)) and histogrammed with a
map-side-combinable groupBy — a hub's million messages collapse to at
most #distinct-capped-values rows before any sort. The per-vertex
h = max over present values t of min(t, #neighbors with capped value
≥ t) (the classic h-index identity) runs on that small histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.iterate import PREV, broadcasts, changed_rows, run_supersteps


def h_index_per_vertex(
    msgs: DataFrame, est: DataFrame, broadcast_est: bool = False
) -> DataFrame:
    """h-index of each vertex's gathered neighbor estimates,
    window-free on the raw neighborhood: msgs[id, n_est] → h[id, h].

    Neighbor estimates are first capped at the receiving vertex's own
    estimate (equivalent under the caller's least(est, h), and it bounds
    the per-vertex value domain), then histogrammed with a map-side-
    combinable groupBy. The only window runs over that small histogram:
    h = max over present values t of min(t, #neighbors ≥ t)."""
    cap_tbl = est.select("id", F.col("est").alias("_cap"))
    cap_tbl = (
        F.broadcast(cap_tbl) if broadcast_est else cap_tbl.hint("shuffle_hash")
    )
    capped = msgs.join(cap_tbl, "id").select(
        "id", F.least(F.col("n_est"), F.col("_cap")).alias("t")
    )
    hist = capped.groupBy("id", "t").agg(F.count(F.lit(1)).alias("c"))
    win = (
        W.partitionBy("id")
        .orderBy(F.col("t").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        hist.withColumn("cum", F.sum("c").over(win))
        .groupBy("id")
        .agg(F.max(F.least(F.col("t"), F.col("cum"))).alias("h"))
    )


def core_decomposition(graph: Graph, max_iterations: int = 100) -> DataFrame:
    """Exact core number per vertex on the undirected simple graph
    (direction ignored, loops and parallel edges dropped — NetworKit's
    CoreDecomposition convention). Returns DataFrame[id, core];
    isolated vertices have core 0.
    """
    spark = graph.vertices.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    # pre-partitioned by src: the per-round gather join then never
    # exchanges the (big, static) edge table — only the vertex-sized
    # estimate table moves (and while small, it broadcasts instead)
    sym = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(n_part, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vertices = graph.vertices.select("id").persist(StorageLevel.MEMORY_AND_DISK)
    n_vertices = vertices.count()
    # same trade as pagerank's broadcast_ranks: while the estimate table
    # is small, ship it into the joins as a broadcast — zero exchanges of
    # the edge stream per round; past the switch the shuffle-hash path
    # takes over (a multi-million-row broadcast build is serial driver
    # work that caps scaling)
    broadcast_est = broadcasts(n_vertices)

    def step(est: DataFrame, k: int) -> DataFrame:
        # gather neighbor estimates onto dst, then per-vertex h-index:
        # sorted desc, h = max(min(est_i, i))
        gather = est.select(F.col("id").alias("src"), F.col("est").alias("n_est"))
        gather = (
            F.broadcast(gather) if broadcast_est else gather.hint("shuffle_hash")
        )
        msgs = sym.join(gather, "src").select(F.col("dst").alias("id"), "n_est")
        h = h_index_per_vertex(msgs, est, broadcast_est=broadcast_est)
        # carry the previous estimate: the change check is then a scan
        # of the new table, not a join + extra pass
        return est.join(F.broadcast(h) if broadcast_est else h, "id", "left").select(
            "id",
            F.least(F.col("est"), F.coalesce(F.col("h"), F.lit(0))).alias("est"),
            F.col("est").alias(PREV),
        )

    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("est"))
    est = run_supersteps(
        vertices.join(deg, "id", "left").select("id", F.coalesce("est", F.lit(0)).alias("est")),
        step,
        limit=max_iterations,
        changed=changed_rows("est"),
        pinned=[sym, vertices],
    )
    return est.select("id", F.col("est").alias("core"))
