"""PageRank with the reference's exact semantics, expressed as DataFrame
joins + aggregations.

Reference: /root/reference/app/.../graph_operations/PageRank.scala:43-88
  1. non-positive weights dropped                  (:43-44)
  2. per-source weight normalization               (:54-67)
  3. initial rank 1.0 per vertex (mass sums to |V|) (:70)
  4. per iteration: incoming(dst) = Σ rank(src)·w_norm·damping, then ALL
     leaked mass (dangling + the 1-d factor) redistributed uniformly:
     rank = incoming + (|V| − Σ incoming)/|V|      (:75-88)
  5. the reference runs a fixed iteration count with no convergence test
     (:73, default 5 / damping 0.85,
     GraphComputationOperations.scala:386-389); we add convergence to
     ``tol`` (max |Δrank| < tol), which subsumes fixed N — pass
     ``iterations=N, tol=None`` for numerical equivalence with the
     reference within float reduction-order tolerance (the dangling-mass
     total is an algebraic identity over the rank table, so summation
     order differs; allclose at 1e-6 — the north rule's contract — holds,
     bit-for-bit equality does not).

Direction handling follows the frontend's Direction wrapper
(Operations.scala:413-448): "outgoing edges" uses edges as-is,
"all edges" adds reversed copies first.

Scale notes (SURVEY.md §4):
  * edges are normalized once, repartitioned by ``src`` and cached — every
    iteration reuses that single shuffle for the gather join, so a hub
    source's edges stay in one partition whatever the join strategy;
  * groupBy(dst) skew needs no salting — sum() partial-aggregates
    map-side before the shuffle;
  * the superstep driver (plans/iterate.py) cuts lineage every
    iteration and owns resume from the optional content-addressed
    parquet checkpoint.
"""

from __future__ import annotations

from dataclasses import replace
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.checkpoint import CheckpointManager, step_key
from lynxkite_spark.plans.iterate import PREV, broadcasts, run_supersteps
from lynxkite_spark.plans.spread import plan_is_expensive as _plan_is_expensive


def pagerank(
    graph: Graph,
    damping: float = 0.85,
    iterations: int | None = None,
    tol: float | None = 1e-6,
    max_iterations: int = 200,
    direction: str = "outgoing",
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 10,
    input_fingerprint: str | None = None,
) -> DataFrame:
    """Returns DataFrame[id: long, pagerank: double].

    ``iterations`` set → fixed count (reference mode). Otherwise iterate
    until ``max |Δrank| < tol`` or ``max_iterations``.
    """
    spark = graph.vertices.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # what the round body reads, prepared by ``setup``; a call whose
    # final round is stored (a memo hit) never runs it
    pinned: list[DataFrame] = []
    en = None
    n_vertices, broadcast_ranks = 0, False

    def setup() -> DataFrame:
        nonlocal en, n_vertices, broadcast_ranks
        # Pin an expensive-to-recompute RAW edge table once up front —
        # the set-up references it through several derived plans (edge
        # normalization, source set, and — for from_edges graphs — the
        # vertex union), and caching the raw table lets every one of
        # those subtrees hit the cache (a cache of the filtered/weighted
        # view would not match the vertex union's plan). Cheap inputs
        # (bare scans / checkpointed relations) skip the extra copy.
        g = graph
        edges_pinned = None
        if _plan_is_expensive(g.edges):
            edges_pinned = g.edges.persist(StorageLevel.MEMORY_AND_DISK)
            pinned.append(edges_pinned)
            g = replace(g, edges=edges_pinned)
        g = g.with_weight()
        edges = g.edges.select("src", "dst", "weight").where(F.col("weight") > 0.0)
        if direction == "all":
            edges = edges.unionByName(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
            )
        elif direction == "incoming":
            edges = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")

        # Normalize per source in ONE pass with a window sum over the
        # src-partitioned edges (the groupBy+join-back shape scanned the
        # input twice and paid a second exchange + join); stays
        # partitioned by src for all iterations. Weight sums are per-src
        # float adds in sort order — for the constant-1.0 and
        # integer-count weights every caller uses, the totals are exact,
        # so values are unchanged.
        from pyspark.sql import Window as W

        w_out = F.sum("weight").over(W.partitionBy("src"))
        en = (
            edges.repartition(n_part, "src")
            .select("src", "dst", (F.col("weight") / w_out).alias("wn"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        pinned.append(en)
        # rank state carries has_out so the dangling-mass total needs no
        # pass over the gathered contributions: per-src normalized
        # weights sum to 1, so Σ incoming = damping · Σ rank over
        # non-dangling vertices — an exact algebraic identity that turns
        # the global total into a scan of the (small, cached) rank table
        # instead of a second consumption of the expensive gather join.
        # The sources are read from the cache, not the input, so one
        # count of this table — which fills both caches — is the whole
        # set-up action.
        srcs = en.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
        vertices = (
            g.vertices.select("id")
            .join(srcs, "id", "left")
            .select("id", F.col("deg").isNotNull().alias("has_out"))
            .repartition(n_part, "id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        pinned.append(vertices)
        n_vertices = vertices.count()
        if edges_pinned is not None:
            edges_pinned.unpersist()

        # localCheckpoint output (LogicalRDD) carries the size estimate
        # inherited from the plan it cut, not the rank table's real size,
        # so Catalyst can't see that the table is broadcastable — hint
        # it explicitly while |V| is small. Building a broadcast relation
        # is a SERIAL driver-side step repeated every iteration; measured
        # on this box it stops paying for itself around a few hundred
        # thousand rows, and past that it caps scaling (the parallel join
        # is fast, the broadcast build is not). Above the switch the
        # co-partitioned shuffle join takes over.
        broadcast_ranks = broadcasts(n_vertices)
        return vertices.select("id", "has_out", F.lit(1.0).alias("pagerank"))

    params = {"damping": damping, "iterations": iterations, "tol": tol, "direction": direction}
    # Convergence mode folds the dangling-mass total into the SAME
    # driver action that computes the delta: each change check returns
    # (max |Δ|, Σ rank over has_out) together, and the total enters the
    # next round's plan as a literal — no per-round 1-row aggregate
    # subtree + broadcast build. The literal is the identical double
    # (same partial/final sum plan over the same materialized table;
    # py4j round-trips doubles exactly).
    converge = tol is not None and iterations is None
    tot_lit: float | None = None

    def step(ranks: DataFrame, k: int) -> DataFrame:
        nonlocal tot_lit
        # the uniform share of the leaked mass; an empty graph's rank
        # table has no rows, and the 1 only keeps the literal finite
        n = F.lit(float(max(n_vertices, 1)))
        rank_lookup = ranks.select(F.col("id").alias("src"), "pagerank")
        if broadcast_ranks:
            gathered = en.join(F.broadcast(rank_lookup), "src")
        else:
            # hash join with the rank table as build side: avoids
            # re-sorting the (much larger) edge table every iteration,
            # which SMJ would do despite the stable partitioning
            gathered = en.join(rank_lookup.hint("shuffle_hash"), "src")
        contrib = gathered.groupBy("dst").agg(
            (F.sum(F.col("pagerank") * F.col("wn")) * F.lit(damping)).alias("incoming")
        )
        if converge:
            if tot_lit is None:  # first round: the total over the starting ranks
                tot_lit = damping * float(
                    ranks.where(F.col("has_out")).agg(F.sum("pagerank").alias("s")).first()["s"]
                    or 0.0
                )
            uniform = (n - F.lit(tot_lit)) / n
            base = ranks
        else:
            # fixed-iteration mode has no driver action per round: the
            # total is a broadcast 1-row agg in-plan over the rank table
            tot = ranks.where(F.col("has_out")).agg(
                (F.sum("pagerank") * F.lit(damping)).alias("_tot")
            )
            uniform = (n - F.coalesce(F.col("_tot"), F.lit(0.0))) / n
            base = ranks.crossJoin(F.broadcast(tot))
        return base.join(
            contrib if broadcast_ranks else contrib.hint("shuffle_hash"),
            ranks.id == contrib.dst,
            "left",
        ).select(
            "id",
            "has_out",
            (F.coalesce(F.col("incoming"), F.lit(0.0)) + uniform).alias("pagerank"),
            *([F.col("pagerank").alias(PREV)] if converge else []),
        )

    def delta(new: DataFrame, old: DataFrame) -> tuple[bool, dict]:
        # ONE action per round: materializes the round and returns
        # (max |Δrank|, next dangling-mass total) together
        nonlocal tot_lit
        row = new.agg(
            F.max(F.abs(F.col("pagerank") - F.col(PREV))).alias("d"),
            F.sum(F.when(F.col("has_out"), F.col("pagerank"))).alias("s"),
        ).first()
        tot_lit = damping * float(row["s"] or 0.0)
        # an empty rank table has no delta: it is converged
        return row["d"] is None or row["d"] < tol, {"max_delta": row["d"]}

    limit = iterations if iterations is not None else max_iterations
    ranks = run_supersteps(
        setup,
        step,
        limit=limit,
        changed=delta if converge else None,
        partition_by="id",
        key=partial(step_key, input_fingerprint or "anon", "pagerank", params),
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        pinned=pinned,
    )
    return ranks.select("id", "pagerank")
