"""Modularity-based community detection (distributed Louvain).

Reference: /root/reference/app/.../graph_operations/
FindModularClusteringByTweaks.scala (633 LoC) — iterative modularity
improvement by vertex moves/merges, Spark-side in the reference (one of
the few community ops NOT delegated to NetworKit). We re-create the
semantics — greedily move vertices to the neighboring community with the
best modularity gain until no gain remains, then contract and repeat —
as a synchronous, deterministic DataFrame loop:

  * undirected-weighted modularity Q = Σ_c [Σin_c/(2m) − (Σtot_c/(2m))²];
  * per round every vertex scores each neighboring community c:
      gain(v→c) = k_{v,c} − k_v · (Σtot_c − [c = cur]·k_v) / (2m)
    (the 1/m scale factor is constant across candidates and dropped);
  * argmax with (gain desc, community asc) tie-break;
  * only vertices whose xxhash64(id, round) is even actually move — the
    standard half-synchronous trick that prevents the two-vertex swap
    oscillation synchronous Louvain suffers, while staying deterministic
    at any parallelism;
  * when a level converges, communities are contracted to single
    vertices (weights summed) and the loop repeats on the smaller graph.

Every step is a join + aggregation over the (src-partitioned) edge
table — the same gather-scatter shuffle shape as PageRank, so the same
skew/broadcast discipline applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.functions.dedup import portable_hash64
from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.iterate import run_supersteps


def _sym_weighted(edges: DataFrame) -> DataFrame:
    """Undirected weighted adjacency: both orientations, loops dropped,
    parallel edges' weights summed."""
    e = edges.select("src", "dst", "weight").where(F.col("src") != F.col("dst"))
    return (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )


def _one_level(
    sym: DataFrame,
    vertices: DataFrame,
    two_m: float,
    max_rounds: int,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Louvain phase 1 on a symmetric weighted graph: returns
    labels[id, label] after greedy gain moves converge.

    State [id, label, k, r, _w] on the superstep driver: ``r`` is the
    round number the parity hash reads (a column, so every round runs
    the same plan) and ``_w`` marks the vertices that wanted to move; a
    round in which none did changed no label and stops the level."""
    pinned = []
    # Self-loop rows appear after contraction (a community's internal
    # weight, both orientations). They belong in k and Σtot — loop mass
    # moves with the vertex — but NOT in k_{v,c}: the loop's dst label is
    # the vertex's own community, so counting it would inflate the stay
    # side only and freeze contracted vertices at levels >= 2.
    sym_noloop = sym.where(F.col("src") != F.col("dst"))

    def setup() -> DataFrame:
        deg = sym.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("k"))
        k_tab = (
            vertices.select("id")
            .join(deg, "id", "left")
            .select("id", F.coalesce("k", F.lit(0.0)).alias("k"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        pinned.append(k_tab)
        return k_tab.select("id", F.col("id").alias("label"), "k", F.lit(0).alias("r"), F.lit(False).alias("_w"))

    def step(labels: DataFrame, _: int) -> DataFrame:
        # community totals Σtot_c
        tot = labels.groupBy("label").agg(F.sum("k").alias("tot"))
        # k_{v,c}: weight from v to each neighboring community (loop-free)
        nbr_lab = labels.select(F.col("id").alias("dst"), F.col("label").alias("c"))
        kvc = (
            sym_noloop.join(nbr_lab.hint("shuffle_hash"), "dst")
            .groupBy(F.col("src").alias("id"), "c")
            .agg(F.sum("weight").alias("kvc"))
        )
        cur = labels.select("id", F.col("label").alias("cur"), "k")
        # gain(v→c) for c != cur: k_{v,c} − k_v·Σtot_c/(2m); the stay side
        # is computed explicitly below (Σtot_cur already contains k_v, so
        # it is subtracted there) — never coalesced to 0, which would
        # overstate staying whenever v has no neighbor in its own
        # community (true stay gain is then −k·(Σtot_cur−k)/2m < 0).
        cand = (
            kvc.join(cur.hint("shuffle_hash"), "id")
            .join(tot.select(F.col("label").alias("c"), "tot"), "c")
            .select(
                "id",
                "c",
                "cur",
                "k",
                "kvc",
                (F.col("kvc") - F.col("k") * F.col("tot") / F.lit(two_m)).alias("gain"),
            )
        )
        best = (
            cand.where(F.col("c") != F.col("cur"))
            .groupBy("id")
            .agg(
                F.max_by("c", F.struct(F.col("gain"), -F.col("c"))).alias("best_c"),
                F.max("gain").alias("best_gain"),
                F.first("cur").alias("cur"),
                F.first("k").alias("k"),
            )
        )
        kvc_cur = cand.where(F.col("c") == F.col("cur")).select("id", F.col("kvc").alias("kvc_cur"))
        tot_cur = tot.select(F.col("label").alias("cur"), F.col("tot").alias("tot_cur"))
        scored = (
            best.join(kvc_cur.hint("shuffle_hash"), "id", "left")
            .join(tot_cur, "cur")
            .select(
                "id",
                "best_c",
                "best_gain",
                "cur",
                (
                    F.coalesce(F.col("kvc_cur"), F.lit(0.0))
                    - F.col("k") * (F.col("tot_cur") - F.col("k")) / F.lit(two_m)
                ).alias("stay_gain"),
            )
        )
        # move only on strict improvement, half-synchronously (hash parity);
        # convergence is judged on the PRE-parity wanted set — a round
        # where every beneficial move happens to be parity-blocked is not
        # converged (the parity flips next round)
        wanted = scored.where(F.col("best_gain") > F.col("stay_gain") + 1e-12).select(
            "id", F.col("best_c").alias("new_label")
        )
        # half-synchronous move parity; hash_fn="portable" makes the
        # DuckDB oracle able to replay the parity decision exactly
        if hash_fn == "portable":
            movable = F.pmod(portable_hash64(F.col("id"), F.col("r")), F.lit(2)) == 0
        else:
            movable = F.pmod(F.xxhash64("id", "r"), F.lit(2)) == 0
        return labels.join(wanted, "id", "left").select(
            "id",
            F.when(F.col("new_label").isNotNull() & movable, F.col("new_label")).otherwise(F.col("label")).alias("label"),
            "k",
            (F.col("r") + 1).alias("r"),
            F.col("new_label").isNotNull().alias("_w"),
        )

    def moved(new: DataFrame, old: DataFrame) -> tuple[bool, dict]:
        n = new.where("_w").count()
        return n == 0, {"wanted": n}

    labels = run_supersteps(setup, step, limit=max_rounds, changed=moved, pinned=pinned)
    return labels.select("id", "label")


def modular_clustering(
    graph: Graph,
    max_rounds: int = 20,
    levels: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Louvain community detection. Returns belongs_to
    DataFrame[id, label] where label is a community id (a vertex id of
    one of its members — deterministic, value-derived)."""
    g = graph.with_weight()
    sym = _sym_weighted(g.edges).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        two_m = sym.agg(F.sum("weight")).first()[0] or 0.0
        vertices = g.vertices.select("id")
        if two_m == 0.0:
            return vertices.select("id", F.col("id").alias("label"))

        # vertex → community at the ORIGINAL level
        assignment = vertices.select("id", F.col("id").alias("label")).localCheckpoint(
            eager=True
        )
        cur_vertices = vertices
        cur_sym = sym
        for level in range(levels):
            labels = _one_level(cur_sym, cur_vertices, two_m, max_rounds, hash_fn)
            # compose: original id → this level's community
            assignment = (
                assignment.join(
                    labels.select(F.col("id").alias("label"), F.col("label").alias("nl")),
                    "label",
                )
                .select("id", F.col("nl").alias("label"))
                .localCheckpoint(eager=True)
            )
            # contract communities to vertices; stop when nothing merged
            n_before = cur_vertices.count()
            cur_vertices = labels.select(F.col("label").alias("id")).distinct()
            n_after = cur_vertices.count()
            if n_after == n_before or level == levels - 1:
                break
            # contraction KEEPS self-loops: sym holds both orientations of
            # every internal edge, so the (c, c) row carries 2x the internal
            # weight — exactly what the next level's k_v and Σtot need (and
            # the reason two_m stays invariant across levels)
            lab_src = labels.select(F.col("id").alias("src"), F.col("label").alias("ls"))
            lab_dst = labels.select(F.col("id").alias("dst"), F.col("label").alias("ld"))
            cur_sym = (
                cur_sym.join(lab_src, "src")
                .join(lab_dst, "dst")
                .groupBy(F.col("ls").alias("src"), F.col("ld").alias("dst"))
                .agg(F.sum("weight").alias("weight"))
                .localCheckpoint(eager=True)
            )
    finally:
        sym.unpersist()
    return assignment
