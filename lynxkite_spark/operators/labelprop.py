"""Community detection by label propagation (synchronous, deterministic).

The reference delegates to NetworKit PLP — Raghavan et al. async label
propagation whose result is thread-count dependent
(/root/reference/app/.../graph_operations/NetworKit.scala:181-228,
sphynx/lynxkite-sphynx/networkit_community_detection.go:23-33; tests pin
NETWORKIT_THREADS, test_backend.sh:25-27). A partition-dependent result
is unacceptable at cluster scale, so our spec is the *synchronous*
variant with deterministic tie-breaking (SURVEY.md §2.1):

  label(v) ← argmax over neighbor labels by (weight desc, label asc)

iterated until no label changes or ``max_iterations`` (sync LPA can
2-cycle on bipartite structures; the cap guarantees termination).
Edges are treated as undirected (reference passes directed=false).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.checkpoint import step_key
from lynxkite_spark.plans.iterate import PREV, broadcasts, changed_rows, run_supersteps


def label_propagation(
    graph: Graph,
    max_iterations: int = 30,
    weighted: bool = False,
    checkpoint=None,
    checkpoint_every: int = 10,
    input_fingerprint: str | None = None,
) -> DataFrame:
    """Returns belongs_to: DataFrame[id: long, label: long].

    With a ``CheckpointManager`` the label table is written every
    ``checkpoint_every`` rounds, at the cap and at the round no label
    changes (per-partition lineage sidecar like PageRank's). A rerun
    returns the stored final round as it is, or resumes from the newest
    stored round — labels are exact longs, so a resumed run is
    bit-identical."""
    spark = graph.vertices.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # what the round body reads, prepared by ``setup``; a call whose
    # final round is stored (a memo hit) never runs it
    pinned: list[DataFrame] = []
    sym, broadcast_labels = None, False

    def setup() -> DataFrame:
        nonlocal sym, broadcast_labels
        g = graph.with_weight()
        e = g.edges.select("src", "dst", "weight").where(F.col("src") != F.col("dst"))
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )
        if not weighted:
            sym = sym.withColumn("weight", F.lit(1.0))
        # no count here: round 1's change check fills the cache
        sym = sym.repartition(n_part, "src").persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(sym)
        # Broadcast the vertex-sized label table into the gather join
        # while it is small (same trade as pagerank's broadcast_ranks):
        # the big edge stream is then never exchanged OR sorted per
        # round — the only corpus-sized shuffle left is the
        # map-side-combinable vote count. Above the switch the
        # shuffle-hash gather takes over (building a multi-million-row
        # broadcast is serial driver work that caps scaling).
        broadcast_labels = broadcasts(graph.vertices.count())
        return graph.vertices.select("id", F.col("id").alias("label"))

    def step(labels: DataFrame, k: int) -> DataFrame:
        # gather neighbor labels onto dst; per-(dst,label) weight sums are
        # map-side combinable, so hub vertices don't skew the shuffle
        # hash-build the vertex-sized label table: the big edge stream is
        # never sorted per round (PageRank gather-join discipline)
        lbl = F.broadcast(labels) if broadcast_labels else labels.hint("shuffle_hash")
        votes = (
            sym.join(lbl, sym.src == labels.id)
            .groupBy("dst", "label")
            .agg(F.sum("weight").alias("w"))
        )
        # argmax by (w desc, label asc) — deterministic: max_by on an
        # ordered struct (invert label sign for the asc tie-break)
        best = votes.groupBy("dst").agg(
            F.max_by("label", F.struct(F.col("w"), -F.col("label"))).alias("new_label")
        )
        best = F.broadcast(best) if broadcast_labels else best
        # carry the previous label through the checkpoint so the change
        # check is a scan of the new table, not a second join (the join
        # shape cost one more exchange + action per round)
        return labels.join(best, labels.id == best.dst, "left").select(
            "id",
            F.coalesce("new_label", "label").alias("label"),
            F.col("label").alias(PREV),
        )

    params = {"max_iterations": max_iterations, "weighted": weighted}
    return run_supersteps(
        setup,
        step,
        limit=max_iterations,
        changed=changed_rows("label"),
        partition_by="id",
        key=partial(step_key, input_fingerprint or "anon", "lpa", params),
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        pinned=pinned,
    )
