"""Connected components as iterative label-min propagation.

Reference: /root/reference/app/.../graph_operations/ConnectedComponents.scala
— random-contraction MapReduce with an arbitrary-representative output;
its own tests compare labelings only up to bijection
(test/.../ConnectedComponentsTest.scala:19-34). Per the north rule we
instead emit the *deterministic canonical* representative: the minimum
vertex ID of each component, so component IDs are exactly reproducible
across runs and parallelism levels.

Input edges are treated per the frontend's symmetrization choice
(BuildSegmentationOperations.scala:111-135): ``ignore directions`` adds
reversed copies (default), matching "the edges must all be symmetric"
(ConnectedComponents.scala:3). Isolated vertices become singleton
components (ConnectedComponents.scala:48-53).

Two algorithms:
  * ``minlabel`` — L' = min(L, min over neighbors L); converges in
    O(diameter) rounds. Right for short-diameter web/dependency graphs.
  * ``star`` (default) — Kiveris et al. "Connected Components in
    MapReduce and Beyond" alternating large-star/small-star contraction;
    O(log n) rounds regardless of diameter — the 100 TB-safe choice.
    It stops at the first round whose edge set is a star forest: no
    vertex is the leaf (``src``) of two edges and no leaf is also a
    centre (``dst``). That set is a fixed point of the round, and each
    centre is its component's minimum, so no confirming round is run.

Both are integer-exact by construction (min/joins only, no float math).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.checkpoint import step_key
from lynxkite_spark.plans.iterate import PREV, broadcasts, changed_rows, run_supersteps


def _symmetrized(edges: DataFrame) -> DataFrame:
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def _large_star(edges: DataFrame, broadcast_m: bool = False) -> DataFrame:
    """large-star (Kiveris et al., CC-MR): over both orientations, for
    each node u with neighborhood N(u): m = min(N(u) ∪ {u}); emit
    (v, m) for every v ∈ N(u) with v > u. Preserves connectivity."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least(F.col("mn"), F.col("src")).alias("m"))
    )
    # While the min table is vertex-sized-small, broadcast it — the edge
    # stream is then never exchanged for the relink join at all; above
    # the threshold, hash-build it so the big stream is at least never
    # sorted (same discipline as the PageRank gather join).
    m = F.broadcast(m) if broadcast_m else m.hint("shuffle_hash")
    return (
        sym.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame, broadcast_m: bool = False) -> DataFrame:
    """small-star: orient each edge large→small; for each u over its
    smaller neighbors N: m = min(N ∪ {u}); emit (v, m) for every
    v ∈ N ∪ {u}, v ≠ m. Preserves connectivity."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    m = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    mb = F.broadcast(m) if broadcast_m else m.hint("shuffle_hash")
    relinked = oriented.join(mb, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_link = m.select("src", F.col("m").alias("dst"))
    return (
        relinked.unionByName(self_link)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_forest(new: DataFrame, old: DataFrame) -> tuple[bool, dict]:
    """The star round's ``changed`` check: stop when the small-star
    output (oriented ``src > dst``) is a star forest — no vertex is the
    leaf of more than one edge, and no leaf is also a centre. One
    grouped scan that counts every offending leaf: it fills the round's
    local checkpoint, which reads every edge anyway, and takes no
    ``limit``, whose generated code is new on every call."""
    roles = new.select(F.posexplode(F.array("src", "dst")).alias("pos", "v"))  # pos 0: leaf
    n = (
        roles.groupBy("v")
        .agg(F.min("pos").alias("pos"), F.count(F.lit(1)).alias("ends"))
        # a leaf with a second edge end: it has two centres, or is one
        .where((F.col("pos") == 0) & (F.col("ends") > 1))
        .count()
    )
    return n == 0, {"not_star": n}


def connected_components(
    graph: Graph,
    algorithm: str = "star",
    max_iterations: int = 50,
    checkpoint=None,
    checkpoint_every: int = 10,
    input_fingerprint: str | None = None,
) -> DataFrame:
    """Returns ``belongs_to``: DataFrame[id: long, component: long] — a
    total function (every vertex labeled), component = min vertex id.

    With a ``CheckpointManager``, the min-label variant writes its label
    table every ``checkpoint_every`` rounds, at the cap and at the round
    no label changes; a rerun returns the stored final round as it is,
    or resumes from the newest stored round (labels are exact longs —
    bit-identical resume).
    The star variant's state is the contracted edge set itself and is
    checkpointed the same way."""
    n_part = int(graph.vertices.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    vertices = graph.vertices.select("id")
    edges = _symmetrized(graph.edges)
    params = {"algorithm": algorithm, "max_iterations": max_iterations}
    harness = {
        "limit": max_iterations,
        "key": partial(step_key, input_fingerprint or "anon", "cc", params),
        "checkpoint": checkpoint,
        "checkpoint_every": checkpoint_every,
    }

    if algorithm == "star":
        broadcast_m = False

        def setup() -> DataFrame:
            # per-round min tables are bounded by the (shrinking) vertex
            # count: broadcast them below the same switch pagerank uses
            # for its rank table — the contracted edge stream then never
            # shuffles for the relink joins, only for groupBy/distinct
            nonlocal broadcast_m
            broadcast_m = broadcasts(graph.vertices.count())
            return edges

        # the state is the contracted edge set itself; star contraction
        # references it several times per round (plan growth, see
        # materialize), so the driver's per-round lineage cut matters
        e = run_supersteps(
            setup,
            lambda e, k: _small_star(_large_star(e, broadcast_m), broadcast_m),
            changed=_star_forest,
            **harness,
        )
        labels = (
            e.where(F.col("src") > F.col("dst"))
            .groupBy("src")
            .agg(F.min("dst").alias("component"))
            .select(F.col("src").alias("id"), "component")
        )
    else:  # minlabel
        pinned: list[DataFrame] = []

        def setup() -> DataFrame:
            nonlocal edges
            edges = edges.repartition(n_part, "src").persist(StorageLevel.MEMORY_AND_DISK)
            pinned.append(edges)
            return vertices.select("id", F.col("id").alias("component"))

        def step(labels: DataFrame, k: int) -> DataFrame:
            nbr_min = (
                edges.join(labels.hint("shuffle_hash"), edges.src == labels.id)
                .groupBy("dst")
                .agg(F.min("component").alias("nbr_min"))
            )
            return (
                labels.join(nbr_min, labels.id == nbr_min.dst, "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                    ).alias("component"),
                    F.col("component").alias(PREV),
                )
                .repartition(n_part, "id")
            )

        labels = run_supersteps(
            setup,
            step,
            changed=changed_rows("component"),
            partition_by="id",
            pinned=pinned,
            **harness,
        )

    # isolated vertices → singleton components (ConnectedComponents.scala:48-53)
    return (
        vertices.join(labels, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
