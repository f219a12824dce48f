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
    Each star step takes its per-vertex minimum as a window over the
    edges, not as a grouped table joined back, so a round is three
    shuffles and no join, with no size switch to choose one.

Both are integer-exact by construction (min/joins only, no float math).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.checkpoint import step_key
from lynxkite_spark.plans.iterate import PREV, changed_rows, run_supersteps


def _symmetrized(edges: DataFrame) -> DataFrame:
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star (Kiveris et al., CC-MR): over both orientations, for
    each node u with neighborhood N(u): m = min(N(u) ∪ {u}); emit
    (v, m) for every v ∈ N(u) with v > u. Preserves connectivity.

    m is a window minimum over the src-partitioned edges, so the step
    is one exchange and reads the edges once; a grouped minimum joined
    back would read them twice and need a broadcast or a hash join."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return (
        sym.select("src", "dst", m.alias("m"))
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star: orient each edge large→small; for each u over its
    smaller neighbors N: m = min(N ∪ {u}); emit (v, m) for every
    v ∈ N ∪ {u}, v ≠ m. Preserves connectivity.

    m = min(N) is a window minimum over the oriented edges; each edge
    (u, d) then emits (u, m) and (d, m), which together are the relinked
    neighbours and u's own link, and ``distinct`` keeps one of each."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    m = F.min("dst").over(Window.partitionBy("src"))
    return (
        oriented.select(F.explode(F.array("src", "dst")).alias("v"), m.alias("m"))
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
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
    params = {"algorithm": algorithm, "max_iterations": max_iterations}
    harness = {
        "limit": max_iterations,
        "key": partial(step_key, input_fingerprint or "anon", "cc", params),
        "checkpoint": checkpoint,
        "checkpoint_every": checkpoint_every,
    }

    if algorithm == "star":
        # the state is the contracted edge set itself; star contraction
        # references it several times per round (plan growth, see
        # materialize), so the driver's per-round lineage cut matters.
        # It starts as the input edges, loops dropped: large-star reads
        # both orientations and its minimum ignores duplicates, so round
        # 1's output set is the same as from the symmetrized, distinct
        # edges, and the set-up needs no dedup pass or vertex count.
        e = run_supersteps(
            lambda: graph.edges.select("src", "dst").where(F.col("src") != F.col("dst")),
            lambda e, k: _small_star(_large_star(e)),
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
        edges = _symmetrized(graph.edges)

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
