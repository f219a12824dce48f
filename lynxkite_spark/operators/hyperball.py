"""HyperBall: HLL-sketch neighborhood functions and the centralities
built on them — the 100 TB path for harmonic / Lin / average-distance
(replacing the exact all-pairs BFS ``centrality._reached`` — the
multi-root BFS of ``betweenness._forward_bfs`` with every vertex a
root — which is the small-graph path).

Reference: /root/reference/app/com/lynxanalytics/biggraph/graph_operations/
HyperBallCentrality.scala (HLL counters merged along edges per round,
"HyperBall: P. Boldi and S. Vigna, HyperANF" semantics): B_t(v) =
B_{t-1}(v) ∪ ⋃_{u→v} B_{t-1}(u); the per-round cardinality deltas feed
each measure exactly like the reference's ``getMeasureFunction``:

  harmonic(v)  += (|B_t| − |B_{t-1}|) / t
  sum_dist(v)  += t · (|B_t| − |B_{t-1}|)    (Lin, average distance)

Spark-first representation: a sketch is NOT an opaque binary blob (the
reference keeps serialized HLL objects per vertex). The state is the
SPARSE exploded register table ``[id, pos, reg]`` — one row per nonzero
register. Merging balls along edges is then a plain

    state ∪ (edges ⋈ state)  →  groupBy(id, pos).max(reg)

which is map-side combinable, skew-free (a hub's million incoming
sketches collapse to ≤ m rows before the shuffle), and needs no UDF of
any kind. Registers hold ρ = 1 + trailing-zeros of the value hash — the
same geometric rank as leading zeros, but computable exactly in both
Spark and DuckDB as floor(log2(w & −w)) (a power of two is exact in
binary floating point), which is what makes the DuckDB oracle able to
replay the whole pipeline bit-for-bit.

The cardinality estimate is the standard HLL form with linear counting
for the small range. The register sum Σ 2^(−reg) is computed as the
EXACT integer Σ 2^(50−reg) (registers capped at 50): cross-engine float
summation order can then never flip a value hash — both engines divide
one identical bigint by 2^50 at the end.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lynxkite_spark.functions.dedup import portable_hash64
from lynxkite_spark.graph import Graph

# alpha_m bias-correction constants (Flajolet et al. 2007)
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}
_REG_CAP = 50  # Σ 2^(50-reg) over ≤ 2^9 registers stays < 2^63
# Sketches of at most this many registers run in the wide state form
# (one column per register); larger ones in the sparse row form.
WIDE_MAX_M = 64


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def _hash(col: Column, hash_fn: str, seed: int) -> Column:
    if hash_fn == "portable":
        return portable_hash64(col, seed)
    return F.xxhash64(col, F.lit(seed))


def _init_registers(
    vertices: DataFrame, log2m: int, hash_fn: str, seed: int
) -> DataFrame:
    """Sketch of {v} per vertex: one nonzero register [id, pos, reg]."""
    m = 1 << log2m
    h = _hash(F.col("id"), hash_fn, seed)
    w = F.shiftrightunsigned(h, log2m)
    low = w.bitwiseAND(-w)  # lowest set bit, an exact power of two
    rho = F.when(w == 0, F.lit(64 - log2m)).otherwise(
        F.floor(F.log2(low)).cast("int") + 1
    )
    return vertices.select(
        "id",
        h.bitwiseAND(F.lit(m - 1)).cast("int").alias("pos"),
        F.least(rho, F.lit(_REG_CAP)).cast("int").alias("reg"),
    )


def _estimates(
    state: DataFrame, vertices: DataFrame, log2m: int, complete: bool = False
) -> DataFrame:
    """HLL cardinality per vertex from the sparse register table.
    Returns DataFrame[id, e: double].

    ``complete=True`` asserts every vertex has >= 1 state row (true for
    the hyperball loop: init seeds one register per vertex and the
    monotone union never drops rows), skipping the per-round left join
    against the vertex table — the estimate expression is identical."""
    m = 1 << log2m
    alpha = _alpha(m)
    per_v = state.groupBy("id").agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {_REG_CAP} - reg)")).alias("z_nz"),
        F.count(F.lit(1)).alias("nz"),
    )
    # zero registers contribute 2^REG_CAP each; exact integer total
    z_int = F.col("z_nz") + (F.lit(m) - F.col("nz")) * F.lit(1 << _REG_CAP)
    raw = F.lit(alpha * m * m) / (z_int.cast("double") / F.lit(float(1 << _REG_CAP)))
    v_zero = F.lit(m) - F.col("nz")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")),
    ).otherwise(raw)
    if complete:
        return per_v.select("id", est.alias("e"))
    return vertices.join(per_v.hint("shuffle_hash"), "id", "left").select(
        "id", F.coalesce(est, F.lit(0.0)).alias("e")
    )


def _estimates_wide(state_w: DataFrame, log2m: int) -> DataFrame:
    """HLL cardinality per vertex from the WIDE register row
    [id, r0..r{m-1}] — the same exact-integer estimate as
    :func:`_estimates` (a zero column IS the zero register, so
    ``Σ 2^(50-r_i)`` needs no separate zero-count correction: 2^(50-0)
    = 2^50 is exactly what the sparse path adds per missing register).
    Returns DataFrame[id, e: double]."""
    m = 1 << log2m
    alpha = _alpha(m)
    regs = [F.col(f"r{i}") for i in range(m)]
    z_int = F.lit(0).cast("long")
    for i in range(m):
        # identical term to the sparse path's per-row expression
        z_int = z_int + F.expr(
            f"shiftleft(cast(1 as bigint), {_REG_CAP} - r{i})"
        )
    nz = None
    for r in regs:
        term = (r > 0).cast("int")
        nz = term if nz is None else nz + term
    raw = F.lit(alpha * m * m) / (
        z_int.cast("double") / F.lit(float(1 << _REG_CAP))
    )
    v_zero = F.lit(m) - nz
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")),
    ).otherwise(raw)
    return state_w.select("id", est.alias("e"))


def hyperball(
    graph: Graph,
    max_distance: int = 10,
    log2m: int = 6,
    hash_fn: str = "xxhash64",
    seed: int = 7,
    keep_rounds: bool = False,
    early_stop: bool = False,
) -> DataFrame:
    """Run ``max_distance`` HyperBall rounds along edge direction
    (each vertex's ball accumulates the vertices that can REACH it —
    the coreachable orientation of the exact ``centrality._reached``).

    Returns DataFrame[id, size, harmonic, sum_d] — approximate
    |coreachable ∩ ≤max_distance hops|, Σ 1/d and Σ d — or, with
    ``keep_rounds``, DataFrame[id, t, e] of per-round estimates.

    ``early_stop`` checks a cheap exact-integer signature of the
    register state (row count + register sum) each round and stops once
    the sketches are a fixed point — the sketch union is monotone, so
    an unchanged signature means convergence (use for effective
    diameter, where max_distance is a generous cap, not a target)."""
    vertices = graph.vertices.select("id")
    spark = graph.vertices.sparkSession
    m = 1 << log2m
    # WIDE state for small m (the common centrality setting): one row
    # per vertex with m register COLUMNS merged by m per-column max
    # aggregates. The sparse [id, pos, reg] row-per-register form ships
    # every register of every source along every edge as its own row —
    # at sf0.1/log2m=6 that merge shuffled 627 MB over 4 rounds; the
    # wide form's partial aggregation collapses a partition's messages
    # to one 64-int row per vertex before the exchange (measured: the
    # merge shuffle drops ~10x) and the explode/regroup disappears.
    # Registers, maxes and the exact-integer estimate are identical
    # arithmetic in both forms (zero column == absent register: it
    # contributes 2^REG_CAP to the same bigint total), so the output is
    # bit-for-bit the sparse path's. Above ``WIDE_MAX_M`` (unusably wide
    # rows) the sparse form remains — it is the 100 TB shape for large
    # sketches, and the oracle replays it relationally either way.
    wide = m <= WIDE_MAX_M
    sparse0 = _init_registers(vertices, log2m, hash_fn, seed)
    if wide:
        state = sparse0.select(
            "id",
            *[
                F.when(F.col("pos") == i, F.col("reg"))
                .otherwise(F.lit(0))
                .cast("int")
                .alias(f"r{i}")
                for i in range(m)
            ],
        ).localCheckpoint(eager=True)
        est = _estimates_wide(state, log2m)
        reg_cols = [f"r{i}" for i in range(m)]
    else:
        state = sparse0.localCheckpoint(eager=True)
        # complete=True: init seeds one register per vertex and the
        # monotone union never drops rows, so every vertex always has
        # state — the per-round left join against the vertex table is
        # redundant
        est = _estimates(state, vertices, log2m, complete=True)
    acc = est.select(
        "id",
        F.col("e").alias("prev"),
        F.lit(0.0).alias("harmonic"),
        F.lit(0.0).alias("sum_d"),
        F.lit(0.0).alias("t"),
    ).localCheckpoint(eager=True)
    rounds = [est.select("id", F.lit(0).alias("t"), "e")] if keep_rounds else None

    def signature() -> tuple:
        # exact-integer fixed-point signature, identical value in both
        # state forms: (total nonzero registers, total register sum)
        if wide:
            nz = None
            tot = None
            for c in reg_cols:
                nzt = (F.col(c) > 0).cast("long")
                nz = nzt if nz is None else nz + nzt
                tot = F.col(c) if tot is None else tot + F.col(c)
            r = state.agg(F.sum(nz), F.sum(tot.cast("long"))).first()
        else:
            r = state.agg(F.count(F.lit(1)), F.sum("reg")).first()
        return (r[0], r[1])

    sig = signature() if early_stop else None
    # NOT pre-partitioned by src (unlike kcore/betweenness): the gather
    # join's output feeds a partial aggregation whose compression ratio
    # falls with map-partition count — pinning the edge table to the
    # static session partitioning disabled AQE's coalescing of the join
    # stage and measurably grew the merge shuffle (627 MB → 886 MB at
    # sf0.1). Letting AQE size the join stage wins here.
    e = (
        graph.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Whole-stage codegen is a net loss for the wide merge stages: the
    # generated classes for a 64-column join+union+max-aggregate are so
    # large that Janino compilation costs ~5 s of serial driver wall
    # (paid once per session), while execution is no faster than the
    # interpreted path at this operator shape (measured 10.5 s vs
    # 10.8 s warm at sf0.1). Scope the flag to the wide loop's eager
    # materializations only; everything outside plans under the
    # caller's configuration.
    prev_codegen = None
    if wide:
        prev_codegen = spark.conf.get("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        for t in range(1, max_distance + 1):
            if wide:
                msgs = e.join(
                    state.select(F.col("id").alias("src"), *reg_cols).hint(
                        "shuffle_hash"
                    ),
                    "src",
                ).select(F.col("dst").alias("id"), *reg_cols)
                state = (
                    state.unionByName(msgs)
                    .groupBy("id")
                    .agg(*[F.max(c).alias(c) for c in reg_cols])
                    .localCheckpoint(eager=True)
                )
                est = _estimates_wide(state, log2m)
            else:
                msgs = e.join(
                    state.select(F.col("id").alias("src"), "pos", "reg").hint(
                        "shuffle_hash"
                    ),
                    "src",
                ).select(F.col("dst").alias("id"), "pos", "reg")
                state = (
                    state.unionByName(msgs)
                    .groupBy("id", "pos")
                    .agg(F.max("reg").alias("reg"))
                    .localCheckpoint(eager=True)
                )
                est = _estimates(state, vertices, log2m, complete=True)
            # lazy checkpoint: the accumulator chain is vertex-sized and
            # referenced once per round — cutting lineage lazily drops one
            # scheduled job per round (the final action materializes the
            # chain level by level); the distance ``d`` is the carried
            # ``t`` plus one, so every round runs the same plan
            d = F.col("t") + 1.0
            acc = (
                acc.join(est.hint("shuffle_hash"), "id")
                .select(
                    "id",
                    F.col("e").alias("prev"),
                    (F.col("harmonic") + (F.col("e") - F.col("prev")) / d).alias("harmonic"),
                    (F.col("sum_d") + d * (F.col("e") - F.col("prev"))).alias("sum_d"),
                    d.alias("t"),
                )
                .localCheckpoint(eager=False)
            )
            if keep_rounds:
                rounds.append(est.select("id", F.lit(t).alias("t"), "e"))
            if early_stop:
                new_sig = signature()
                if new_sig == sig:
                    break
                sig = new_sig
    finally:
        if prev_codegen is not None:
            spark.conf.set("spark.sql.codegen.wholeStage", prev_codegen)
        e.unpersist()
    if keep_rounds:
        out = rounds[0]
        for r in rounds[1:]:
            out = out.unionByName(r)
        return out
    return acc.select("id", F.col("prev").alias("size"), "harmonic", "sum_d")


def harmonic_centrality_approx(
    graph: Graph, max_distance: int = 10, log2m: int = 6,
    hash_fn: str = "xxhash64", seed: int = 7,
) -> DataFrame:
    """Approximate harmonic centrality (HyperBallCentrality.scala:57-66)."""
    hb = hyperball(graph, max_distance, log2m, hash_fn, seed)
    return hb.select("id", F.col("harmonic").alias("harmonic"))


def lin_centrality_approx(
    graph: Graph, max_distance: int = 10, log2m: int = 6,
    hash_fn: str = "xxhash64", seed: int = 7,
) -> DataFrame:
    """Approximate Lin's index (HyperBallCentrality.scala:68-84):
    size²/Σd, 1.0 when the coreachable set is empty."""
    hb = hyperball(graph, max_distance, log2m, hash_fn, seed)
    return hb.select(
        "id",
        F.when(F.col("sum_d") <= 0, F.lit(1.0))
        .otherwise(F.col("size") * F.col("size") / F.col("sum_d"))
        .alias("lin"),
    )


def average_distance_approx(
    graph: Graph, max_distance: int = 10, log2m: int = 6,
    hash_fn: str = "xxhash64", seed: int = 7,
) -> DataFrame:
    """Approximate average distance (HyperBallCentrality.scala:86-100)."""
    hb = hyperball(graph, max_distance, log2m, hash_fn, seed)
    return hb.select(
        "id",
        F.when(F.col("size") <= 1.0, F.lit(0.0))
        .otherwise(F.col("sum_d") / (F.col("size") - 1.0))
        .alias("average_distance"),
    )


def _neighbor_sketches(
    graph: Graph, log2m: int, hash_fn: str, seed: int
) -> tuple[DataFrame, DataFrame]:
    """Per-vertex HLL sketch of the UNDIRECTED neighbor set N(v) in
    sparse register form, plus the loop-free symmetric edge set."""
    e0 = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    sym = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    init = _init_registers(
        graph.vertices.select("id"), log2m, hash_fn, seed
    )
    sketches = (
        sym.join(
            init.select(F.col("id").alias("src"), "pos", "reg").hint("shuffle_hash"),
            "src",
        )
        .groupBy(F.col("dst").alias("id"), "pos")
        .agg(F.max("reg").alias("reg"))
    )
    return sketches, sym


def approx_embeddedness(
    graph: Graph, log2m: int = 8, hash_fn: str = "xxhash64", seed: int = 7
) -> DataFrame:
    """ApproxEmbeddedness (reference: ApproxEmbeddedness.scala via
    spark_util/HLLUtils.scala:1-32 — HLL union/inclusion-exclusion):
    per edge (u,v), |N(u) ∩ N(v)| ≈ |N(u)| + |N(v)| − |N(u) ∪ N(v)|,
    every term an HLL estimate. The union sketch is the elementwise max
    of the two endpoint sketches — computed columnar by unioning the
    sparse register rows of both endpoints under the edge key and
    max-reducing; no per-row Python. Returns [src, dst, embeddedness]
    per original directed edge (the exact op's convention)."""
    sketches, sym = _neighbor_sketches(graph, log2m, hash_fn, seed)
    sketches = sketches.persist(StorageLevel.MEMORY_AND_DISK)
    vertices = graph.vertices.select("id")
    sizes = _estimates(sketches, vertices, log2m).select(
        "id", F.col("e").alias("n_size")
    )
    edges = sym.where(F.col("src") < F.col("dst"))
    # union sketch per edge: both endpoints' registers, max per position
    eu = edges.join(
        sketches.select(F.col("id").alias("src"), "pos", "reg").hint("shuffle_hash"),
        "src",
    ).select("src", "dst", "pos", "reg")
    ev = edges.join(
        sketches.select(F.col("id").alias("dst"), "pos", "reg").hint("shuffle_hash"),
        "dst",
    ).select("src", "dst", "pos", "reg")
    union_regs = eu.unionByName(ev).groupBy("src", "dst", "pos").agg(
        F.max("reg").alias("reg")
    )
    union_est = _estimates(
        union_regs.select(
            F.concat_ws("_", "src", "dst").alias("id"), "pos", "reg"
        ),
        union_regs.select(F.concat_ws("_", "src", "dst").alias("id")).distinct(),
        log2m,
    ).select(F.col("id").alias("_k"), F.col("e").alias("u_size"))
    canon = (
        edges.withColumn("_k", F.concat_ws("_", "src", "dst"))
        .join(union_est, "_k")
        .join(sizes.select(F.col("id").alias("src"), F.col("n_size").alias("su")), "src")
        .join(sizes.select(F.col("id").alias("dst"), F.col("n_size").alias("sv")), "dst")
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.greatest(
                F.col("su") + F.col("sv") - F.col("u_size"), F.lit(0.0)
            ).alias("embeddedness"),
        )
    )
    # score every ORIGINAL directed edge (exact op's convention)
    orig = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return orig.join(
        canon,
        (F.least(orig.src, orig.dst) == canon.a)
        & (F.greatest(orig.src, orig.dst) == canon.b),
    ).select("src", "dst", "embeddedness")


def approx_clustering_coefficient(
    graph: Graph, log2m: int = 8, hash_fn: str = "xxhash64", seed: int = 7
) -> DataFrame:
    """ApproxClusteringCoefficient (ApproxClusteringCoefficient.scala):
    closed wedges at v = Σ over incident edges of the approximate
    common-neighbor count, so cc(v) ≈ Σ_u approx_emb(v,u) /
    (deg(v)·(deg(v)−1)); <2-neighbor vertices get 1.0 (the reference's
    convention). Returns [id, clustering_coefficient]."""
    emb = approx_embeddedness(graph, log2m, hash_fn, seed)
    # one score per UNDIRECTED edge (a bundle with both orientations
    # must not double-count the wedge sum)
    canon = emb.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
        "embeddedness",
    ).dropDuplicates(["a", "b"])
    per_vertex = (
        canon.select(F.col("a").alias("id"), "embeddedness")
        .unionByName(canon.select(F.col("b").alias("id"), "embeddedness"))
        .groupBy("id")
        .agg(F.sum("embeddedness").alias("closed"))
    )
    e0 = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    sym = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    return (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .join(per_vertex, "id", "left")
        .select(
            "id",
            F.when(F.coalesce("deg", F.lit(0)) < 2, F.lit(1.0))
            .otherwise(
                F.least(
                    F.greatest(
                        F.coalesce("closed", F.lit(0.0))
                        / (F.col("deg") * (F.col("deg") - 1)),
                        F.lit(0.0),
                    ),
                    F.lit(1.0),
                )
            )
            .alias("clustering_coefficient"),
        )
    )


def neighborhood_function(
    graph: Graph, max_distance: int = 6, log2m: int = 6,
    hash_fn: str = "xxhash64", seed: int = 7, early_stop: bool = False,
) -> DataFrame:
    """N(t) = Σ_v |B_t(v)| for t = 0..max_distance — the global
    neighborhood function (HyperANF). Returns DataFrame[t, nf]."""
    rounds = hyperball(
        graph, max_distance, log2m, hash_fn, seed,
        keep_rounds=True, early_stop=early_stop,
    )
    return rounds.groupBy("t").agg(F.sum("e").alias("nf")).orderBy("t")


def effective_diameter(
    graph: Graph, q: float = 0.9, max_distance: int = 32, log2m: int = 6,
    hash_fn: str = "xxhash64", seed: int = 7,
) -> float:
    """Effective diameter: the (interpolated) smallest t where the
    neighborhood function reaches ``q`` of its final value — the
    standard HyperANF scalar the reference surfaces via NetworKit
    (networkit_compute_scalar.go:25-48 "EffectiveDiameter"). The round
    cap is generous — the loop early-stops at sketch convergence."""
    nf = neighborhood_function(
        graph, max_distance, log2m, hash_fn, seed, early_stop=True
    ).collect()
    if not nf:
        return 0.0
    values = [r["nf"] for r in sorted(nf, key=lambda r: r["t"])]
    target = q * values[-1]
    for t, v in enumerate(values):
        if v >= target:
            if t == 0:
                return 0.0
            lo = values[t - 1]
            return t - 1 + (target - lo) / (v - lo) if v > lo else float(t)
    return float(len(values) - 1)
