"""Fingerprinting — matching vertices between two graphs by network
structure.

Reference: /root/reference/app/com/lynxanalytics/biggraph/graph_operations/
Fingerprinting.scala (377 LoC): for candidate (left, right) pairs,
score similarity as a degree-weighted Jaccard over the two vertices'
neighbor multisets in a common target vertex set, then keep a strong
1:1 matching via iterative stable marriage (proposals in preference
order, ladies keep their best current proposer; Fingerprinting.scala
maxIterations = 30).

DataFrame formulation:
  * similarity — the reference folds each candidate's two neighbor
    maps in one closure; here it is a full-outer join of the two
    candidate-expanded neighbor tables on (left, right, target) and a
    single aggregation: every per-target term (min/max weight × the
    weighting-mode factor) is a column expression, so scoring is one
    shuffle keyed by candidate pair — no per-pair collect;
  * stable marriage — per round, gentlemen propose to their
    ``ptr``-th preference (a join against the ranked preference
    table), each lady keeps the proposer she ranks best (min_by), and
    rejected gentlemen advance their pointer. All-proposals-accepted
    is a fixed point, exactly the reference's stop rule.

Ties in preference order are broken by vertex id (the reference's
``sortBy(-score)`` inherits RDD order — partition-dependent; a
deterministic result is required here, documented deviation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.storagelevel import StorageLevel


def fingerprint_similarities(
    candidates: DataFrame,
    left_edges: DataFrame,
    right_edges: DataFrame,
    min_overlap: int = 1,
    min_similarity: float = 0.0,
    weighting_mode: str = "InverseInDegree",
    multi_neighbors_preference: float = 0.0,
    score_round: int | None = None,
) -> DataFrame:
    """Similarity per candidate pair (Fingerprinting.scala:127-168).
    ``score_round`` rounds scores at the source (use when a
    cross-engine oracle must rank candidates identically: ties are then
    broken by id, immune to summation-order ulps).
    ``candidates``: [left, right]; ``left_edges``/``right_edges``:
    [src, dst, weight] into the shared target vertex set.
    Returns DataFrame[left, right, similarity]."""
    ldeg = left_edges.groupBy("dst").agg(F.sum("weight").alias("ldeg"))
    rdeg = right_edges.groupBy("dst").agg(F.sum("weight").alias("rdeg"))
    ln = left_edges.join(ldeg, "dst").select(
        F.col("src").alias("left"), F.col("dst").alias("t"), F.col("weight").alias("lw"), "ldeg"
    )
    rn = right_edges.join(rdeg, "dst").select(
        F.col("src").alias("right"), F.col("dst").alias("t"), F.col("weight").alias("rw"), "rdeg"
    )
    pl = candidates.join(ln, "left")
    pr = candidates.join(rn, "right")
    both = pl.join(pr, ["left", "right", "t"], "full_outer")
    has_l = F.col("lw").isNotNull()
    has_r = F.col("rw").isNotNull()
    ds_size = has_l.cast("int") + has_r.cast("int")
    ds_sum = F.coalesce("ldeg", F.lit(0.0)) + F.coalesce("rdeg", F.lit(0.0))
    if weighting_mode == "InDegree":
        w = ds_sum / ds_size
    elif weighting_mode == "InverseInDegree":
        w = ds_size / ds_sum
    elif weighting_mode == "InverseInDegreeBasedHybrid":
        inv = F.least(ds_size / ds_sum, F.lit(1.0))
        w = F.when(has_l, inv).otherwise(1.0 - inv)
    else:
        raise ValueError(f"unknown weighting mode {weighting_mode!r}")
    lw0 = F.coalesce("lw", F.lit(0.0))
    rw0 = F.coalesce("rw", F.lit(0.0))
    scored = both.groupBy("left", "right").agg(
        F.sum(F.when(has_l & has_r, 1).otherwise(0)).alias("common"),
        F.sum(F.least(lw0, rw0) * w).alias("isect"),
        F.sum(F.greatest(lw0, rw0) * w).alias("union_"),
    )
    sim = F.col("isect") / (F.col("union_") + F.lit(multi_neighbors_preference))
    if score_round is not None:
        sim = F.round(sim, score_round)
    out = scored.where(F.col("common") >= min_overlap).select(
        "left", "right", sim.alias("similarity")
    ).where(F.col("similarity") >= min_similarity)
    if min_overlap <= 0 and min_similarity <= 0:
        # reference keeps no-neighbor candidates at similarity 0
        missing = candidates.join(out.select("left", "right"), ["left", "right"], "left_anti")
        out = out.unionByName(missing.select("left", "right", F.lit(0.0).alias("similarity")))
    return out


def stable_marriage(
    scores: DataFrame,
    gentleman_col: str = "left",
    lady_col: str = "right",
    max_iterations: int = 30,
) -> DataFrame:
    """Iterative stable marriage (Fingerprinting.scala:213-260):
    ``scores``[gentleman, lady, similarity] → 1:1 matching
    [gentleman, lady]. Preference = similarity desc, id asc."""
    g, l = gentleman_col, lady_col
    prefs_g = scores.select(
        F.col(g).alias("g"),
        F.col(l).alias("l"),
        F.row_number()
        .over(W.partitionBy(g).orderBy(F.col("similarity").desc(), F.col(l)))
        .alias("rank"),
    ).localCheckpoint(eager=True)  # cut lineage: prefs_g and prefs_l share
    # the scores parent and meet again in the proposal join
    prefs_l = scores.select(
        F.col(l).alias("l"),
        F.col(g).alias("g"),
        F.row_number()
        .over(W.partitionBy(l).orderBy(F.col("similarity").desc(), F.col(g)))
        .alias("lrank"),
    ).localCheckpoint(eager=True)
    # distinct column name: state shares prefs_g's lineage (and after a
    # localCheckpoint even its exprIds), so a same-name join would be
    # ambiguous
    state = prefs_g.select(F.col("g").alias("_g")).distinct().withColumn(
        "ptr", F.lit(1)
    )
    state = state.localCheckpoint(eager=True)
    resp = None
    for _ in range(max_iterations):
        proposals = state.join(
            prefs_g,
            (F.col("_g") == F.col("g")) & (F.col("ptr") == F.col("rank")),
        ).select("g", "l")
        resp = (
            proposals.join(prefs_l, ["l", "g"])
            .groupBy("l")
            .agg(F.min_by("g", "lrank").alias("g"))
            .select("g", "l")
            .localCheckpoint(eager=True)
        )
        counts = proposals.agg(F.count(F.lit(1))).first()[0]
        accepted = resp.count()
        if counts == accepted:
            break
        rejected = proposals.join(resp, ["g", "l"], "left_anti").select(
            F.col("g").alias("_g"), F.lit(1).alias("_rej")
        )
        state = (
            state.join(rejected, "_g", "left")
            .select(
                "_g",
                (F.col("ptr") + F.coalesce("_rej", F.lit(0))).alias("ptr"),
            )
            .localCheckpoint(eager=True)
        )
    return resp


def fingerprinting(
    candidates: DataFrame,
    left_edges: DataFrame,
    right_edges: DataFrame,
    min_overlap: int = 1,
    min_similarity: float = 0.0,
    weighting_mode: str = "InverseInDegree",
    multi_neighbors_preference: float = 0.0,
    max_iterations: int = 30,
    propose_side: str | None = None,
    score_round: int | None = None,
) -> DataFrame:
    """Full Fingerprinting: similarity scoring + stable matching.
    The smaller side receives proposals (the reference's choice) unless
    ``propose_side`` ("left"/"right") pins the proposing side.
    Returns the matching DataFrame[left, right, similarity]."""
    sims = fingerprint_similarities(
        candidates,
        left_edges,
        right_edges,
        min_overlap,
        min_similarity,
        weighting_mode,
        multi_neighbors_preference,
        score_round,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if propose_side is None:
            n_left, n_right = sims.agg(F.countDistinct("left"), F.countDistinct("right")).first()
            propose_side = "left" if n_right < n_left else "right"
        if propose_side == "left":
            match = stable_marriage(sims, "left", "right", max_iterations)
            out = match.select(F.col("g").alias("left"), F.col("l").alias("right"))
        else:
            match = stable_marriage(sims, "right", "left", max_iterations)
            out = match.select(F.col("l").alias("left"), F.col("g").alias("right"))
        # materialized before ``sims`` is released, or the caller's
        # action would score every candidate again; the matching is
        # 1:1, so this copy is no larger than the smaller side
        result = out.join(sims, ["left", "right"]).localCheckpoint(eager=True)
    finally:
        sims.unpersist()
    return result
