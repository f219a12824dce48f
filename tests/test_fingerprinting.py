"""Fingerprinting vs a literal Python port of the reference's
similarity fold and proposal loop (Fingerprinting.scala)."""

import pytest
from pyspark.sql import functions as F

from lynxkite_spark.operators.fingerprinting import (
    fingerprint_similarities,
    fingerprinting,
    stable_marriage,
)


def _instance(spark, seed=4):
    """Deterministic bipartite matching instance: lefts/rights connect
    to shared targets with hash-derived weights."""
    import itertools

    lefts = range(0, 12)
    rights = range(100, 110)
    targets = range(1000, 1020)

    def h(*xs):
        v = seed
        for x in xs:
            v = (v * 1_000_003 + x) % 2_147_483_647
        return v

    le = [
        (l, t, 1.0 + (h(l, t) % 5))
        for l, t in itertools.product(lefts, targets)
        if h(l, t, 7) % 3 == 0
    ]
    re_ = [
        (r, t, 1.0 + (h(r, t) % 5))
        for r, t in itertools.product(rights, targets)
        if h(r, t, 11) % 3 == 0
    ]
    cand = [(l, r) for l, r in itertools.product(lefts, rights) if h(l, r) % 2 == 0]
    return (
        spark.createDataFrame(cand, "left long, right long"),
        spark.createDataFrame(le, "src long, dst long, weight double"),
        spark.createDataFrame(re_, "src long, dst long, weight double"),
        cand,
        le,
        re_,
    )


def _ref_similarities(cand, le, re_, min_overlap, min_sim, mode="InverseInDegree", mnp=0.0):
    """Literal port of Fingerprinting.scala:127-168."""
    from collections import defaultdict

    ldeg, rdeg = defaultdict(float), defaultdict(float)
    for _, t, w in le:
        ldeg[t] += w
    for _, t, w in re_:
        rdeg[t] += w
    ln, rn = defaultdict(dict), defaultdict(dict)
    for s, t, w in le:
        ln[s][t] = (w, ldeg[t])
    for s, t, w in re_:
        rn[s][t] = (w, rdeg[t])
    out = {}
    for l, r in cand:
        a, b = ln.get(l, {}), rn.get(r, {})
        common = set(a) & set(b)
        if not common:
            continue
        if len(common) < min_overlap:
            continue
        allk = set(a) | set(b)
        weights = {}
        for k in allk:
            ds = [d for d in (a.get(k, (None, None))[1], b.get(k, (None, None))[1]) if d is not None]
            weights[k] = len(ds) / sum(ds)
        isect = sum(min(a.get(k, (0.0,))[0], b.get(k, (0.0,))[0]) * weights[k] for k in common)
        union = sum(max(a.get(k, (0.0,))[0], b.get(k, (0.0,))[0]) * weights[k] for k in allk)
        sim = isect / (union + mnp)
        if sim >= min_sim:
            out[(l, r)] = sim
    return out


def test_similarities_match_reference_fold(spark):
    cand_df, le_df, re_df, cand, le, re_ = _instance(spark)
    got = {
        (r["left"], r["right"]): r["similarity"]
        for r in fingerprint_similarities(cand_df, le_df, re_df, min_overlap=1).collect()
    }
    expected = _ref_similarities(cand, le, re_, 1, 0.0)
    assert set(got) == set(expected)
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-12), k


def test_fingerprinting_returns_a_materialized_matching(spark):
    """The result is materialized before the similarity cache is
    released: the caller's action reads it, it does not score the
    candidates again."""
    cand_df, le_df, re_df = _instance(spark)[:3]
    out = fingerprinting(cand_df, le_df, re_df, min_overlap=1)
    assert "Join" not in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.count() > 0


def test_stable_marriage_is_stable_and_one_to_one(spark):
    cand_df, le_df, re_df, cand, le, re_ = _instance(spark)
    sims = {
        (r["left"], r["right"]): r["similarity"]
        for r in fingerprint_similarities(cand_df, le_df, re_df, min_overlap=1).collect()
    }
    match = {
        (r["left"], r["right"])
        for r in fingerprinting(
            cand_df, le_df, re_df, min_overlap=1, propose_side="left"
        ).collect()
    }
    # 1:1
    assert len({l for l, _ in match}) == len(match)
    assert len({r for _, r in match}) == len(match)
    assert match <= set(sims)
    # stability with deterministic (sim desc, id asc) preferences: no
    # blocking pair (l, r) both strictly preferring each other over
    # their assigned partners
    def pref_key(sim, vid):
        return (-sim, vid)

    l_of = {l: r for l, r in match}
    r_of = {r: l for l, r in match}
    for (l, r), s in sims.items():
        if (l, r) in match:
            continue
        cur_r = l_of.get(l)
        cur_l = r_of.get(r)
        l_prefers = cur_r is None or pref_key(s, r) < pref_key(sims[(l, cur_r)], cur_r)
        r_prefers = cur_l is None or pref_key(s, l) < pref_key(sims[(cur_l, r)], cur_l)
        assert not (l_prefers and r_prefers), (l, r)


def test_weighting_modes_run(spark):
    cand_df, le_df, re_df, *_ = _instance(spark)
    for mode in ["InDegree", "InverseInDegree", "InverseInDegreeBasedHybrid"]:
        n = fingerprint_similarities(
            cand_df, le_df, re_df, min_overlap=1, weighting_mode=mode
        ).count()
        assert n > 0
