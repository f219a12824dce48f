"""Skew handling + physical-plan assertions."""

import pytest
from pyspark.sql import functions as F

from lynxkite_spark.corpus import synth_corpus
from lynxkite_spark.derive import derive_file_edges, derive_repo_edges
from lynxkite_spark.graph import Graph
from lynxkite_spark.operators import pagerank
from lynxkite_spark.plans import iterate
from tests.oracles import pagerank_oracle


def test_pagerank_on_skewed_hub_corpus(spark, monkeypatch):
    """FIXTURES.md skew fixture: ≥30% of files import the hub repo.
    Reversed (``direction="incoming"``), the hub is the gather join's
    skewed ``src`` key; PageRank matches the pure-Python oracle on both
    sides of the broadcast switch."""
    corpus = synth_corpus(spark, n_repos=30, n_files=600, seed=42, hub_fraction=0.4)
    edges, _ = derive_repo_edges(corpus)
    g = Graph.from_edges(edges)
    # hub in-degree check: repo 0 should dominate
    hub_w = (
        edges.groupBy("dst").agg(F.sum("weight").alias("w")).orderBy(F.col("w").desc())
    )
    top = hub_w.first()
    total = edges.agg(F.sum("weight")).first()[0]
    assert top["w"] / total > 0.25

    rows = edges.select("src", "dst", "weight").collect()
    vertices = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    oracle = pagerank_oracle(
        vertices, [(r["dst"], r["src"], r["weight"]) for r in rows], damping=0.85, iterations=5
    )
    for broadcast_max in (iterate.BROADCAST_MAX_VERTICES, 0):
        monkeypatch.setattr(iterate, "BROADCAST_MAX_VERTICES", broadcast_max)
        got = {
            r["id"]: r["pagerank"]
            for r in pagerank(g, iterations=5, tol=None, direction="incoming").collect()
        }
        assert set(got) == set(oracle)
        for k in oracle:
            assert got[k] == pytest.approx(oracle[k], abs=1e-9), (broadcast_max, k)


def test_parquet_scan_prunes_columns(spark):
    """SURVEY §4.1: column pruning must reach the parquet scan — the
    reference needed ProtoTable.minimize for this; we get it from
    Catalyst, but verify it actually happens."""
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = (
        df.select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey") > 100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "l_extendedprice" not in plan  # unused columns pruned
    assert "ReadSchema" in plan or "Scan parquet" in plan


def test_parquet_scan_pushes_filters(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = (
        df.where(F.col("l_orderkey") == 42)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "l_orderkey" in plan.split("PushedFilters")[1][:200]


def test_dictionary_join_is_broadcast(spark):
    """derive.py broadcasts the repo dictionary — assert the plan says so."""
    corpus = synth_corpus(spark, n_repos=10, n_files=50, seed=42)
    edges, _ = derive_repo_edges(corpus)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_pagerank_join_paths_equivalent(spark, monkeypatch):
    """The broadcast and shuffle-hash gather paths are pure
    execution-strategy choices: identical ranks from both."""
    from lynxkite_spark.operators.generators import erdos_renyi

    g = erdos_renyi(spark, n=400, avg_degree=8, seed=7)
    monkeypatch.setattr(iterate, "BROADCAST_MAX_VERTICES", 10**9)
    r_bcast = {r["id"]: r["pagerank"] for r in pagerank(g, iterations=5, tol=None).collect()}
    monkeypatch.setattr(iterate, "BROADCAST_MAX_VERTICES", 0)
    r_shuffle = {r["id"]: r["pagerank"] for r in pagerank(g, iterations=5, tol=None).collect()}
    assert set(r_bcast) == set(r_shuffle)
    for k in r_bcast:
        assert r_bcast[k] == pytest.approx(r_shuffle[k], abs=1e-12)


def test_shuffle_hash_hint_respected(spark):
    """The iterative loops hint shuffle_hash on the small state side so
    the big edge table is never re-sorted per iteration (and AQE must
    not flip it back to a driver-built broadcast — that serial build is
    the scaling killer this engine avoids; see session.py)."""
    big = spark.range(0, 200_000).select(
        (F.col("id") % 50_000).alias("src"), F.col("id").alias("v")
    )
    lookup = spark.range(0, 2_000_000).select(
        F.col("id").alias("src"), (F.col("id") * 2).alias("x")
    )
    j = big.join(lookup.hint("shuffle_hash"), "src")
    j.count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_exact_dedup_shuffles_hash_not_text(spark):
    """VERDICT r1 'What's wrong #3': the dedup shuffle key must be the
    sha2 of the normalized text, never the text itself."""
    from lynxkite_spark.functions.dedup import exact_duplicates

    docs = spark.createDataFrame(
        [(i, f"some document body {i % 7}") for i in range(100)],
        "doc_id long, text string",
    )
    out = exact_duplicates(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every exchange must partition on the hashed key, not the raw text
    for chunk in plan.split("Exchange hashpartitioning(")[1:]:
        assert not chunk[:80].startswith("text#"), chunk[:120]
        assert "text#" not in chunk[: chunk.index(")")], chunk[:120]
    assert "sha2" in plan


def test_lsh_verify_has_no_pairwise_shingle_join(spark):
    """VERDICT r1 'What's wrong #1', tightened in round 5: the verify
    path must not contain a shingle equi-join AT ALL — a shingle shared
    by m candidate docs would cost m^2 join rows no matter which pairs
    LSH proposed (measured quadratic at 250k->500k docs).  Candidates
    are scored by row-local array_intersect instead; the only joins are
    on doc ids, and non-candidate docs are semi-join-pruned before any
    shingling happens."""
    from lynxkite_spark.functions.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(50)],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")
    # materialize() (eager localCheckpoint) would cut the semi-join out
    # of the inspectable plan — replace it with identity for the plan
    # assertions (results unaffected: materialize is a no-op semantically)
    import lynxkite_spark.plans.checkpoint as ckpt

    orig = ckpt.materialize
    ckpt.materialize = lambda df: df
    try:
        out = ngram_jaccard_pairs(docs, candidates=cand)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
    finally:
        ckpt.materialize = orig
    # doc-id pruning semi-join sits below the shingling projection
    assert plan.count("LeftSemi") >= 1
    # the intersection is computed per pair, not via a shingle equi-join
    assert "array_intersect" in plan
    # no join keyed on a shingle column anywhere in the plan
    assert "Join Inner, (sh#" not in plan and "(sh = sh)" not in plan
    # and the result is still correct: only candidate pairs scored
    rows = {(r["a"], r["b"]) for r in out.collect()}
    assert rows <= {(1, 2), (3, 4)}


def test_ranking_has_no_single_partition_window(spark):
    """VERDICT r1 'What's wrong #4': add_ranking must not funnel every
    row through one reducer; the window must be partitioned."""
    from lynxkite_spark.operators.attributes import add_ranking

    df = spark.createDataFrame(
        [(i, float((i * 37) % 101)) for i in range(500)], "id long, key double"
    )
    out = add_ranking(df, "rank", "key")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    # output must equal the global row_number semantics
    got = {r["id"]: r["rank"] for r in out.collect()}
    expected = {
        r[0]: i
        for i, r in enumerate(
            sorted(((r["id"], r["key"]) for r in df.collect()), key=lambda t: (t[1], t[0]))
        )
    }
    assert got == expected


def test_kcore_hindex_has_no_raw_neighborhood_window(spark):
    """VERDICT r1 'What's wrong #6': the h-index window must run on the
    aggregated (id, value) histogram, not the raw gathered messages —
    the plan's window input is an Aggregate, not the edge join. Also
    checks the histogram formulation equals the sorted-prefix h-index."""
    from lynxkite_spark.operators.kcore import h_index_per_vertex

    msgs = spark.createDataFrame(
        [(1, 3), (1, 2), (1, 2), (1, 9), (2, 1), (2, 5)], "id long, n_est long"
    )
    est = spark.createDataFrame([(1, 4), (2, 7)], "id long, est long")
    out = h_index_per_vertex(msgs, est)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    w = plan.find("Window")
    assert w != -1
    below = plan[w:]
    agg = below.find("Aggregate")
    join = below.find("Join")
    assert agg != -1 and (join == -1 or agg < join), below[:400]
    # [3,2,2,9] -> sorted desc [9,3,2,2] -> h = 2; [1,5] -> h = 1
    got = {r["id"]: r["h"] for r in out.collect()}
    assert got == {1: 2, 2: 1}


def test_hyperball_merge_is_hash_join_with_partial_agg(spark):
    """The HyperBall register merge must hash-build the vertex-sized
    sketch table (no per-round sort of the edge stream) and partial-
    aggregate map-side before the exchange."""
    from lynxkite_spark.operators.hyperball import _estimates, _init_registers

    v = spark.range(500).select("id")
    e = spark.createDataFrame(
        [(i, (i * 7) % 500) for i in range(2000)], "src long, dst long"
    )
    state = _init_registers(v, 6, "xxhash64", 7)
    msgs = e.join(
        state.select(F.col("id").alias("src"), "pos", "reg").hint("shuffle_hash"),
        "src",
    ).select(F.col("dst").alias("id"), "pos", "reg")
    merged = state.unionByName(msgs).groupBy("id", "pos").agg(
        F.max("reg").alias("reg")
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    est = _estimates(merged, v, 6)
    p2 = est._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in p2
