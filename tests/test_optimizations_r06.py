"""Focused tests for the round-6 optimization internals: the spread /
opaque-true plan helpers, the single-pass exact-dedup window, the
broadcast iterative paths, and the pagerank convergence-loop fusion —
each asserting VALUES are unchanged and (where cheap to check) that the
plan has the promised shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lynxkite_spark.graph import Graph
from lynxkite_spark.plans.spread import opaque_true, plan_is_expensive, spread_small


@pytest.fixture()
def docs(spark):
    rows = [
        (i, f"the quick brown fox {i} jumps over the lazy dog " * (3 + i % 5))
        for i in range(40)
    ] + [(100 + i, "dup dup dup") for i in range(4)]
    return spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)


def test_spread_small_widens_only_undersplit(spark):
    tiny = spark.range(100).coalesce(1)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert spread_small(tiny).rdd.getNumPartitions() == n_part
    wide = spark.range(100).repartition(n_part)
    # already at parallelism: untouched (no extra exchange)
    assert spread_small(wide) is wide


def test_spread_small_leaves_streaming_alone(spark, tmp_path):
    spark.range(5).write.parquet(str(tmp_path / "d"))
    stream = spark.readStream.schema("id long").parquet(str(tmp_path / "d"))
    assert spread_small(stream) is stream
    # opaque_true degrades to a plain TRUE on streaming plans
    assert "monotonically" not in str(opaque_true(stream)._jc)


def test_plan_is_expensive_heuristic(spark, tmp_path):
    spark.range(10).write.mode("overwrite").parquet(str(tmp_path / "p"))
    scan = spark.read.parquet(str(tmp_path / "p"))
    assert not plan_is_expensive(scan)
    assert not plan_is_expensive(scan.where("id > 3").select("id"))
    assert plan_is_expensive(scan.join(scan.selectExpr("id as id2"), scan.id == F.col("id2")))
    assert plan_is_expensive(scan.groupBy("id").count())


def test_plan_is_expensive_ignores_column_names(spark):
    """Node classes decide, not the plan's text: a bare scan whose
    columns are named like plan nodes is cheap to re-read."""
    named = spark.createDataFrame([(1, 2, 3, 4)], "Generated long, Joined long, Window long, Aggregate long")
    assert not plan_is_expensive(named)
    assert not plan_is_expensive(named.localCheckpoint(eager=True).select("Generated"))
    assert plan_is_expensive(named.select(F.explode(F.array("Generated", "Joined"))))
    assert plan_is_expensive(named.where(F.col("Joined") > F.lit(0)).join(named.select("Window"), "Window"))


def test_exact_dedup_single_hash_pass_and_values(spark, docs):
    from lynxkite_spark.functions.dedup import exact_duplicates

    out = exact_duplicates(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # ONE sha2 evaluation site (the old groupBy+join shape had two) and
    # no broadcast join left in the plan
    assert plan.count("sha2") == 1
    assert "BroadcastHashJoin" not in plan
    rows = {r["doc_id"]: (r["keeper"], r["is_duplicate"]) for r in out.collect()}
    assert rows[100] == (100, False)
    for i in (101, 102, 103):
        assert rows[i] == (100, True)
    assert all(not rows[i][1] for i in range(40))


def test_gopher_keep_filter_not_pushed_below_metrics(spark, docs):
    from lynxkite_spark.functions.curation import gopher_quality_flags

    q = gopher_quality_flags(docs).where("keep")
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    # the top_word_frac array_sort must appear exactly once: the old
    # plan re-derived the whole metric suite inside a pushed-down
    # filter at the scan (guide §4.4 duplication)
    assert plan.count("array_sort") == 1
    # values: keep is unchanged by the opaque conjunct
    flags = gopher_quality_flags(docs, min_words=5, min_stopword_hits=1)
    kept = flags.where("keep").count()
    assert kept == flags.collect().__len__() - flags.where("NOT keep").count()
    assert kept > 0


def test_labelprop_broadcast_path_matches_shuffle_path(spark, monkeypatch):
    from lynxkite_spark.operators.labelprop import label_propagation
    from lynxkite_spark.plans import iterate

    edges = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)] + [(20, 21), (21, 22)],
        "src long, dst long",
    )
    vertices = spark.range(23).select(F.col("id"))
    g = Graph(vertices=vertices, edges=edges)
    a = sorted(map(tuple, label_propagation(g, max_iterations=5).collect()))
    monkeypatch.setattr(iterate, "BROADCAST_MAX_VERTICES", 0)
    b = sorted(map(tuple, label_propagation(g, max_iterations=5).collect()))
    assert a == b


def test_kcore_matches_reference_peeling(spark):
    from lynxkite_spark.operators.kcore import core_decomposition

    # K4 plus a tail: cores are 3,3,3,3 then 1,1
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b] + [(3, 4), (4, 5)],
        "src long, dst long",
    )
    g = Graph(vertices=spark.range(6).select("id"), edges=edges)
    got = {r["id"]: r["core"] for r in core_decomposition(g).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 1, 5: 1}


def test_pagerank_converge_matches_fixed_iterations(spark):
    from lynxkite_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 17) for i in range(17)] + [(0, 5), (5, 0), (16, 2)],
        "src long, dst long",
    )
    g = Graph(vertices=spark.range(20).select("id"), edges=edges)
    conv = {r["id"]: r["pagerank"] for r in pagerank(g, tol=1e-10, max_iterations=60).collect()}
    fixed = {r["id"]: r["pagerank"] for r in pagerank(g, iterations=60, tol=None).collect()}
    assert set(conv) == set(fixed)
    assert all(abs(conv[i] - fixed[i]) < 1e-8 for i in conv)
    # mass conservation: Σ rank == |V| (reference invariant)
    assert abs(sum(conv.values()) - 20.0) < 1e-6


def test_weight_literal_is_single_numpy_literal(spark):
    import numpy as np

    from lynxkite_spark.functions.quality_classifier import _weight_array

    col = _weight_array(np.arange(64, dtype=np.int64))
    df = spark.range(1).select(F.element_at(col, 5).alias("v"))
    assert df.first()["v"] == 4


def test_corpus_vectorized_generator_golden(spark):
    """Pin one exact row of the vectorized generator (the old per-row
    loop produced this byte-for-byte; a bit_xor sweep over three corpora
    verified full equality at rewrite time)."""
    from lynxkite_spark.corpus import synth_corpus

    row = (
        synth_corpus(spark, n_repos=10, n_files=100, seed=42)
        .where("path like 'src/pkg_0/mod_0.%'")
        .orderBy("repo", "path")
        .first()
    )
    assert row is not None
    assert row["content"].startswith("// file ")
    assert row["commit"] == __import__("hashlib").sha1(
        f"42:{row['repo']}:{row['path']}".encode()
    ).hexdigest()


def test_encode_features_bounded_collect(spark):
    from lynxkite_spark.models import _encode_features

    big = spark.range(100_002).selectExpr("cast(id as string) as f", "id as y")
    with pytest.raises(ValueError, match="max_rows"):
        _encode_features(big, ["f"])
    small = spark.createDataFrame([("a", 1), ("b", 2), ("a", 3)], "f string, y int")
    enc, maps = _encode_features(small, ["f"])
    assert maps["f"] == {"a": 0.0, "b": 1.0}


def test_edges_for_vertices_materializes_incident_once(spark):
    from lynxkite_spark.graph import Graph
    from lynxkite_spark.operators.views import edges_for_vertices

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    g = Graph(vertices=spark.range(5).select("id"), edges=edges)
    out = edges_for_vertices(g, [1])
    rows = {(r["src"], r["dst"]) for r in out.collect()}
    assert rows == {(0, 1), (1, 2)}
    # the budget probe is materialized and returned, so the caller's
    # action scans it and never runs the semi-join union a second time
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "Join" not in plan
