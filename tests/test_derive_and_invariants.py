"""Corpus → edge derivation, sha256 integrity, partition invariance,
checkpoint/resume (the north rule's cross-cutting requirements)."""

import pytest
from pyspark.sql import functions as F

from lynxkite_spark.corpus import synth_corpus, with_sha256
from lynxkite_spark.derive import derive_file_edges, derive_repo_edges
from lynxkite_spark.graph import Graph, graph_from_adjacency
from lynxkite_spark.operators import connected_components, pagerank
from lynxkite_spark.plans.checkpoint import CheckpointManager, step_key, table_fingerprint
from lynxkite_spark.plans.snapshots import SnapshotRegistry, well_known_datasets


def test_named_snapshots_roundtrip(spark, tmp_path):
    """ImportOperations.scala:431-453: named, listable saved states —
    save/load/list/delete plus graph snapshots and version history."""
    from lynxkite_spark.graph import example_graph

    reg = SnapshotRegistry(CheckpointManager(spark, str(tmp_path / "snap")))
    df = spark.range(5).withColumn("v", F.col("id") * 2)
    key1 = reg.save("mytable", df)
    back = reg.load("mytable")
    assert {(r["id"], r["v"]) for r in back.collect()} == {(i, 2 * i) for i in range(5)}

    names = [e["name"] for e in reg.list()]
    assert "mytable" in names

    # overwrite=False collides; overwrite re-points and keeps history
    import pytest as _pytest
    with _pytest.raises(ValueError):
        reg.save("mytable", df, overwrite=False)
    df2 = spark.range(3)
    key2 = reg.save("mytable", df2)
    assert key2 != key1
    assert reg.load("mytable").count() == 3
    assert reg.load("mytable", version=key1).count() == 5  # time travel

    g = example_graph(spark)
    reg.save_graph("eg", g)
    g2 = reg.load_graph("eg")
    assert g2.vertices.count() == g.vertices.count()
    assert g2.edges.count() == g.edges.count()

    reg.delete("mytable")
    assert "mytable" not in [e["name"] for e in reg.list()]
    with _pytest.raises(KeyError):
        reg.load("mytable")

    wk = well_known_datasets(spark)
    assert wk["example graph"]().vertices.count() == 4


def test_save_graph_collision_is_atomic(spark, tmp_path):
    """r4 review: a name collision on EITHER side of a graph snapshot
    must fail before anything is committed — no dangling half-snapshot."""
    from lynxkite_spark.graph import example_graph

    reg = SnapshotRegistry(CheckpointManager(spark, str(tmp_path / "snap")))
    g = example_graph(spark)
    # plant an edges-side collision only
    reg.save("g/edges", g.edges)
    with pytest.raises(ValueError):
        reg.save_graph("g", g, overwrite=False)
    # the vertices name must NOT have been created by the failed save
    assert "g/vertices" not in [e["name"] for e in reg.list()]
    # and a retry with overwrite=True succeeds cleanly
    reg.save_graph("g", g, overwrite=True)
    assert reg.load_graph("g").vertices.count() == g.vertices.count()


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_corpus(spark, n_repos=20, n_files=200, seed=42).cache()


def test_corpus_deterministic_and_partition_invariant(spark):
    a = synth_corpus(spark, n_repos=10, n_files=100, seed=42)
    b = synth_corpus(spark, n_repos=10, n_files=100, seed=42).repartition(13)
    ah = a.select(F.sha2(F.concat_ws("|", "repo", "path", "commit", "lang", "content"), 256).alias("h"))
    bh = b.select(F.sha2(F.concat_ws("|", "repo", "path", "commit", "lang", "content"), 256).alias("h"))
    assert ah.exceptAll(bh).count() == 0 and bh.exceptAll(ah).count() == 0


def test_derive_repo_edges(spark, corpus):
    edges, repo_ids = derive_repo_edges(corpus)
    e = edges.collect()
    assert len(e) > 0
    assert all(r["weight"] >= 1.0 for r in e)
    # no self-edges; all endpoints resolve through the dictionary
    ids = {r["id"] for r in repo_ids.collect()}
    assert all(r["src"] in ids and r["dst"] in ids and r["src"] != r["dst"] for r in e)


def test_derive_is_parallelism_invariant(spark, corpus):
    e1, _ = derive_repo_edges(corpus.repartition(2))
    e2, _ = derive_repo_edges(corpus.repartition(17))
    d1 = {(r["src"], r["dst"]): r["weight"] for r in e1.collect()}
    d2 = {(r["src"], r["dst"]): r["weight"] for r in e2.collect()}
    assert d1 == d2


def test_sha256_preserved_through_pipeline(spark, corpus):
    """BASELINE.json:15 — content sha256 equality preserved through every
    transform: tag the corpus, run it through derivation-shaped transforms,
    join back on (repo, path) and compare hashes."""
    tagged = with_sha256(corpus)
    before = tagged.select("repo", "path", "sha256")
    transformed = (
        tagged.repartition(7, "repo")
        .withColumn("n_imports", F.size(F.split("content", "import")) - 1)
        .where(F.col("lang").isNotNull())
        .select("repo", "path", "content", "n_imports")
    )
    after = with_sha256(transformed).select("repo", "path", F.col("sha256").alias("sha_after"))
    joined = before.join(after, ["repo", "path"])
    assert joined.count() == corpus.count()
    assert joined.where(F.col("sha256") != F.col("sha_after")).count() == 0


def test_file_edges(spark, corpus):
    fe = derive_file_edges(corpus)
    assert fe.count() > 0
    assert fe.where(F.col("src") == F.col("dst")).count() == 0


def test_pagerank_partition_invariance_on_derived_graph(spark, corpus):
    """The reference's weak spot we fix (SURVEY.md §5b): results identical
    (to fp tolerance) at different parallelism."""
    edges, _ = derive_repo_edges(corpus)
    g = Graph.from_edges(edges)
    r1 = {r["id"]: r["pagerank"] for r in pagerank(g, iterations=5, tol=None).collect()}
    g2 = Graph.from_edges(edges.repartition(3))
    r2 = {r["id"]: r["pagerank"] for r in pagerank(g2, iterations=5, tol=None).collect()}
    assert set(r1) == set(r2)
    for k in r1:
        assert r1[k] == pytest.approx(r2[k], abs=1e-12)


def test_components_on_derived_graph_partition_invariant(spark, corpus):
    edges, _ = derive_repo_edges(corpus)
    g = Graph.from_edges(edges)
    c1 = {r["id"]: r["component"] for r in connected_components(g).collect()}
    c2 = {r["id"]: r["component"] for r in connected_components(Graph.from_edges(edges.repartition(5))).collect()}
    assert c1 == c2  # bit-identical labels, not just isomorphic


def test_checkpoint_resume(spark, corpus, tmp_path):
    """Kill-after-iteration-k resume (SURVEY.md §5c): a second run with the
    same content-hashed keys starts from the stored iteration and produces
    identical ranks; the lineage sidecar carries per-partition metrics."""
    edges, _ = derive_repo_edges(corpus)
    g = Graph.from_edges(edges)
    fp = table_fingerprint(edges, ["src", "dst"])
    cp = CheckpointManager(spark, str(tmp_path / "ckpt"))

    full = pagerank(g, iterations=6, tol=None, checkpoint=cp, checkpoint_every=3, input_fingerprint=fp)
    ranks_full = {r["id"]: r["pagerank"] for r in full.collect()}
    params = {"damping": 0.85, "iterations": 6, "tol": None, "direction": "outgoing"}
    assert cp.exists(step_key(fp, "pagerank", params, 3))
    assert cp.exists(step_key(fp, "pagerank", params, 6))
    meta = cp.metrics(step_key(fp, "pagerank", params, 6))
    assert meta["total_rows"] == len(ranks_full)
    assert all("checksum" in p and p["rows"] > 0 for p in meta["partitions"])

    # simulate a crash after iteration 3: drop the final checkpoint, resume
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt" / step_key(fp, "pagerank", params, 6)))
    resumed = pagerank(g, iterations=6, tol=None, checkpoint=cp, checkpoint_every=3, input_fingerprint=fp)
    ranks_resumed = {r["id"]: r["pagerank"] for r in resumed.collect()}
    # allclose, not bit-equality: the parquet-loaded checkpoint has a
    # different within-partition row order than the in-memory chain, so
    # float sums downstream may differ in the last ULP (SURVEY.md §7.3 —
    # float reductions are order-sensitive by design; the north rule's
    # contract is allclose 1e-6, asserted here 10^6 x tighter)
    assert set(ranks_resumed) == set(ranks_full)
    assert all(abs(ranks_resumed[k] - ranks_full[k]) < 1e-12 for k in ranks_full)

    # memoization hit: the final round is stored, so the call submits
    # no Spark job and returns the parquet written by the resumed run
    # verbatim, hence bit-identical to THAT run
    from tests.test_iterate import _jobs

    again, jobs = _jobs(
        spark, lambda: pagerank(g, iterations=6, tol=None, checkpoint=cp, checkpoint_every=3, input_fingerprint=fp)
    )
    assert jobs == 0
    assert {r["id"]: r["pagerank"] for r in again.collect()} == ranks_resumed


def _extraction_mismatches(spark, rows):
    """rows: (key, lang, content). The keys whose ``extract_imports``
    result differs from the Python ``re`` oracle's."""
    from lynxkite_spark.derive import extract_imports
    from tests.oracles import imports_oracle

    df = spark.createDataFrame(
        [(k, lg, c, imports_oracle(c, lg)) for k, lg, c in rows],
        "key string, lang string, content string, want array<string>",
    )
    got = extract_imports(F.col("content"), F.col("lang"))
    return sorted(r["key"] for r in df.where(got != F.col("want")).select("key").collect())


# line breaks Python's ``^`` does not follow (lone CR, U+0085, U+2028),
# Unicode separators its ``\s`` takes (NBSP, em space, U+001C), Unicode
# letters and digits its ``\w`` takes, and two it does not (a combining
# accent, the connector punctuation U+203F)
_CRAFTED = {
    "crlf": ("python", "import org_repo_00001.a\r\nimport org_repo_00002.b\r\n"),
    "lone_cr": ("python", "x\rimport org_repo_00001.a"),
    "nel": ("java", "x\x85import org_repo_00001.a;"),
    "line_sep": ("python", "x\u2028import org_repo_00001.a"),
    "nbsp": ("python", "import\xa0org_repo_00001.a"),
    "em_space": ("java", "import\u2003org_repo_00001.a\u2003;"),
    "file_sep": ("python", "import\x1corg_repo_00001.a"),
    "e_acute": ("java", "import org_repo_00001.mod\u00e9_3;"),
    "arabic_digit": ("python", "import org_repo_00001.mod\u0663"),
    "superscript": ("go", '"org_repo_00001.mod\u00b2"'),
    "cjk": ("go", 'import "org_repo_00001.\u65e5\u672c"'),
    "decomposed": ("python", "import org_repo_00001.moda\u0301x"),
    "undertie": ("python", "import org_repo_00001.a\u203fb"),
}

# every code point c as a separator, a name character and a line break
_SWEEP = {
    "python": "import{c}a\nimport b{c}c\nx{c}import d\n",
    "java": "import{c}a;\nimport b{c}c;\nimport e{c};\nx{c}import f;",
    "go": '"a{c}b" "{c}c"',
}


def test_extract_imports_matches_python_re(spark):
    """derive.py's one import extractor runs in the JVM; it must capture
    what Python ``re`` captures (tests/oracles.py) on the synth corpus,
    on crafted content and on every BMP code point, except code points
    the JVM's Unicode tables leave undefined."""
    corpus = synth_corpus(spark, n_repos=40, n_files=800, seed=9)
    files = [(str(i), r["lang"], r["content"]) for i, r in enumerate(corpus.select("lang", "content").collect())]
    assert _extraction_mismatches(spark, files) == []

    assert _extraction_mismatches(spark, [(k, lg, c) for k, (lg, c) in _CRAFTED.items()]) == []

    sweep = [
        (f"{lg}:{cp}", lg, t.format(c=chr(cp)))
        for cp in range(0x10000)
        if not 0xD800 <= cp <= 0xDFFF
        for lg, t in _SWEEP.items()
    ]
    defined = spark._jvm.java.lang.Character.isDefined
    bad = {int(k.split(":")[1]) for k in _extraction_mismatches(spark, sweep)}
    assert [f"U+{cp:04X}" for cp in sorted(bad) if defined(cp)] == []

    # no Python worker anywhere in the derive plans
    for df in (derive_repo_edges(corpus)[0], derive_file_edges(corpus)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_lpa_and_cc_checkpoint_resume(spark, corpus, tmp_path):
    """LPA and connected components resume from the newest stored round
    exactly like PageRank (labels are longs — bit-identical resume)."""
    import shutil

    from lynxkite_spark.operators import connected_components, label_propagation
    from lynxkite_spark.plans.checkpoint import (
        CheckpointManager,
        step_key,
        table_fingerprint,
    )

    edges, _ = derive_repo_edges(corpus)
    g = Graph.from_edges(edges)
    fp = table_fingerprint(edges, ["src", "dst"])

    cp = CheckpointManager(spark, str(tmp_path / "lpa_ckpt"))
    full = {
        r["id"]: r["label"]
        for r in label_propagation(
            g, max_iterations=6, checkpoint=cp, checkpoint_every=2, input_fingerprint=fp
        ).collect()
    }
    params = {"max_iterations": 6, "weighted": False}
    assert cp.exists(step_key(fp, "lpa", params, 2))
    # drop the newest round, resume; exact longs -> bit-identical
    for k in range(6, 2, -1):
        key = step_key(fp, "lpa", params, k)
        if cp.exists(key):
            shutil.rmtree(str(tmp_path / "lpa_ckpt" / key))
    resumed = {
        r["id"]: r["label"]
        for r in label_propagation(
            g, max_iterations=6, checkpoint=cp, checkpoint_every=2, input_fingerprint=fp
        ).collect()
    }
    assert resumed == full

    # star CC finishes on this fixture after round 1 and stores nothing;
    # its resume runs on a 64-long path, which takes several rounds
    path = graph_from_adjacency(spark, {i: [i + 1] for i in range(63)})
    for algorithm, cc_g, cc_fp in (("minlabel", g, fp), ("star", path, "path64")):
        cp2 = CheckpointManager(spark, str(tmp_path / f"cc_ckpt_{algorithm}"))
        full_cc = {
            r["id"]: r["component"]
            for r in connected_components(
                cc_g, algorithm=algorithm, max_iterations=8,
                checkpoint=cp2, checkpoint_every=2, input_fingerprint=cc_fp,
            ).collect()
        }
        params_cc = {"algorithm": algorithm, "max_iterations": 8}
        assert cp2.exists(step_key(cc_fp, "cc", params_cc, 2))
        for k in range(8, 2, -1):
            key = step_key(cc_fp, "cc", params_cc, k)
            if cp2.exists(key):
                shutil.rmtree(str(tmp_path / f"cc_ckpt_{algorithm}" / key))
        resumed_cc = {
            r["id"]: r["component"]
            for r in connected_components(
                cc_g, algorithm=algorithm, max_iterations=8,
                checkpoint=cp2, checkpoint_every=2, input_fingerprint=cc_fp,
            ).collect()
        }
        assert resumed_cc == full_cc
    assert full_cc == {i: 0 for i in range(64)}
