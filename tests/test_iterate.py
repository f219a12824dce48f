"""The superstep driver (plans/iterate.py) and the exit-path guards:
a raising round, an over-budget input and a failing checkpoint store
leave session conf and the CacheManager as they found them, and so
does every operator that runs on the driver."""

import pytest
from pyspark.sql import functions as F

from lynxkite_spark.graph import Graph
from lynxkite_spark.operators.betweenness import betweenness_centrality, closeness_centrality
from lynxkite_spark.operators.centrality import eigenvector_centrality, harmonic_centrality, katz_centrality
from lynxkite_spark.operators.coloring import greedy_coloring
from lynxkite_spark.operators.embeddings import random_walks
from lynxkite_spark.operators.fingerprinting import fingerprinting
from lynxkite_spark.operators.hyperball import hyperball
from lynxkite_spark.operators.kpath import kpath_centrality
from lynxkite_spark.operators.modular import modular_clustering
from lynxkite_spark.operators.sampling import random_walk_sample, vertex_neighborhood
from lynxkite_spark.operators.shortest_path import shortest_path
from lynxkite_spark.plans.checkpoint import CheckpointManager
from lynxkite_spark.plans.iterate import run_supersteps


def _conf(spark):
    return {r["key"]: r["value"] for r in spark.sql("SET").collect()}


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _ring(spark, n=10):
    edges = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)], "src long, dst long")
    return Graph(vertices=spark.range(n).select("id"), edges=edges)


def _inc(df, k):
    return df.select("id", (F.col("x") + 1).alias("x"))


def test_raising_round_releases_pinned_and_leaves_conf(spark):
    spark.catalog.clearCache()
    before = _conf(spark)
    pinned = spark.range(50).persist()
    pinned.count()

    def step(df, k):
        if k == 2:
            raise RuntimeError("round 2 failed")
        return _inc(df, k)

    with pytest.raises(RuntimeError, match="round 2"):
        run_supersteps(spark.range(5).select("id", F.lit(0).alias("x")), step, limit=4, pinned=[pinned])
    assert _cache_empty(spark)
    assert _conf(spark) == before


def test_checkpoint_cadence_history_and_resume(spark, tmp_path):
    cp = CheckpointManager(spark, str(tmp_path / "ckpt"))
    rounds = []

    def step(df, k):
        rounds.append(k)
        return _inc(df, k)

    def run():
        return run_supersteps(
            spark.range(3).select("id", F.lit(0).alias("x")),
            step,
            limit=5,
            key=lambda k: f"inc-{k}",
            checkpoint=cp,
            checkpoint_every=2,
        )

    assert sorted(r["x"] for r in run().collect()) == [5, 5, 5]
    # every second round and the cap
    assert [k for k in range(1, 6) if cp.exists(f"inc-{k}")] == [2, 4, 5]
    side = cp.metrics("inc-5")["metrics"]
    assert side["iteration"] == 5
    assert [h["iteration"] for h in side["history"]] == [1, 2, 3, 4, 5]

    # a rerun resumes from the newest stored round and keeps its history
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt" / "inc-5"))
    rounds.clear()
    assert sorted(r["x"] for r in run().collect()) == [5, 5, 5]
    assert rounds == [5]
    assert [h["iteration"] for h in cp.metrics("inc-5")["metrics"]["history"]] == [1, 2, 3, 4, 5]


def test_change_check_stops_and_drops_prev(spark):
    from lynxkite_spark.plans.iterate import PREV, changed_rows

    def step(df, k):
        # x climbs to 3 and stays there
        return df.select("id", F.least(F.col("x") + 1, F.lit(3)).alias("x"), F.col("x").alias(PREV))

    rounds = []

    def changed(new, old):
        stop, record = changed_rows("x")(new, old)
        rounds.append(record["changed"])
        return stop, record

    out = run_supersteps(spark.range(4).select("id", F.lit(0).alias("x")), step, limit=10, changed=changed)
    assert out.columns == ["id", "x"]
    assert {r["x"] for r in out.collect()} == {3}
    assert rounds == [4, 4, 4, 0]  # three rounds change every vertex, one changes none


def test_operator_with_failing_store_releases_its_caches(spark, tmp_path):
    from lynxkite_spark.operators.labelprop import label_propagation

    class FailingStore(CheckpointManager):
        def save(self, df, key, metrics=None):
            raise OSError("store unavailable")

    spark.catalog.clearCache()
    before = _conf(spark)
    with pytest.raises(OSError, match="store unavailable"):
        label_propagation(
            _ring(spark), max_iterations=3, checkpoint=FailingStore(spark, str(tmp_path)), checkpoint_every=1
        )
    assert _cache_empty(spark)
    assert _conf(spark) == before


def test_hyperball_restores_codegen_when_a_round_raises(spark, monkeypatch):
    from lynxkite_spark.operators import hyperball as hb

    real, calls = hb._estimates_wide, []

    def fail_in_loop(*args, **kwargs):
        # the first call is the pre-loop estimate; the second is round 1
        calls.append(1)
        if len(calls) > 1:
            raise RuntimeError("round failed")
        return real(*args, **kwargs)

    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key, "true")
    monkeypatch.setattr(hb, "_estimates_wide", fail_in_loop)
    with pytest.raises(RuntimeError, match="round failed"):
        hb.hyperball(_ring(spark), max_distance=3, log2m=4)
    assert spark.conf.get(key, "true") == before


def test_edges_for_vertices_over_budget_leaves_no_cache(spark):
    from lynxkite_spark.operators.views import edges_for_vertices

    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="max_edges"):
        edges_for_vertices(_ring(spark), [0, 1, 2, 3], max_edges=2)
    assert _cache_empty(spark)
    # within budget: the result, and still no cache
    assert sorted((r["src"], r["dst"]) for r in edges_for_vertices(_ring(spark), [0], max_edges=2).collect()) == [
        (0, 1),
        (9, 0),
    ]
    assert _cache_empty(spark)


_CALLS = {
    "eigenvector_tol": lambda g, s: eigenvector_centrality(g),
    "eigenvector_iterations": lambda g, s: eigenvector_centrality(g, iterations=5),
    "eigenvector_empty": lambda g, s: eigenvector_centrality(Graph(vertices=g.vertices.limit(0), edges=g.edges.limit(0))),
    "katz": lambda g, s: katz_centrality(g, iterations=5),
    "shortest_path": lambda g, s: shortest_path(g, s.createDataFrame([(0, 0.0)], "id long, distance double")),
    "harmonic": lambda g, s: harmonic_centrality(g, max_distance=3),
    "betweenness": lambda g, s: betweenness_centrality(g, k=4, max_depth=4),
    "closeness": lambda g, s: closeness_centrality(g, k=4, max_depth=4),
    "hyperball": lambda g, s: hyperball(g, max_distance=3, log2m=4),
    "modular_edgeless": lambda g, s: modular_clustering(Graph(vertices=g.vertices, edges=g.edges.limit(0))),
    "modular": lambda g, s: modular_clustering(g, max_rounds=4),
    "kpath": lambda g, s: kpath_centrality(g, k=3),
    "random_walk": lambda g, s: random_walk_sample(g, max_steps=3),
    "random_walks": lambda g, s: random_walks(g, walk_length=4),
    "vertex_neighborhood": lambda g, s: vertex_neighborhood(g, [0, 5], radius=2, max_count=4),
}


@pytest.mark.parametrize("name", sorted(_CALLS))
def test_operator_releases_every_cache_it_pins(spark, name):
    spark.catalog.clearCache()
    _CALLS[name](_ring(spark), spark).collect()
    assert _cache_empty(spark)


def _fingerprinting(g, s):
    from tests.test_fingerprinting import _instance

    cand, left, right = _instance(s)[:3]
    return fingerprinting(cand, left, right, max_iterations=3)


_RAISING = {
    "coloring": lambda g, s: greedy_coloring(g),
    "kpath": lambda g, s: kpath_centrality(g, k=3),
    "random_walk": lambda g, s: random_walk_sample(g, max_steps=3),
    "fingerprinting": _fingerprinting,
    "modular": lambda g, s: modular_clustering(g),
}


@pytest.mark.parametrize("name", sorted(_RAISING))
def test_operator_releases_its_caches_when_a_round_raises(spark, monkeypatch, name):
    """The second local checkpoint of each of these operators is taken
    after it pins its caches (modular: its edges and, in a level, the
    degree table); a failure there releases them all."""
    g = _ring(spark)
    cls = type(g.vertices)
    real, calls = cls.localCheckpoint, []

    def fail_second(df, *args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("round failed")
        return real(df, *args, **kwargs)

    spark.catalog.clearCache()
    monkeypatch.setattr(cls, "localCheckpoint", fail_second)
    with pytest.raises(RuntimeError, match="round failed"):
        _RAISING[name](g, spark)
    assert _cache_empty(spark)


def _compiled(spark, sized):
    """Classes compiled by each repeated and each longer call of
    ``sized = {name: (call of a round count, a count, a larger count or
    None)}``, measured after one call of the smaller count."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for call, short, _ in sized.values():
        call(short).collect()
    added = {}
    for name, (call, short, long) in sized.items():
        for label, n in (("repeat", short), ("longer", long)):
            if n is not None:
                before = compiles.getCount()
                call(n).collect()
                added[name, label] = compiles.getCount() - before
    return added


def test_repeated_calls_reuse_their_generated_code(spark):
    """A second call of an operator compiles no class: its plans hit
    Spark's codegen cache, which the session sizes above the working
    set and keys without the codegen stage id (adaptive execution
    numbers the stages of a round of many exchanges, as in Louvain and
    coloring, in the order their inputs finish), and its change checks
    carry no ``limit`` (whose generated code names a fresh counter
    field on every call). A longer call after a
    shorter one compiles none either: a round reads its number from the
    state, never from a literal, so every round runs the same plan."""
    from lynxkite_spark.operators.components import connected_components
    from lynxkite_spark.operators.kcore import core_decomposition
    from lynxkite_spark.operators.labelprop import label_propagation
    from lynxkite_spark.operators.triangles import triangle_count
    from tests.test_hyperball import _er_graph

    g = _er_graph(spark, n=200)
    added = _compiled(
        spark,
        {
            "star": (lambda n: connected_components(g, algorithm="star"), 0, None),
            "minlabel": (lambda n: connected_components(g, algorithm="minlabel"), 0, None),
            "lpa": (lambda n: label_propagation(g, max_iterations=n), 5, None),
            "kcore": (lambda n: core_decomposition(g), 0, None),
            "triangles": (lambda n: triangle_count(g), 0, None),
            "kpath": (lambda n: kpath_centrality(g, k=n), 3, 6),
            "random_walk": (lambda n: random_walk_sample(g, max_steps=n), 3, 6),
            "random_walks": (lambda n: random_walks(g, walk_length=n), 4, 7),
            "betweenness": (lambda n: betweenness_centrality(g, k=4, max_depth=n), 2, 4),
            "hyperball": (lambda n: hyperball(g, max_distance=n, log2m=4), 2, 4),
            "modular": (lambda n: modular_clustering(g, max_rounds=n, levels=1), 2, 4),
            "modular_portable": (lambda n: modular_clustering(g, max_rounds=n, levels=1, hash_fn="portable"), 2, 4),
            # rounds 1, 2 and 3+ of coloring are different plans: a repeat only
            "coloring": (lambda n: greedy_coloring(_ring(spark), max_iterations=n), 50, None),
        },
    )
    assert added == {key: 0 for key in added}


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn submitted)``, counted by job group."""
    import uuid

    sc, group = spark.sparkContext, f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed by the listener bus
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_converged_run_is_stored_and_its_rerun_is_a_memo_hit(spark, tmp_path):
    """A run that the change check stops stores its stopping round, off
    the cadence, marked ``stop``; a rerun returns it without calling the
    set-up or the round body."""
    from lynxkite_spark.plans.iterate import PREV, changed_rows

    cp = CheckpointManager(spark, str(tmp_path / "ckpt"))
    calls = {"setup": 0, "step": 0}

    def setup():
        calls["setup"] += 1
        return spark.range(4).select("id", F.lit(0).alias("x"))

    def step(df, k):
        # x climbs to 2 and stays there: round 3 changes nothing
        calls["step"] += 1
        return df.select("id", F.least(F.col("x") + 1, F.lit(2)).alias("x"), F.col("x").alias(PREV))

    def run():
        return run_supersteps(
            setup, step, limit=10, changed=changed_rows("x"), key=lambda k: f"x-{k}", checkpoint=cp, checkpoint_every=5
        )

    assert sorted(r["x"] for r in run().collect()) == [2, 2, 2, 2]
    assert calls == {"setup": 1, "step": 3}
    assert [k for k in range(1, 11) if cp.exists(f"x-{k}")] == [3]
    history = cp.metrics("x-3")["metrics"]["history"]
    assert [(h["iteration"], h.get("stop", False)) for h in history] == [(1, False), (2, False), (3, True)]

    calls.update(setup=0, step=0)
    out, jobs = _jobs(spark, run)
    assert calls == {"setup": 0, "step": 0}
    assert jobs == 0
    assert sorted(r["x"] for r in out.collect()) == [2, 2, 2, 2]


def test_store_reads_take_the_schema_from_the_sidecar(spark, tmp_path):
    """``save`` and ``load`` run no schema inference job, and a sidecar
    written without a schema still loads."""
    import json

    cp = CheckpointManager(spark, str(tmp_path / "ckpt"))
    df = spark.range(6).select("id", (F.col("id") * 0.5).alias("v")).localCheckpoint(eager=True)
    saved, save_jobs = _jobs(spark, lambda: cp.save(df, "t"))
    loaded, load_jobs = _jobs(spark, lambda: cp.load("t"))
    # the write and the lineage aggregate's two query stages; reading
    # the schema from each parquet footer added one job per read
    assert (save_jobs, load_jobs) == (3, 0)
    assert loaded.schema.simpleString() == "struct<id:bigint,v:double>"
    want = sorted(tuple(r) for r in df.collect())
    assert sorted(tuple(r) for r in saved.collect()) == want == sorted(tuple(r) for r in loaded.collect())

    sidecar = tmp_path / "ckpt" / "t" / "_lineage.json"
    meta = json.loads(sidecar.read_text())
    del meta["schema"]
    sidecar.write_text(json.dumps(meta))
    assert sorted(tuple(r) for r in cp.load("t").collect()) == want


def _memo_calls():
    from lynxkite_spark.operators.components import connected_components
    from lynxkite_spark.operators.labelprop import label_propagation
    from lynxkite_spark.operators.pagerank import pagerank

    return {
        "pagerank_fixed": lambda g, cp: pagerank(g, iterations=4, tol=None, checkpoint=cp, checkpoint_every=3),
        "pagerank_tol": lambda g, cp: pagerank(g, tol=1e-3, checkpoint=cp),
        "lpa": lambda g, cp: label_propagation(g, checkpoint=cp),
        "star": lambda g, cp: connected_components(g, algorithm="star", checkpoint=cp),
        "minlabel": lambda g, cp: connected_components(g, algorithm="minlabel", checkpoint=cp),
    }


@pytest.mark.parametrize("name", sorted(_memo_calls()))
def test_memo_hit_runs_no_job_and_pins_nothing(spark, tmp_path, name):
    """A call whose final round is stored (the cap, or the round its
    change check stopped at) does no set-up: it submits no Spark job
    before the caller's action, pins no cache, and returns the rows the
    storing run returned."""
    from tests.test_hyperball import _er_graph

    call = _memo_calls()[name]
    g = _er_graph(spark, n=120)
    cp = CheckpointManager(spark, str(tmp_path / "ckpt"))
    first = sorted(tuple(r) for r in call(g, cp).collect())
    spark.catalog.clearCache()
    out, jobs = _jobs(spark, lambda: call(g, cp))
    assert jobs == 0
    assert _cache_empty(spark)
    assert sorted(tuple(r) for r in out.collect()) == first
