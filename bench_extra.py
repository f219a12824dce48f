"""Measurement sidecar for OPTIMIZATION r06 (guide §1: measure first).

Replicates the FROZEN bench.py suite query-for-query (same calls, same
order, same session shape) with precise per-query wall windows, runs it
against a session with event logging enabled, then attributes per-task
executor metrics (run time, GC time, shuffle bytes, fetch wait) to each
query's window. bench.py itself stays untouched — the driver still times
the round with the round-start copy; numbers printed here are evidence
for OPTIMIZATION_r06.md only.

Usage:
  python bench_extra.py                     # instrumented suite
  python bench_extra.py --only q_docs_exact_dedup q_docs_minhash_dedup
  python bench_extra.py --reps 3            # repeat each query in-session
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

EVDIR = "/tmp/spark-events"


def get_instrumented_spark(cpus: int):
    from lynxkite_spark.session import get_spark

    os.makedirs(EVDIR, exist_ok=True)
    return get_spark(
        cores=cpus,
        shuffle_partitions=cpus,
        app_name="bench_extra",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )


# --------------------------------------------------------------- suite twin


def suite_queries(spark, sf_dir: str):
    """Yield (name, thunk) in the exact order bench.run_suite times them.
    Each thunk runs the identical action bench.py times."""
    from bench import coorder_graph, rows_digest
    from lynxkite_spark.corpus import synth_corpus
    from lynxkite_spark.derive import derive_repo_edges
    from lynxkite_spark.functions.curation import (
        contaminated_docs,
        dsir_resample,
        gopher_quality_flags,
        gopher_repetition_flags,
        pack_sequences,
    )
    from lynxkite_spark.functions.dedup import (
        exact_duplicates,
        minhash_dedup,
        simhash,
    )
    from lynxkite_spark.functions.similarity import (
        ann_lsh_topk,
        auto_band_geometry,
        brute_force_topk,
    )
    from lynxkite_spark.functions.text import tokens as _tok
    from lynxkite_spark.graph import Graph
    from lynxkite_spark.operators import (
        connected_components,
        label_propagation,
        pagerank,
        triangle_count,
    )
    from lynxkite_spark.operators.betweenness import betweenness_centrality
    from lynxkite_spark.operators.hyperball import hyperball
    from lynxkite_spark.operators.kcore import core_decomposition

    g_sym = coorder_graph(spark, sf_dir, symmetric=True)
    g_canon = coorder_graph(spark, sf_dir, symmetric=False)
    g_sym.edges.count()

    yield (
        "q_pagerank_converge",
        lambda: pagerank(g_sym, damping=0.85, tol=1e-6, max_iterations=100).count(),
    )
    yield (
        "q_connected_components",
        lambda: rows_digest(connected_components(g_canon, algorithm="star")),
    )
    yield ("q_triangle_count", lambda: rows_digest(triangle_count(g_canon)))
    yield (
        "q_label_propagation",
        lambda: label_propagation(g_canon, max_iterations=10).count(),
    )

    state = {}

    def derive():
        corpus = synth_corpus(spark, n_repos=2000, n_files=200_000, seed=42)
        state["corpus"] = corpus
        edges, _ = derive_repo_edges(corpus)
        state["edges"] = edges
        edges.count()

    yield ("q_corpus_derive", derive)
    yield (
        "q_corpus_pagerank",
        lambda: pagerank(
            Graph.from_edges(state["edges"]), damping=0.85, tol=1e-6,
            max_iterations=100,
        ).count(),
    )
    # the same derive again, on a warm session (the key is kept from
    # when this timed a second extractor)
    yield (
        "q_corpus_derive_builtin",
        lambda: derive_repo_edges(state["corpus"])[0].count(),
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    yield ("q_docs_exact_dedup", lambda: exact_duplicates(docs).count())
    yield (
        "q_docs_minhash_dedup",
        lambda: minhash_dedup(docs, num_hashes=64, bands=16, threshold=0.5).count(),
    )
    yield (
        "q_docs_minhash_estimate",
        lambda: minhash_dedup(
            docs, num_hashes=64, bands=16, threshold=0.5, verify="estimate"
        ).count(),
    )
    yield ("q_docs_simhash", lambda: simhash(docs).count())
    yield (
        "q_docs_gopher_quality",
        lambda: gopher_quality_flags(docs).where("keep").count(),
    )
    yield (
        "q_docs_decontaminate",
        lambda: contaminated_docs(
            docs.where(F.col("doc_id") % 25 != 0),
            docs.where(F.col("doc_id") % 25 == 0),
            n=5,
        ).count(),
    )
    yield (
        "q_docs_pack_sequences",
        lambda: pack_sequences(
            docs.select("doc_id", F.size(_tok(F.col("text"))).alias("n_tokens")),
            max_tokens=2048, token_col="n_tokens", num_groups=64,
        ).select("pack_group", "chunk").distinct().count(),
    )
    yield (
        "q_docs_gopher_repetition",
        lambda: gopher_repetition_flags(docs).where("rep_keep").count(),
    )

    from lynxkite_spark.functions.quality_classifier import (
        score_quality,
        synthetic_quality_training_set,
        train_quality_classifier,
    )

    texts, labels = synthetic_quality_training_set()
    labeled = spark.createDataFrame(
        list(zip(texts, labels)), "text string, label int"
    )

    def clf_train():
        state["model"] = train_quality_classifier(
            labeled, n_buckets=4096, iterations=10
        )

    yield ("q_docs_quality_clf_train", clf_train)
    yield (
        "q_docs_quality_clf_score",
        lambda: score_quality(docs, state["model"]).where("keep").count(),
    )
    yield (
        "q_docs_dsir_sample",
        lambda: dsir_resample(
            docs.where(F.col("doc_id") % 13 != 0).select("doc_id", "text"),
            docs.where(F.col("doc_id") % 13 == 0),
            k=100, n_buckets=4096, seed=5,
        ).where("selected").count(),
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = embs.where(F.col("vec_id") < 100)

    def bf_run():
        bf = brute_force_topk(embs, q, k=10).select("query_id", "neighbor_id")
        bf = bf.persist()
        state["bf"] = bf
        state["bf_rows"] = bf.count()

    yield ("q_emb_bruteforce_topk", bf_run)

    def auto_geo():
        state["auto"] = auto_band_geometry(embs, q, k=10)

    yield ("q_emb_ann_auto_geometry", auto_geo)

    def ann_default():
        r, b = state["auto"]
        a = ann_lsh_topk(embs, q, k=10, n_planes=r, bands=b).select(
            "query_id", "neighbor_id").persist()
        a.count()
        state["ann"] = a

    yield ("q_emb_ann_default", ann_default)
    yield (
        "q_emb_ann_default_recall_join",
        lambda: state["ann"].join(state["bf"], ["query_id", "neighbor_id"]).count(),
    )

    def ann_hr():
        a = ann_lsh_topk(embs, q, k=10, profile="high_recall").select(
            "query_id", "neighbor_id").persist()
        a.count()
        state["ann_hr"] = a

    yield ("q_emb_ann_high_recall", ann_hr)
    yield (
        "q_emb_ann_high_recall_recall_join",
        lambda: state["ann_hr"].join(state["bf"], ["query_id", "neighbor_id"]).count(),
    )

    yield (
        "q_hyperball_4hops",
        lambda: hyperball(g_canon, max_distance=4, log2m=6).count(),
    )
    yield (
        "q_kcore_8rounds",
        lambda: core_decomposition(g_canon, max_iterations=8).count(),
    )
    yield (
        "q_betweenness_8roots",
        lambda: betweenness_centrality(g_canon, k=8, max_depth=4).count(),
    )


# ------------------------------------------------------------ event parsing


def _event_lines(app_id: str):
    """Yield event-log lines for either layout: single file (v1) or the
    Spark 4 rolling dir ``eventlog_v2_<appid>/events_*``."""
    import glob

    single = os.path.join(EVDIR, app_id)
    if os.path.isfile(single):
        paths = [single]
    else:
        paths = sorted(glob.glob(os.path.join(EVDIR, f"eventlog_v2_{app_id}", "events_*")))
    for p in paths:
        with open(p) as f:
            yield from f


def parse_event_log(app_id: str) -> list[dict]:
    tasks = []
    if True:
        for line in _event_lines(app_id):
            if '"Event":"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            ti = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            srm = tm.get("Shuffle Read Metrics") or {}
            swm = tm.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "launch": ti.get("Launch Time", 0),
                    "run_ms": tm.get("Executor Run Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "deser_ms": tm.get("Executor Deserialize Time", 0),
                    "sh_read": srm.get("Remote Bytes Read", 0)
                    + srm.get("Local Bytes Read", 0),
                    "fetch_wait_ms": srm.get("Fetch Wait Time", 0),
                    "sh_write": swm.get("Shuffle Bytes Written", 0),
                }
            )
    return tasks


def attribute(tasks: list[dict], windows: list[tuple[str, float, float]]) -> dict:
    out = {}
    for name, t0, t1 in windows:
        w = [t for t in tasks if t0 * 1000 <= t["launch"] < t1 * 1000]
        out[name] = {
            "wall_s": round(t1 - t0, 2),
            "tasks": len(w),
            "run_s": round(sum(t["run_ms"] for t in w) / 1000, 1),
            "gc_s": round(sum(t["gc_ms"] for t in w) / 1000, 1),
            "deser_s": round(sum(t["deser_ms"] for t in w) / 1000, 1),
            "fetch_wait_s": round(sum(t["fetch_wait_ms"] for t in w) / 1000, 1),
            "sh_read_mb": round(sum(t["sh_read"] for t in w) / 1e6, 1),
            "sh_write_mb": round(sum(t["sh_write"] for t in w) / 1e6, 1),
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", nargs="*", default=None,
                    help="run only these queries (setup thunks still run)")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--no-attr", action="store_true",
                    help="skip event-log attribution (timing only)")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_instrumented_spark(cpus)
    app_id = spark.sparkContext.applicationId

    # thunks some queries depend on (persisted bf, auto geometry, model,
    # corpus) must always run; --only restricts which are *timed/repeated*
    needed_always = {
        "q_corpus_derive", "q_docs_quality_clf_train", "q_emb_bruteforce_topk",
        "q_emb_ann_auto_geometry", "q_emb_ann_default", "q_emb_ann_high_recall",
    }
    windows: list[tuple[str, float, float]] = []
    times: dict[str, list[float]] = {}
    for name, thunk in suite_queries(spark, sf_dir):
        if args.only and name not in args.only:
            if name in needed_always:
                thunk()
            continue
        reps = args.reps
        for r in range(reps):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            thunk()
            t1 = time.time()
            spark.sparkContext.setJobDescription(None)
            windows.append((f"{name}#{r}" if reps > 1 else name, t0, t1))
            times.setdefault(name, []).append(round(t1 - t0, 3))
    spark.stop()

    print(json.dumps({"times": times}))
    with open("/tmp/bench_extra_windows.json", "w") as f:
        json.dump({"app_id": app_id, "windows": windows}, f)
    if args.no_attr:
        return
    time.sleep(1)
    tasks = parse_event_log(app_id)
    att = attribute(tasks, windows)
    hdr = (
        f"{'query':44s} {'wall':>7} {'tasks':>6} {'run':>7} {'gc':>6} "
        f"{'deser':>6} {'fetchw':>6} {'shrdMB':>7} {'shwrMB':>7}"
    )
    print(hdr)
    for name, m in att.items():
        print(
            f"{name:44s} {m['wall_s']:7.2f} {m['tasks']:6d} {m['run_s']:7.1f} "
            f"{m['gc_s']:6.1f} {m['deser_s']:6.1f} {m['fetch_wait_s']:6.1f} "
            f"{m['sh_read_mb']:7.1f} {m['sh_write_mb']:7.1f}"
        )


if __name__ == "__main__":
    main()
