"""One scaling-probe measurement in a FRESH, core-confined process —
the honest model of "the same job on an N-core cluster node".

Why a subprocess per leg (round 5): the in-process protocol ran every
leg inside one persistent 32-core/48g py4j JVM, so a "local[2]" leg
still got the JVM's full complement of GC / shuffle-IO / codegen
threads on the other 30 cores. That subsidizes the 2-core leg (its
throughput includes ~free GC done by 30 idle cores), deflating the
measured 2→8 efficiency: same hour, same probe, the in-process
protocol measured 0.78 where the pinned protocol measured 0.84 —
and the pinned number is the one a real N-core executor node would
produce (its JVM has N cores for EVERYTHING, GC included).

Run via ``taskset -c 0..N-1`` (bench.py does this) so the process —
JVM, Python driver, GC threads, everything — is confined to exactly N
cores. The JVM additionally gets ``-XX:ActiveProcessorCount=N`` so
every internal pool sizes to the leg, not to the host.

Warm-up is a 1-iteration PageRank on a SMALL probe graph with the
identical plan shape (parquet scan → iterative gather join): Spark's
whole-stage codegen cache is keyed by plan shape, not data size, so
the small run compiles and JITs every class the timed run executes at
~1/16 of the full-graph warm-up cost (the full-graph parquet decode
itself happens eagerly inside load_probe_graph, outside the timed
window). bench.py pre-generates both probe parquets before spawning
legs; if the warm cache is missing (standalone use) the leg falls back
to warming on the main graph.

Prints one JSON line on stdout:
  engine leg:  {"cores": N, "eps": float, "wall": float, "edges": int}
  control leg: {"cores": N, "rows_per_sec": float, "wall": float}
(bench.py captures it — the parent's single-JSON-line stdout contract
is preserved.)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WARM_N = 250_000  # small-probe vertex count: same plan shape, ~1/16 cost


def run_engine_leg(spark, n: int, iterations: int) -> dict:
    from bench import _probe_cache_dir, load_probe_graph, probe_edge_count
    from lynxkite_spark.operators import pagerank

    # JIT/codegen warm-up on the small probe (identical plan shape);
    # fall back to the main graph when the small cache is absent
    warm_n = n
    if os.path.exists(os.path.join(_probe_cache_dir(WARM_N, 8, 42), "_SUCCESS")):
        warm_n = WARM_N
    wg = load_probe_graph(spark, warm_n)
    pagerank(wg, damping=0.85, iterations=1, tol=None).count()

    g = load_probe_graph(spark, n)  # eager localCheckpoint: decode paid here
    e = probe_edge_count(n)
    t0 = time.time()
    pagerank(g, damping=0.85, iterations=iterations, tol=None).count()
    wall = time.time() - t0
    return {"eps": e * iterations / wall, "wall": wall, "edges": e}


def run_control_leg(spark, reps: int) -> dict:
    """Pure-Spark control: shuffle join + aggregation with ZERO engine
    code — measures what THIS HOST gives plain Spark SQL at this
    parallelism, bounding the engine's share of any efficiency
    shortfall. Rep 1 doubles as the JIT warm-up (best-of discards it)."""
    from pyspark.sql import functions as F

    n = 24_000_000
    a = spark.range(n).select(
        (F.col("id") % 1_000_000).alias("k"), F.col("id").alias("v"))
    b = spark.range(n // 4).select(
        (F.col("id") % 1_000_000).alias("k"), (F.col("id") * 3).alias("w"))
    best = float("inf")
    for _ in range(reps + 1):
        t0 = time.time()
        a.join(b, "k").groupBy("k").agg(F.sum("v"), F.count("w")).count()
        best = min(best, time.time() - t0)
    return {"rows_per_sec": n / best, "wall": best}


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--iterations", type=int, default=2)
    ap.add_argument("--n", type=int, default=4_000_000)
    ap.add_argument("--parts", type=int, default=64)
    ap.add_argument("--reps", type=int, default=1,
                    help="control-kernel timed reps (engine leg is 1)")
    ap.add_argument("--control", action="store_true",
                    help="run the zero-engine-code Spark SQL control kernel")
    ap.add_argument("--heap", default=None,
                    help="JVM heap for this leg (default: session.default_heap(), "
                         "the same for every leg)")
    args = ap.parse_args()

    # PAIR-CONSTANT HEAP: both legs of the N/4N comparison get the same
    # heap, so the efficiency ratio isolates CPU scaling. A heap that
    # grew with the core count starved the small leg: the cached probe
    # and the PageRank working set are the SAME size at both levels, so
    # the small leg spilled what the large one held in memory, which
    # manufactured a superlinear efficiency. The heap is sized to the
    # host (``default_heap()``), never above its memory: the heap is
    # pre-touched below, so an oversized one fails at JVM start.
    from lynxkite_spark.session import default_heap, get_spark  # noqa: E402

    heap = args.heap or default_heap()
    os.environ["SPARK_DRIVER_MEMORY"] = heap
    # every thread pool inside the JVM sizes to the leg's core count
    apc = f"-XX:ActiveProcessorCount={args.cores}"
    prev = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{prev} {apc}".strip()

    spark = get_spark(
        cores=args.cores,
        shuffle_partitions=args.parts,
        app_name=f"scale_leg_{args.cores}",
        extra_conf={
            # identical static plan at every level (BENCH/BASELINE.md)
            "spark.sql.adaptive.enabled": "false",
            # FIXED, PRE-TOUCHED heap: -Xms == -Xmx stops the collector
            # (Parallel, from get_spark) from shrinking the heap and
            # uncommitting idle pages (on a Firecracker host with
            # free-page reporting every uncommit is reclaimed by the
            # hypervisor and re-faulted on the next GC cycle — measured
            # under G1: 2-5x slowdown and 17-21s young GCs on the probe
            # job);
            # AlwaysPreTouch moves ALL first-touch faults into JVM
            # startup, outside the leg's timed window. Same flags a real
            # cluster's executor JVMs run with (Xms=Xmx is standard).
            "spark.driver.extraJavaOptions":
                f"{apc} -Xms{heap} -XX:+AlwaysPreTouch",
        },
    )
    if args.control:
        out = run_control_leg(spark, args.reps)
    else:
        out = run_engine_leg(spark, args.n, args.iterations)
    spark.stop()
    print(json.dumps({"cores": args.cores, "heap": heap, **out}), flush=True)


if __name__ == "__main__":
    main()
