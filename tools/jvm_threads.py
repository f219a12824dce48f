#!/usr/bin/env python3
"""Driver JVM CPU by thread class and memory by mapping, around each
phase of a perfbench run.

    python3 tools/jvm_threads.py --workload repo_graph --seed 1 --passes 2

Runs a perfbench workload the way ``perfbench/run.py`` does: the
session, its set-up loads, the warm-up pass, then ``--passes`` passes.
Around each phase it reads every thread of the driver JVM from
``/proc/<pid>/task/*/stat`` and prints one row of CPU seconds per
thread class:

- ``C2`` and ``C1``: the JIT compiler threads (tier 4, tiers 1-3)
- ``tasks``: executor task threads (``Executor task launch worker``)
- ``driver``: the JVM's main thread, py4j connections (``Thread-N``)
  and adaptive execution's stage and exchange threads: planning,
  Janino compiles on the driver and broadcast builds
- ``sched``: the DAG scheduler, RPC dispatch, block manager, map-output
  tracker, listener bus and heartbeats
- ``GC``: the collector's worker threads (``GC Thread#N``), its
  concurrent threads when it has them (G1's ``G1 …``) and the VM
  thread (safepoints)
- ``other``: every other thread; ``exited``: CPU of threads that
  ended before a sample saw it (the process total less the rest)

HotSpot retires idle compiler threads (``UseDynamicNumberOfCompilerThreads``)
and Spark ends idle pool threads, so a background thread samples every
thread each ``SAMPLE_S`` and keeps an ended thread's last reading.

After each phase it also reads the JVM's peak resident set (``VmHWM``)
and, from ``/proc/<pid>/smaps``, the resident MB of the Java heap's
mapping (its address range asked of the JVM once), of the class-data
archives (``.jsa``, the JDK's and the engine's) and of everything else.

A change that moves set-up or pass CPU, or peak RSS, shows here in
which layer it moved. Uses the benchmark's own inputs, work directory
and session settings, and changes no file of it. Linux only.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import host, inputs  # noqa: E402
from perfbench.results import Ledger  # noqa: E402
from perfbench.run import SETUP_LOADS, require_engine, stop_spark  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

# (class, thread-name prefixes); a thread's name is cut to 15 characters
CLASSES = (
    ("C2", ("C2 CompilerThre",)),
    ("C1", ("C1 CompilerThre",)),
    ("tasks", ("Executor task l",)),
    ("driver", ("java", "Thread-", "QueryStageCreat", "ResultQueryStag", "shuffle-exchang", "broadcast-excha", "subquery-")),
    (
        "sched",
        (
            "dag-scheduler",
            "dispatcher-",
            "task-result-get",
            "spark-listener",
            "block-manager",
            "map-output",
            "netty-rpc",
            "rpc-",
            "heartbeat",
            "executor-heartb",
            "driver-heartbea",
            "context-cleaner",
        ),
    ),
    ("GC", ("GC Thread", "G1 ", "VM Thread")),
)
COLUMNS = [name for name, _ in CLASSES] + ["other", "exited"]
TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.2


def _cpu(stat: str) -> tuple[str, float]:
    """(thread name, utime + stime in seconds) of one ``stat`` line."""
    name, rest = stat[stat.index("(") + 1 :].rsplit(")", 1)
    fields = rest.split()
    return name, (int(fields[11]) + int(fields[12])) / TICK


def snapshot(pid: int) -> tuple[float, dict[int, tuple[str, float]]]:
    """The process's CPU seconds and each live thread's (class, CPU seconds)."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                name, cpu = _cpu(f.read())
        except OSError:  # the thread ended while we listed it
            continue
        threads[int(tid)] = (next((c for c, prefixes in CLASSES if name.startswith(prefixes)), "other"), cpu)
    with open(f"/proc/{pid}/stat") as f:  # read last, so it covers the threads
        return _cpu(f.read())[1], threads


class Sampler(threading.Thread):
    """Snapshots the JVM every ``SAMPLE_S`` until stopped; ``read()``
    takes one more and returns the process total with every thread ever
    seen, an ended one at its last reading."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.seen: dict[int, tuple[str, float]] = {}
        self.lock = threading.Lock()
        self.done = threading.Event()

    def read(self) -> tuple[float, dict[int, tuple[str, float]]]:
        total, threads = snapshot(self.pid)
        with self.lock:
            self.seen.update(threads)
            return total, dict(self.seen)

    def run(self) -> None:
        while not self.done.wait(SAMPLE_S):
            try:
                self.read()
            except OSError:  # the JVM is gone
                return


def delta(before, after) -> dict[str, float]:
    """CPU seconds per class between two readings; what no reading saw
    counts in ``exited``."""
    out = dict.fromkeys(COLUMNS, 0.0)
    for tid, (cls, cpu) in after[1].items():
        out[cls] += cpu - before[1].get(tid, (cls, 0.0))[1]
    out["exited"] = after[0] - before[0] - sum(out.values())
    return out


def heap_range(spark) -> tuple[int, int]:
    """The driver JVM's heap reservation ``[lo, hi)``, from the JVM's own
    ``GC.heap_info`` diagnostic command. The call goes through the
    public ``MBeanServer`` interface: py4j cannot reach the methods of
    its implementing class, which sits in an unexported package."""
    jvm, gateway = spark._jvm, spark.sparkContext._gateway
    server = jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer()
    methods = jvm.java.lang.Class.forName("javax.management.MBeanServer").getMethods()
    invoke = next(m for m in methods if m.getName() == "invoke")
    args = gateway.new_array(jvm.java.lang.Object, 4)
    args[0] = jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand")
    args[1] = "gcHeapInfo"
    args[2] = gateway.new_array(jvm.java.lang.Object, 0)
    args[3] = gateway.new_array(jvm.java.lang.String, 0)
    # every address before the Metaspace line bounds a heap space
    heap = invoke.invoke(server, args).split(" Metaspace")[0]
    addresses = [int(a, 16) for a in re.findall(r"0x[0-9a-f]+", heap)]
    return min(addresses), max(addresses)


def memory(pid: int, heap: tuple[int, int]) -> dict[str, float]:
    """``VmHWM`` and the resident MB of the heap mapping, the ``.jsa``
    mappings and the rest, from ``/proc/<pid>/smaps``."""
    out = dict.fromkeys(("heap", "jsa", "rest"), 0.0)
    with open(f"/proc/{pid}/smaps") as f:
        for line in f:
            fields = line.split()
            if not fields[0].endswith(":"):  # a mapping's header: range, perms, ..., path
                start = int(fields[0].split("-")[0], 16)
                part = "heap" if heap[0] <= start < heap[1] else "jsa" if fields[-1].endswith(".jsa") else "rest"
            elif fields[0] == "Rss:":
                out[part] += int(fields[1]) / 1024
    return {"VmHWM": host.vm_hwm_mb(pid), **out}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--passes", type=int, default=2)
    p.add_argument("--java-options", default="", help="added to the driver JVM's extraJavaOptions, for probe flags")
    args = p.parse_args(argv)
    require_engine()
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    cache = ROOT / ".bench_cache" / "perfbench"
    work = cache / "work" / f"jvm_threads-{cls.name}-s{args.seed}-{os.getpid()}"
    entry, meta = inputs.InputCache(cache / "inputs").get(cls.name, cls.params, args.seed, cls.build)
    ncores, heap = host.cores(), host.heap_mb()
    host.isolate(ROOT, work, heap)
    from lynxkite_spark.session import get_spark

    ledger = Ledger()
    rows = []
    try:
        conf = host.spark_conf(work, heap, None)
        conf["spark.driver.extraJavaOptions"] += f" {args.java_options}"
        t0 = time.perf_counter()
        spark = get_spark(
            cores=ncores,
            shuffle_partitions=ncores,
            app_name=f"jvm_threads-{cls.name}",
            extra_conf=conf,
        )
        pid = spark.sparkContext._gateway.proc.pid
        sampler = Sampler(pid)
        last = sampler.read()
        rows.append(("session", time.perf_counter() - t0, delta((0.0, {}), last)))
        reserved = heap_range(spark)
        mem = [("session", memory(pid, reserved))]
        sampler.start()
        try:
            tracer = Tracer(work.name)
            wl = cls(spark, tracer, ledger, entry, meta, work)
            phases = [(f"load x{SETUP_LOADS}", lambda: [wl.load() for _ in range(SETUP_LOADS)]), ("warm-up", wl.warm_up)]
            phases += [(f"pass {i}", lambda i=i: wl.run_pass(str(i))) for i in range(args.passes)]
            for name, fn in phases:
                t0 = time.perf_counter()
                with tracer.span(name):  # a pass records its store size on the open span
                    fn()
                now = sampler.read()
                rows.append((name, time.perf_counter() - t0, delta(last, now)))
                mem.append((name, memory(pid, reserved)))
                last = now
        finally:
            sampler.done.set()
            sampler.join()
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"driver JVM CPU-s by thread class: {cls.name} seed {args.seed}, local[{ncores}], heap {heap} MB")
    print(f"{'phase':<10} {'wall':>7} {'total':>7}" + "".join(f" {c:>7}" for c in COLUMNS))
    for name, wall, cpu in rows:
        print(f"{name:<10} {wall:>7.2f} {sum(cpu.values()):>7.2f}" + "".join(f" {cpu[c]:>7.2f}" for c in COLUMNS))
    mapping = (reserved[1] - reserved[0]) >> 20
    print(f"driver JVM MB after each phase: VmHWM, then resident by mapping (heap mapping {mapping} MB)")
    print(f"{'phase':<10}" + "".join(f" {c:>7}" for c in mem[0][1]))
    for name, mb in mem:
        print(f"{name:<10}" + "".join(f" {v:>7.0f}" for v in mb.values()))
    for line in ledger.lines:
        print(line)
    return 1 if ledger.failed else 0


if __name__ == "__main__":
    sys.exit(main())
