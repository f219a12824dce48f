"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every knob
here is the one you would set in ``spark-submit --conf`` on a real
1000-executor deployment. The reference tunes to ~200k rows/partition
(/root/reference/app/com/lynxanalytics/biggraph/graph_api/io/EntityIO.scala:82-83);
we let AQE coalesce to an equivalent size at runtime instead of
hand-counting partitions.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# The driver JVM's C2 (tier-4) thresholds at 5x the JDK 17 defaults; C1
# (tiers 1-3) keeps its own, so code leaves the interpreter as before.
# A session lives about a minute, and most of the JDK serialization,
# Janino, Catalyst and Scala code it runs is called a few thousand
# times: C2 compiled it without paying back. On perfbench repo_graph
# (4 cores) the C2 threads took 23-26 of 44-48 JVM CPU-s in the cold
# warm-up pass; with these thresholds 15-16 of 37, executor task CPU
# unchanged, since row loops cross 5x within milliseconds and still
# reach C2. A C1-only JVM (-XX:TieredStopAtLevel=1) doubled task CPU.
TIER4_THRESHOLDS = (
    "-XX:Tier4InvocationThreshold=25000 -XX:Tier4MinInvocationThreshold=3000"
    " -XX:Tier4CompileThreshold=75000 -XX:Tier4BackEdgeThreshold=200000"
)

# The driver JVM's collector. In local mode the driver heap holds the
# cached tables and round states. G1 takes each new region from anywhere
# in the fixed heap, so within a one-minute session it writes, and keeps
# resident, nearly all of it; Parallel reuses one young generation in
# place. At the end of a perfbench repo_graph run (seed 1, 1,792 MB
# heap, tools/jvm_threads.py) the heap mapping held 1,739 MB resident
# under G1 and 781 MB under Parallel. Left out when the caller chose a
# collector (``_COLLECTOR_FLAG`` in its ``extraJavaOptions`` or in one
# of ``_JVM_OPTION_VARS``): a JVM given two refuses to start.
COLLECTOR = "-XX:+UseParallelGC"
_COLLECTOR_FLAG = re.compile(r"-XX:\+Use(?:Serial|Parallel|G1|Z|Shenandoah|Epsilon)GC\b")
_JVM_OPTION_VARS = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")


def default_heap() -> str:
    """About 60% of the host's memory in whole GiB (at least 1g): the
    driver heap when ``SPARK_DRIVER_MEMORY`` is unset."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, int(kib * 0.6) >> 20)}g"


def _cds_key(spark_home: Path, java_home: Path) -> str:
    """Names a class-data archive after what it holds, from stats only:
    the JDK build and every jar on the driver's classpath."""
    h = hashlib.sha256()
    for f in [java_home / "lib" / "server" / "libjvm.so", *sorted((spark_home / "jars").iterdir())]:
        st = f.stat()
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:24]


def _cds_plan() -> tuple[str, Path | None, Path] | None:
    """``(java options, dump file or None, archive)`` for the driver
    JVM's dynamic class-data archive, or None when no JVM is launched
    or its classpath is not one an archive can be dumped against.

    The archive lives under ``$XDG_CACHE_HOME/lynxkite_spark/cds``. If
    it exists the JVM maps it (a mismatched or corrupt one is rejected
    silently); otherwise the JVM dumps the classes it loaded, at exit,
    to a per-process file that ``_finish_dump`` keeps or deletes. The
    dump refuses a classpath holding a non-empty directory, and Spark
    puts its conf directory there, so the JVM is launched with the empty
    ``conf`` next to the archive; that changes nothing only while the
    real one holds templates.
    """
    # a gateway port means spark-submit launched the JVM already
    other = ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    if any(os.environ.get(v) for v in other):
        return None
    spark_home = Path(_find_spark_home())
    java = os.environ.get("JAVA_HOME") or shutil.which("java")
    if not java:
        return None
    java_home = Path(java) if os.environ.get("JAVA_HOME") else Path(os.path.realpath(java)).parent.parent
    conf = spark_home / "conf"
    if conf.is_dir() and any(not f.name.endswith(".template") for f in conf.iterdir()):
        return None
    cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache") / "lynxkite_spark" / "cds"
    try:
        (cache / "conf").mkdir(parents=True, exist_ok=True)
        key = _cds_key(spark_home, java_home)
    except OSError:
        return None
    if not os.access(cache, os.W_OK):
        return None
    quiet = "-Xlog:cds=off -Xlog:cds+dynamic=off"
    jsa = cache / f"{key}.jsa"
    if jsa.exists():
        return f"-XX:SharedArchiveFile={jsa} {quiet}", None, jsa
    for stale in cache.glob("*.tmp"):  # left by a process that was killed
        if not Path("/proc", stale.name.split(".")[1]).exists():
            stale.unlink(missing_ok=True)
    tmp = cache / f"{key}.{os.getpid()}.tmp"
    return f"-XX:ArchiveClassesAtExit={tmp} {quiet}", tmp, jsa


def _finish_dump(proc, tmp: Path, jsa: Path) -> None:
    """End the dumping JVM (it exits when its stdin closes) and keep its
    archive only if it exited with 0; a failed dump exits with 1."""
    if SparkContext._active_spark_context is not None:
        # stopped first, the accumulator server does not see the JVM go
        SparkContext._active_spark_context.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=120)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    if proc.returncode == 0 and tmp.exists():
        os.replace(tmp, jsa)
    else:
        tmp.unlink(missing_ok=True)


def get_spark(
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "lynxkite_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` is an int for ``local[N]`` or a full master URL; defaults to
    ``$SPARK_GRAFT_CPUS`` (falling back to ``local[*]``). The driver heap
    is ``$SPARK_DRIVER_MEMORY``, else ``default_heap()``, fixed
    (``-Xms`` = ``-Xmx``). A session that launches the driver JVM maps
    the class-data archive kept in ``$XDG_CACHE_HOME/lynxkite_spark/cds``
    (or dumps it at exit, a few seconds, when that JDK and jar set has
    none), runs with ``TIER4_THRESHOLDS`` and on the Parallel collector
    (``COLLECTOR``), all through ``spark.driver.defaultJavaOptions``,
    which is the engine's to set: a caller that passes it gets none of
    them. A caller that picks a collector in ``extraJavaOptions``,
    ``JAVA_TOOL_OPTIONS``, ``_JAVA_OPTIONS`` or ``SPARK_SUBMIT_OPTS``
    keeps it, and the engine adds none. All of these are for the
    driver JVM only; under ``spark-submit`` pass the thresholds and the
    collector with ``--driver-java-options``. Executors keep the JVM
    defaults.
    """
    heap = os.environ.get("SPARK_DRIVER_MEMORY") or default_heap()
    env_cores = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None:
        master = f"local[{env_cores}]" if env_cores else "local[*]"
    elif isinstance(cores, int):
        master = f"local[{cores}]"
    else:
        master = cores
    if shuffle_partitions is None:
        shuffle_partitions = int(env_cores) if env_cores else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # match local parallelism, not the 200 default; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # AQE: runtime re-planning — partition coalescing + skew-join backstop
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas UDF / toPandas traffic
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", heap)
        # FIXED heap (-Xms == -Xmx): without it any collector may shrink
        # the heap and uncommit what it freed, and on a virtualized host
        # with free-page reporting (a Firecracker microVM with
        # page_reporting_order=11) every uncommitted page is reclaimed by
        # the hypervisor at once, so the next GC cycle re-faults it
        # through the host: measured under G1 on the 32M-edge PageRank
        # probe, 71-190s/2-iter without it, 36s with; GC time 17-21s ->
        # 0.5s. Executors on real clusters set -Xms = -Xmx for the same
        # reason. A fixed heap is committed, not resident: a page becomes
        # resident when first written, and how much of the heap gets
        # written is the collector's doing (see COLLECTOR). Callers can
        # extend via extra_conf (the builder overrides this key when
        # passed).
        # (AlwaysPreTouch was trialled here in round 6 — ~72 s of boot
        # wall to fault 48 GB through the hypervisor — and did NOT
        # remove the multi-second co-tenant stall windows that hit
        # random suite queries, so it stays scoped to the scaling legs
        # where its cost sits outside the timed window.)
        .config("spark.driver.extraJavaOptions", f"-Xms{heap}")
        # Broadcast threshold stays at Spark's default 10MB: every join that
        # SHOULD broadcast (dictionaries, small rank tables) is hinted
        # explicitly with F.broadcast(). A generous threshold is actively
        # harmful in the iterative loops — AQE converts the per-iteration
        # rank join into a runtime broadcast, and building a multi-million-row broadcast relation is a serial
        # driver-side step that caps scaling (measured: 3x slowdown at 32
        # cores on the PageRank gather join).
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Catalyst's constraint propagation crashes (AttributeMap "key not
        # found") in UnionBase.rewriteConstraints when a self-union of a
        # checkpointed relation carries filter constraints — exactly the
        # shape of the star-contraction CC loop on a localCheckpoint'd
        # edge table. Our plans carry every predicate explicitly, so the
        # inference buys nothing; off for robustness.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # Generated-class cache; a static conf, so it is set here. Star
        # and minlabel CC, LPA, k-core and triangle count compile 185
        # distinct classes on a 200-vertex graph. Spark's default of 100
        # entries evicts each (LRU) before its next use, so every round
        # and call would compile its plan again.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Adaptive execution numbers a query's codegen stages in the
        # order their inputs finish, and by default the number is part
        # of the generated class name, so a repeated round of several
        # independent exchanges (Louvain, coloring) compiles the same
        # source again under a new name. Without the id, repo_graph's
        # warm-up compiled 115 classes instead of 143.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    cds = None
    if SparkContext._gateway is None and "spark.driver.defaultJavaOptions" not in (extra_conf or {}):
        cds = _cds_plan()
        chosen = [(extra_conf or {}).get("spark.driver.extraJavaOptions", "")]
        chosen += [os.environ.get(v, "") for v in _JVM_OPTION_VARS]
        options = [TIER4_THRESHOLDS]
        if not any(_COLLECTOR_FLAG.search(o) for o in chosen):
            options.append(COLLECTOR)
        if cds:
            options.append(cds[0])
        # Spark puts these in front of extraJavaOptions, which callers replace
        builder = builder.config("spark.driver.defaultJavaOptions", " ".join(options))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    try:
        if cds:
            os.environ["SPARK_CONF_DIR"] = str(cds[2].with_name("conf"))
        spark = builder.getOrCreate()
    except BaseException:
        if cds and cds[1]:
            cds[1].unlink(missing_ok=True)
        raise
    finally:
        if cds:  # a plan exists only while SPARK_CONF_DIR is unset
            os.environ.pop("SPARK_CONF_DIR", None)
    if cds and cds[1]:
        atexit.register(_finish_dump, spark.sparkContext._gateway.proc, cds[1], cds[2])
    spark.sparkContext.setLogLevel("WARN")
    return spark
