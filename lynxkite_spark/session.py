"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every knob
here is the one you would set in ``spark-submit --conf`` on a real
1000-executor deployment. The reference tunes to ~200k rows/partition
(/root/reference/app/com/lynxanalytics/biggraph/graph_api/io/EntityIO.scala:82-83);
we let AQE coalesce to an equivalent size at runtime instead of
hand-counting partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference partition-sizing anchors (BASELINE.md):
#   EntityIO.scala:82-83  -> 200_000 rows/partition target
#   HybridRDD.scala:73-80 -> 40_000 rows/key hot-key threshold
ROWS_PER_PARTITION = 200_000
HOT_KEY_THRESHOLD = 40_000


def default_heap() -> str:
    """About 60% of the host's memory in whole GiB (at least 1g): the
    driver heap when ``SPARK_DRIVER_MEMORY`` is unset."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, int(kib * 0.6) >> 20)}g"


def get_spark(
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "lynxkite_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` is an int for ``local[N]`` or a full master URL; defaults to
    ``$SPARK_GRAFT_CPUS`` (falling back to ``local[*]``). The driver heap
    is ``$SPARK_DRIVER_MEMORY``, else ``default_heap()``.
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
        # FIXED heap (-Xms == -Xmx): without it G1 uncommits idle regions
        # back to the OS after every concurrent cycle, and on a
        # virtualized host with free-page reporting (this sandbox is a
        # Firecracker microVM with page_reporting_order=11) every
        # uncommitted page is immediately reclaimed by the hypervisor —
        # so each GC cycle re-faults gigabytes through the host, turning
        # young GCs from <1s into 15-20s and tripling shuffle walls
        # (measured on the 32M-edge PageRank probe: 71-190s/2-iter
        # without, 36s with; GC time 17-21s -> 0.5s). Standard practice
        # on real clusters for exactly this class of reasons: executors
        # set -Xms = -Xmx so the heap never shrinks. Callers can extend
        # via extra_conf (the builder overrides this key when passed).
        # (AlwaysPreTouch was trialled here in round 6 — ~72 s of boot
        # wall to fault 48 GB through the hypervisor — and did NOT
        # remove the multi-second co-tenant stall windows that hit
        # random suite queries, so it stays scoped to the scaling legs
        # where its cost sits outside the timed window.)
        .config("spark.driver.extraJavaOptions", f"-Xms{heap}")
        # Broadcast threshold stays at Spark's default 10MB: every join that
        # SHOULD broadcast (dictionaries, hot-key subsets, small rank
        # tables) is hinted explicitly with F.broadcast(). A generous
        # threshold is actively harmful in the iterative loops — AQE
        # converts the per-iteration rank join into a runtime broadcast,
        # and building a multi-million-row broadcast relation is a serial
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
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
