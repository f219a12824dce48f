"""Scale-adaptive parallelism floor for under-split inputs.

A per-row-heavy map stage (shingle hashing, HOF metrics, signature
computation) is only as parallel as its input's partitioning. Parquet
scans split at row-group granularity, so a small table written as one
row group arrives as ONE partition and serializes the whole stage onto
a single core — on a 32-core session that is a 32x slowdown AND a
single point of exposure to a slow/stolen core (one straggler task IS
the query). ``spread_small`` widens only such under-split inputs; at
production scale inputs already carry >= session parallelism partitions
and it is a no-op, so nothing is ever shuffled that was not tiny.

The repartition is the plain round-robin exchange — deterministic under
retries (Spark sorts before round-robin repartition, SPARK-23207) and
value-preserving for every caller here (all downstream per-row work is
row-local; cross-row aggregations downstream are integer-exact or
reshuffled by key anyway).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def opaque_true(df: DataFrame | None = None) -> Column:
    """An always-true boolean the optimizer must treat as nondeterministic.

    Conjoin onto an expensive derived flag (``keep & opaque_true()``) to
    stop Catalyst substituting the flag's definition into downstream
    filters and pushing it below the exchange: for a flag built from
    interpreted higher-order functions that substitution re-evaluates
    the whole metric suite a second time — at the scan, i.e. at the
    scan's (possibly single-partition) parallelism (the optimization
    guide's §4.4 duplicated-evaluation problem, applied to expression
    trees instead of UDFs). ``monotonically_increasing_id() >= 0`` is
    free per row and always true; its nondeterministic marking is the
    entire point. Streaming plans reject the expression (pass ``df`` so
    the helper can tell) — they get a plain TRUE, keeping values
    identical on both paths."""
    if df is not None and df.isStreaming:
        return F.lit(True)
    return F.monotonically_increasing_id() >= F.lit(0)


# Logical plan node classes whose re-execution repeats real work: joins
# (``Join``, ``LateralJoin``, ``AsOfJoin``), aggregations, windows,
# generators (``explode``) and Python stages (``MapInPandas``,
# ``FlatMapGroupsInPandas``, ``MapInArrow``, ...). Matched against class
# names, never against the plan's text, which also prints column names.
_EXPENSIVE_NODES = (
    "Join", "Aggregate", "Window", "Generate", "InPandas", "InArrow",
    "EvalPython", "Deduplicate",
)


def plan_is_expensive(df: DataFrame) -> bool:
    """True when re-executing ``df``'s plan repeats real work — a join,
    aggregation, window, explode or Python stage anywhere in the tree.
    Iterative operators use this to decide whether to pin their input
    once up front: a bare (possibly cached/checkpointed) scan is cheaper
    to re-read than to copy, while a derived edge table re-runs its
    whole derivation on every reference. The analyzed plan is walked
    node by node (subquery plans included)."""
    nodes = [df._jdf.queryExecution().analyzed()]
    while nodes:
        node = nodes.pop()
        if any(k in node.getClass().getSimpleName() for k in _EXPENSIVE_NODES):
            return True
        for seq in (node.children(), node.subqueries()):
            nodes.extend(seq.apply(i) for i in range(seq.size()))
    return False


def spread_small(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's shuffle
    parallelism, ONLY when it arrives in fewer than half that many
    partitions. ``factor`` multiplies the target for stages whose
    per-row work is extreme (e.g. 64-hash minhash signatures)."""
    if df.isStreaming:  # micro-batch partitioning is the source's business
        return df
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions")) * factor
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive: unplannable input
        return df
    if n * 2 <= target:
        return df.repartition(target)
    return df
