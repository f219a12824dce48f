"""One superstep driver for the iterative vertex-state operators.

Pregelix (VLDB 2014) runs each Pregel superstep as one dataflow plan:
join the vertex state with its messages, group by, apply. PageRank,
connected components, label propagation and k-core supply only that
round body, a change predicate and an output projection; the harness
around the plan is written here, once:

  * memo hit and resume — scan newest-first for a stored round, before
    the operator's set-up: a final stored round (the iteration cap, or
    the round a change check stopped at) is returned as read from the
    store, with no set-up at all; an earlier one is materialized and
    the remaining rounds run from it;
  * lineage cut — ``localCheckpoint(eager=False)`` every round (a round
    references the previous state more than once, so an uncut chain
    grows Catalyst analysis time exponentially, see ``materialize``);
  * change check — the operator's ``changed(new, old)`` is the round's
    one driver action; it returns a stop flag and a metrics record;
  * checkpoint cadence — save every ``checkpoint_every`` rounds, at
    the iteration cap and at the round a change check stops, with the
    per-round records in the sidecar (the stopping one marked
    ``"stop": true``);
  * cache release — every pinned cache is unpersisted on every exit,
    a raising round included.

The state returned never depends on the caches released here: it is
a materialized local checkpoint or a checkpoint read-back.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lynxkite_spark.plans.checkpoint import CheckpointManager, materialize

# The broadcast switch. At or below this many vertices the vertex-state
# tables are broadcast into each round's joins, so the edge stream is
# never exchanged; above it they are hash-built (``shuffle_hash``)
# instead, because building a multi-million-row broadcast relation is a
# serial driver-side step that caps scaling.
BROADCAST_MAX_VERTICES = 200_000

# A round may carry each vertex's previous value in this column, so its
# change check is one scan of the new state instead of a join against
# the old one. The driver drops it after the check: it reaches neither a
# checkpoint nor the caller.
PREV = "_prev"


def broadcasts(n_vertices: int) -> bool:
    """True when vertex state of ``n_vertices`` rows is broadcast."""
    return n_vertices <= BROADCAST_MAX_VERTICES


def changed_rows(col: str) -> Callable[[DataFrame, DataFrame], tuple[bool, dict]]:
    """The ``changed`` callback of a round that carries ``PREV``: stop
    when no vertex's ``col`` differs from it. The count is exact at no
    extra scan: it is the action that fills the round's local
    checkpoint, which reads every row anyway. It takes no ``limit``,
    whose generated code is new on every call and never reused."""

    def check(new: DataFrame, old: DataFrame) -> tuple[bool, dict]:
        n = new.where(F.col(col) != F.col(PREV)).count()
        return n == 0, {"changed": n}

    return check


def run_supersteps(
    state: DataFrame | Callable[[], DataFrame],
    step: Callable[[DataFrame, int], DataFrame],
    *,
    limit: int,
    changed: Callable[[DataFrame, DataFrame], tuple[bool, dict]] | None = None,
    partition_by: str | None = None,
    key: Callable[[int], str] | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 10,
    pinned: Iterable[DataFrame] = (),
) -> DataFrame:
    """Run ``state = step(state, k)`` for rounds ``k = 1..limit`` and
    return the final state.

    ``state`` is the starting state, or the operator's set-up: a
    callable that prepares what ``step`` reads and returns the starting
    state. The driver calls it only when a round remains to run.
    ``changed(new, old)`` runs after every round and returns
    ``(stop, record)``; with ``changed=None`` every round runs and none
    triggers an action. ``partition_by`` hash-partitions the starting
    state (stored or initial) before it is materialized. With a
    ``checkpoint``, round ``k`` is stored under ``key(k)``; a rerun
    returns a final stored round as it was stored and resumes from any
    other. ``pinned`` caches are unpersisted when the driver returns or
    raises; it is read then, so a set-up may append to it.
    """
    try:
        # the newest stored round; reading it runs no Spark job (the
        # store keeps each table's schema)
        start, stored, history = 0, None, []
        if checkpoint is not None:
            for k in range(limit, 0, -1):
                stored = checkpoint.load(key(k))
                if stored is not None:
                    start, history = k, checkpoint.metrics(key(k))["metrics"].get("history", [])
                    break
        if stored is not None and (start == limit or (history and history[-1].get("stop"))):
            return stored  # memo hit: the run's last round, nothing to prepare
        if callable(state):
            state = state()
        if stored is not None:
            state = stored
        if partition_by is not None:
            n_part = int(state.sparkSession.conf.get("spark.sql.shuffle.partitions"))
            state = state.repartition(n_part, partition_by)
        state = materialize(state)
        for k in range(start + 1, limit + 1):
            new = step(state, k)
            stop, record = False, {}
            if changed is not None:
                new = new.localCheckpoint(eager=False)  # materialized by the check
                stop, record = changed(new, state)
                if PREV in new.columns:
                    new = new.drop(PREV)
            history.append({"iteration": k, **record, **({"stop": True} if stop else {})})
            # the stopping round is stored too, so a rerun is a memo hit
            save = checkpoint is not None and (stop or k % checkpoint_every == 0 or k == limit)
            if save:
                new = checkpoint.save(new, key(k), metrics={"iteration": k, "history": history})
            if changed is None:
                # no per-round action: the cut is lazy, except that the
                # last round is materialized here (a save already wrote it)
                # rather than left to the caller's action
                new = new.localCheckpoint(eager=k == limit and not save)
            state = new
            if stop:
                break
        return state
    finally:
        for df in pinned:
            df.unpersist()
