"""Batch iteration facades (DataSet API parity, SURVEY.md §3.4).

Reference: ``DataSet.iterate`` -> ``IterativeDataSet`` (bulk iterations:
the whole dataset is fed back each superstep) and ``DataSet.iterateDelta``
(delta iterations: a shrinking workset drives updates into a keyed
solution set) — ``flink-java/.../api/java/DataSet.java`` and
``flink-java/.../operators/IterativeDataSet.java`` /
``DeltaIteration.java``.

Spark-first shape: a driver loop over Catalyst-planned steps.  Spark has
no native iteration operator; the loop lives in the driver but ships no
data through it — each superstep is a full distributed job, the driver
holds only convergence booleans.  Each superstep's state is
localCheckpointed (lineage stays constant, which is what Flink's
feedback edge gives for free) and the superseded checkpoint is released
with ``release_local_checkpoint`` (the graph algorithms in
``operators/graph.py`` and ``streaming/iterate.py`` are these facades
specialized, and release the same way).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def release_local_checkpoint(df: DataFrame) -> None:
    """Free a superseded ``localCheckpoint`` now instead of at the next
    ContextCleaner pass.  ``DataFrame.unpersist()`` only touches the
    cache manager; the checkpointed blocks belong to the persisted RDD
    under the frame's ``LogicalRDD``, so ``df`` must be the checkpointed
    frame itself, not a projection of it."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def bulk_iterate(initial: DataFrame,
                 step: Callable[[DataFrame], DataFrame],
                 max_iterations: int,
                 converged: Callable[[DataFrame, DataFrame], bool] | None = None,
                 ) -> DataFrame:
    """Bulk iteration (``DataSet.iterate``): feed the full dataset back
    through ``step`` up to ``max_iterations`` times; optional
    ``converged(old, new)`` termination criterion (the reference's
    ``closeWith(result, terminationCriterion)``)."""
    # localCheckpoint every superstep: a caller's step may reference
    # `state` more than once, doubling the logical plan per iteration —
    # eager checkpoint collapses it to a constant-size LogicalRDD and
    # materializes it before the previous blocks are released (the
    # exponential-plan hazard fixed in graph.sssp, r2 verdict #2).
    # The superseded checkpoint is released EXPLICITLY each step:
    # eager=True guarantees the new blocks exist first, and without the
    # release, freeing old blocks would wait on driver GC +
    # ContextCleaner timing — storage from large per-step states would
    # accumulate across long iterations.
    state = initial.localCheckpoint(eager=True)
    for _ in range(max_iterations):
        new_state = step(state).localCheckpoint(eager=True)
        done = bool(converged and converged(state, new_state))
        release_local_checkpoint(state)
        state = new_state
        if done:
            break
    return state


def delta_iterate(solution: DataFrame, workset: DataFrame,
                  step: Callable[[DataFrame, DataFrame],
                                 tuple[DataFrame, DataFrame]],
                  max_iterations: int,
                  key_cols: list[str] | None = None) -> DataFrame:
    """Delta iteration (``DataSet.iterateDelta``): ``step(solution,
    workset)`` returns ``(solution_delta, next_workset)``; delta rows
    REPLACE solution rows with the same key (join-on-key semantics of
    the reference's solution set), and iteration stops when the workset
    is empty — the property that makes delta iterations cheap: cost
    tracks the shrinking workset, not the full solution."""
    keys = key_cols or [solution.columns[0]]
    # eager localCheckpoint per superstep — same plan-growth reasoning
    # and same explicit-release discipline as bulk_iterate; counts on
    # a checkpointed frame are cheap RDD scans
    sol = solution.localCheckpoint(eager=True)
    ws = workset.localCheckpoint(eager=True)
    for _ in range(max_iterations):
        delta, next_ws = step(sol, ws)
        delta = delta.localCheckpoint(eager=True)
        next_ws = next_ws.localCheckpoint(eager=True)
        release_local_checkpoint(ws)
        ws = next_ws
        if delta.count() == 0 and ws.count() == 0:
            release_local_checkpoint(delta)
            break
        new_sol = (sol.join(delta.select(*keys), keys, "left_anti")
                   .unionByName(delta).localCheckpoint(eager=True))
        release_local_checkpoint(sol)
        release_local_checkpoint(delta)
        sol = new_sol
        if ws.count() == 0:
            break
    release_local_checkpoint(ws)
    return sol
