"""Streaming feedback-loop iteration (IterativeStream analog).

Reference: ``flink-streaming-java/.../api/datastream/IterativeStream
.java`` (via ``DataStream.java:214`` ``iterate()``): a feedback edge —
the loop body splits each round's rows into a feedback stream
(re-enters the loop head via ``closeWith``) and a forward output
stream.

The DataSet-side iteration facades (``DataSet.iterate`` bulk loops and
``DataSet.iterateDelta`` keyed solution-set updates) live in
``operators/iterate.py`` — this module adds only the feedback-split
shape the streaming API has and the batch API does not.

Spark-first shape: Spark has no cyclic dataflow, so the loop lives in
the driver while ALL data movement stays distributed — each round is a
normal DataFrame plan, ``localCheckpoint(eager=True)`` truncates the
otherwise-exponential lineage, and superseded round state is released
explicitly (``release_local_checkpoint``, same discipline as
``operators/iterate.py``).  The driver holds only loop counters and an
``isEmpty()`` probe per round; at 100 TB each round is one distributed
job and the feedback set is whatever fraction of rows still circulates
— the same per-superstep cost model as the reference's feedback edge.
"""

from __future__ import annotations

from typing import Callable, Tuple

from pyspark.sql import DataFrame

from flink_release_1_10_0_spark.operators.iterate import (  # noqa: F401
    bulk_iterate,
    delta_iterate,
    release_local_checkpoint,
)


def iterate_feedback(
        df: DataFrame,
        step: Callable[[DataFrame], Tuple[DataFrame, DataFrame]],
        max_iterations: int = 1000) -> DataFrame:
    """IterativeStream analog: ``step(rows) -> (feedback, output)``.

    ``feedback`` re-enters the loop head (``closeWith``), ``output``
    leaves the loop; returns the union of every round's output.  Stops
    when the feedback edge is empty or after ``max_iterations`` (the
    analog of the iteration's idle-timeout shutdown).
    """
    if max_iterations < 1:
        raise ValueError(
            f"max_iterations must be >= 1, got {max_iterations}")
    # Outputs fold INCREMENTALLY: rounds union onto an accumulator that
    # is localCheckpointed every _FOLD_EVERY rounds, so a pathological
    # iteration count builds plans of bounded depth (at most
    # _FOLD_EVERY union leaves above the last fold) instead of one
    # N-leaf union at the end.  Round inputs stay persisted until the
    # fold that covers their round's output has materialized — an
    # un-folded ``out`` plan still reads them — and are released in
    # a batch right after; ~N/_FOLD_EVERY materializations total where
    # the round-6 shape paid N.
    acc: DataFrame | None = None
    prev_fold: DataFrame | None = None
    pending = 0
    retire: list[DataFrame] = []
    cur = df.localCheckpoint(eager=True)

    def fold():
        nonlocal acc, prev_fold, pending
        acc = acc.localCheckpoint(eager=True)
        for r in retire:
            release_local_checkpoint(r)
        retire.clear()
        if prev_fold is not None:
            release_local_checkpoint(prev_fold)
        prev_fold = acc
        pending = 0

    for _ in range(max_iterations):
        feedback, out = step(cur)
        acc = out if acc is None else acc.unionByName(out)
        pending += 1
        feedback = feedback.localCheckpoint(eager=True)
        retire.append(cur)
        cur = feedback
        if pending >= _FOLD_EVERY:
            fold()
        if feedback.isEmpty():
            break
    retire.append(cur)
    if pending:
        fold()        # final fold releases the tail rounds' inputs
    else:
        for r in retire:
            release_local_checkpoint(r)
    return acc


# Rounds between accumulator folds: small enough that a 1000-round loop
# never holds a wide union plan, large enough that short loops pay a
# single materialization.
_FOLD_EVERY = 32
