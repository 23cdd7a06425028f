"""Broadcast state pattern (SURVEY.md §2.9).

Reference: ``DataStream.java:418`` (``broadcast(MapStateDescriptor)``),
``BroadcastConnectedStream.java``, ``BroadcastProcessFunction.java:51`` —
a low-throughput control/rules stream is replicated to every parallel
task and stored in broadcast state; each data record is evaluated
against the *current* rule set.

Spark-first layout: the rules side is a small DataFrame joined into the
event stream as a **stream-static broadcast join** — Spark re-plans the
static side per micro-batch, which is exactly the broadcast-state
refresh cadence (rules visible to a batch are the rules loaded when the
batch was planned).  ``F.broadcast`` pins the replication so no shuffle
of the 100 TB event side ever happens for rule application.

Semantic narrowing vs the reference (documented): Flink interleaves
rule updates *within* the stream by arrival order; the micro-batch model
applies a consistent rule snapshot per batch.  For a bounded
run-to-completion query the two agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_rules_apply(events: DataFrame, rules: DataFrame,
                          on: str | Column, condition: Column,
                          *out_cols: str | Column) -> DataFrame:
    """Evaluate each event against the broadcast rule set: join events to
    ``rules`` on ``on`` (rule key), keep rows satisfying ``condition``
    (the BroadcastProcessFunction body as a predicate), project
    ``out_cols``.  The rules side is always broadcast — never shuffled.
    """
    joined = events.join(F.broadcast(rules), on, "inner")
    return joined.filter(condition).select(*out_cols)
