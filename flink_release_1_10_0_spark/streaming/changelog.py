"""Changelog / retraction protocol (SURVEY.md §1.1 changelog stream row).

The reference tags every runtime row with a 1-byte header —
``ACCUMULATE_MSG`` / ``RETRACT_MSG`` (``BaseRow.java:39-47``,
``BaseRowUtil.java:34-39``) — and the planner decides which operators
must emit retractions (``StreamExecRetractionRules``).  Here the
changelog is an explicit ``op`` column (``+I`` insert, ``-U`` retract
old, ``+U`` new value) on an append-only stream, plus a per-key ``seq``
so any downstream consumer can fold the log deterministically.

``materialize`` is that fold: latest non-retract row per key — the
dynamic-table view of the changelog.  A downstream system that
understands retractions (e.g. an upsert sink) consumes the raw log.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from flink_release_1_10_0_spark.streaming.keyed import key_field, keyed_state


def changelog_sum(events: DataFrame, key: str = "event_type",
                  value_col: str = "value") -> DataFrame:
    """Streaming SUM with retraction: per micro-batch, emit ``-U`` for
    the previous sum and ``+U`` for the new one (``+I`` the first time).
    Money accumulates as integer cents in state — exact under any
    partitioning."""
    out_schema = f"op string, {key_field(events, key)}, total double, seq bigint"
    state_schema = "cents bigint, seq bigint"

    def fn(key_: Any, pdf: pd.DataFrame, state: GroupState) -> Iterator[pd.DataFrame]:
        cents, seq = state.get if state.exists else (None, 0)
        if len(pdf):
            add = int((pdf[value_col] * 100).round().astype("int64").sum())
            new = (cents or 0) + add
            rows = []
            if cents is None:
                rows.append(("+I", key_[0], new / 100.0, seq + 1))
                seq += 1
            else:
                rows.append(("-U", key_[0], cents / 100.0, seq + 1))
                rows.append(("+U", key_[0], new / 100.0, seq + 2))
                seq += 2
            state.update((new, seq))
            yield pd.DataFrame(rows, columns=["op", key, "total", "seq"])

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=[value_col])


def materialize(changelog: DataFrame, key_cols: list[str],
                value_cols: list[str]) -> DataFrame:
    """Fold a +I/-U/+U changelog into its dynamic-table view: the
    highest-``seq`` accumulate row per key."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.desc("seq"))
    return (changelog.filter(F.col("op") != "-U")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*key_cols, *value_cols))
