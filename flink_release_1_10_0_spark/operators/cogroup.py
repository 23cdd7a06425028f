"""CoGroup: group two inputs by key and process the pair of groups
together (``DataSet.java:1009`` coGroup, ``CoGroupedStreams.java``).

Spark-first mapping: for the common aggregate-both-sides shapes, compile
to two independent aggregations + a full outer join — pure Catalyst,
shuffle on the key once per side, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cogroup_counts(left: DataFrame, left_key: str,
                   right: DataFrame, right_key: str,
                   out_key: str = "key") -> DataFrame:
    """Declarative cogroup: per-key row counts from both sides, full
    outer, missing side = 0.  (Catalyst-only fast path.)"""
    lc = left.groupBy(F.col(left_key).alias(out_key)).agg(
        F.count(F.lit(1)).alias("n_left"))
    rc = right.groupBy(F.col(right_key).alias(out_key)).agg(
        F.count(F.lit(1)).alias("n_right"))
    return (lc.join(rc, out_key, "full_outer")
            .select(out_key,
                    F.coalesce("n_left", F.lit(0)).alias("n_left"),
                    F.coalesce("n_right", F.lit(0)).alias("n_right")))


def windowed_cogroup(left: DataFrame, right: DataFrame, key: str,
                     ts_col: str, window_size: str,
                     out_key: str | None = None) -> DataFrame:
    """Streaming coGroup (``CoGroupedStreams.java``: ``a.coGroup(b)
    .where(k).equalTo(k).window(Tumbling)``): per (key, window) the pair
    of groups is processed together — here the count-both-sides shape,
    missing side = 0.

    Scale layout: instead of aggregating each side and joining (two
    shuffles + a join), tag and union the inputs and aggregate once —
    ONE shuffle on (key, window) total, and it works identically on
    streaming inputs (the union of two streams is a stream; Flink's own
    implementation is exactly this: a tagged union into one window
    operator, ``CoGroupedStreams.java`` UnionTypeInfo).
    """
    ok = out_key or key
    l = left.select(F.col(key).alias(ok), F.col(ts_col).alias("__ts"),
                    F.lit(0).alias("__side"))
    r = right.select(F.col(key).alias(ok), F.col(ts_col).alias("__ts"),
                     F.lit(1).alias("__side"))
    u = l.unionByName(r)
    return (u.groupBy(F.window("__ts", window_size).alias("w"), ok)
            .agg(F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("n_left"),
                 F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("n_right"))
            .select(F.col("w.start").alias("w_start"), ok, "n_left", "n_right"))
