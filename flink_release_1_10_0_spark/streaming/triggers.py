"""Early-firing event-time windows (window triggers).

Reference: the trigger DSL in
``flink-table/flink-table-runtime-blink/src/main/java/org/apache/flink/table/runtime/operators/window/triggers/EventTimeTriggers.java``
(``AfterEndOfWindow#withEarlyFirings(...)``) and
``ElementTriggers.java`` (``CountElement`` / ``EveryElement``), plus the
DataStream trigger family in
``flink-streaming-java/src/main/java/org/apache/flink/streaming/api/windowing/triggers/``
(ContinuousEventTimeTrigger.java:38, CountTrigger.java:35).

Semantics: a window whose end the watermark has not yet passed emits
PARTIAL (early) results as elements arrive; when the watermark passes the
window end it emits the FINAL result.  The Spark-first analog is an
update-mode windowed aggregation: every micro-batch is a firing — each
batch emits the updated (partial) aggregate for exactly the windows that
received elements in that batch, and the last firing a window receives is
its final result.  That reproduces the reference's
``withEarlyFirings(every())`` behavior at micro-batch granularity (the
reference's early-fire interval ≈ the trigger interval here).

No Python in the data path: the aggregation is a plain Catalyst windowed
agg; ``foreachBatch`` only stamps each firing with its micro-batch id so
callers can label firings early/final after the run.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from flink_release_1_10_0_spark.session import scratch_dir
from flink_release_1_10_0_spark.streaming.core import scoped_checkpoint
from flink_release_1_10_0_spark.streaming.keyed import (
    i64_list, key_field, keyed_state)


def run_with_early_firings(agg: DataFrame,
                           key_cols: list[str] | None = None) -> DataFrame:
    """Run an update-mode streaming aggregation to completion, recording
    EVERY firing (micro-batch emission) instead of only the last one.

    Returns a batch DataFrame of the full firing log with two extra
    columns: ``batch_id`` (which micro-batch fired it) and ``op``
    (``'early'`` for partial firings superseded by a later one for the
    same window key, ``'final'`` for the window's last firing) — the
    early/final distinction of EventTimeTriggers.AfterEndOfWindow with
    early firings.

    The caller controls firing granularity through the source's rate
    limit (e.g. ``maxFilesPerTrigger``): one micro-batch = one firing
    opportunity, exactly like the reference's trigger interval.
    """
    spark = agg.sparkSession
    # the firing log outlives the run: the returned frame reads it lazily
    out_dir = scratch_dir(spark, "early_fire_out")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # update-mode: batch_df holds only the keys updated this batch
        (batch_df.withColumn("batch_id", F.lit(epoch_id).cast("bigint"))
         .write.mode("append").parquet(out_dir))

    # seed the sink with a zero-row frame in the firing-log schema so an
    # empty source (zero micro-batches => foreachBatch never runs) still
    # yields an empty firing log instead of an unable-to-infer-schema
    # AnalysisException on read-back
    empty = (spark.createDataFrame([], agg.schema)
             .withColumn("batch_id", F.lit(None).cast("bigint")))
    empty.write.mode("append").parquet(out_dir)

    with scoped_checkpoint(spark) as ckpt:
        q = (agg.writeStream
             .outputMode("update")
             .foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    fired = spark.read.parquet(out_dir).filter(F.col("batch_id").isNotNull())
    out_cols = [c for c in fired.columns if c != "batch_id"]
    # a firing is final iff no later batch re-fired the same window key;
    # window identity = the aggregation's grouping columns (default: the
    # first output column, the window start)
    w = Window.partitionBy(*(key_cols or [out_cols[0]]))
    return (fired
            .withColumn("_mx", F.max("batch_id").over(w))
            .withColumn("op", F.when(F.col("batch_id") == F.col("_mx"),
                                     F.lit("final")).otherwise(F.lit("early")))
            .select(*out_cols, "op"))


def delta_trigger_firings(events: DataFrame, threshold: float,
                          key: str = "user_id") -> DataFrame:
    """DeltaTrigger analog (``flink-streaming-java/.../windowing/
    triggers/DeltaTrigger.java:38`` with ``DeltaFunction``): per key, in
    (event-time, id) order, fire when the delta between the element that
    triggered the LAST firing and the current element exceeds
    ``threshold``; the fired element becomes the new baseline.  The
    first element only seeds the baseline (the reference stores it in
    the trigger's ValueState without firing).

    Delta function: ``abs(value - baseline.value)``.  Emits one row per
    firing: (key, event_id, ts, value, delta).

    Scale: keyed stateful op (``keyed.keyed_state``) with O(1) state
    per key (the baseline value) — the same footprint the reference's
    ValueState<T> holds; per-call work walks plain lists, no pandas
    row boxing."""
    out_schema = (f"{key_field(events, key)}, event_id bigint, ts timestamp, "
                  "value double, delta double")
    state_schema = "baseline double"

    def fn(key_: Any, pdf: pd.DataFrame,
           state: GroupState) -> Iterator[pd.DataFrame]:
        baseline = state.get[0] if state.exists else None
        ids_o: list[int] = []
        ts_o: list = []
        val_o: list[float] = []
        d_o: list[float] = []
        for i, ts, v in zip(i64_list(pdf, "event_id"), list(pdf["ts"]),
                            pdf["value"].astype("float64").tolist()):
            if baseline is None:
                baseline = v
                continue
            d = abs(v - baseline)
            if d > threshold:
                ids_o.append(i)
                ts_o.append(ts)
                val_o.append(v)
                d_o.append(round(d, 6))
                baseline = v
        if baseline is not None:
            state.update((baseline,))
        if ids_o:
            yield pd.DataFrame({
                key: [key_[0]] * len(ids_o), "event_id": ids_o,
                "ts": ts_o, "value": val_o, "delta": d_o})

    return keyed_state(events, key, fn, out_schema, state_schema,
                       cols=["ts", "event_id", "value"],
                       order=("ts", "event_id"))


def purging_count_trigger_firings(events: DataFrame, n: int,
                                  key: str = "user_id",
                                  ts_col: str = "ts",
                                  id_col: str = "event_id",
                                  val_col: str = "value",
                                  window_unit: str = "day") -> DataFrame:
    """``PurgingTrigger(CountTrigger.of(n))`` analog
    (``flink-streaming-java/.../windowing/triggers/PurgingTrigger.java:33``
    wrapping ``CountTrigger.java:35``) over event-time windows of one
    ``window_unit``:
    every time a (key, window) pane accumulates ``n`` elements the pane
    FIREs and is PURGED — each firing aggregates only the elements since
    the previous firing, and a trailing partial pane never fires (no
    event-time trigger inside the purging wrapper; its state is dropped
    at window cleanup).

    Declarative bounded-stream analog: firing index =
    ``(row_number within (key, window) in (ts, id) order - 1) div n``;
    exactly the panes with a full ``n`` elements fire.  All windows are
    partitioned by (key, window) — no global ordering, shuffles once on
    the keys the state would live under."""
    w = F.date_trunc(window_unit, F.col(ts_col))
    rn = F.row_number().over(
        Window.partitionBy(key, "w_start").orderBy(ts_col, id_col))
    paned = (events
             .withColumn("w_start", w)
             .withColumn("firing_seq",
                         ((rn - 1) / n).cast("bigint")))
    return (paned.groupBy(key, "w_start", "firing_seq")
            .agg(F.count(F.lit(1)).alias("n_elems"),
                 F.sum(F.col(val_col).cast("decimal(18,2)")).cast("double")
                 .alias("sum_value"),
                 F.max(ts_col).alias("fire_ts"))
            .filter(F.col("n_elems") == n)
            .drop("n_elems"))


def continuous_event_time_trigger_firings(events: DataFrame,
                                          interval_hours: int = 6,
                                          key: str = "user_id",
                                          ts_col: str = "ts",
                                          val_col: str = "value") -> DataFrame:
    """``ContinuousEventTimeTrigger.of(interval)`` analog
    (``flink-streaming-java/.../windowing/triggers/
    ContinuousEventTimeTrigger.java:38``) over one-day event-time
    windows: the first element of a (key, window) registers a timer at
    the next ``interval`` boundary; every time the watermark passes a
    boundary the window FIREs with its contents accumulated so far
    (CONTINUE, no purge) and re-registers the next boundary — so each
    (key, day) emits a cumulative firing at every interval tick from
    the first element's boundary through the window end, including
    ticks where no new elements arrived (the timer chain re-arms
    unconditionally).

    Bounded-stream analog, fully declarative: tick i (i = 1..24/h) at
    ``w_start + i*interval`` covers elements with ts in
    ``[w_start, tick)``; slot-level partial aggregates roll up into
    cumulative firings with one window pass.  Plan: one shuffle keyed
    on (key, w_start) for the slot aggregation; the tick grid is a
    ``sequence()`` explode of at most 24/h rows per key-window — no
    per-event fan-out, no Python.  Emits (key, w_start, fire_at,
    n_so_far, sum_value_so_far)."""
    # ceiling, so the final (window-end) firing covers every trailing
    # slot even when the interval does not divide 24 (e.g. 5 or 7 h —
    # the reference's timer chain registers min(next_tick, window_end))
    n_ticks = -(-24 // interval_hours)
    w_start = F.date_trunc("day", F.col(ts_col))
    slot = (F.hour(ts_col) / interval_hours).cast("int")
    slot_agg = (events
                .withColumn("w_start", w_start)
                .withColumn("slot", slot)
                .groupBy(key, "w_start", "slot")
                .agg(F.count(F.lit(1)).alias("n_slot"),
                     F.sum(F.col(val_col).cast("decimal(18,2)"))
                     .alias("sum_slot")))
    grid = (slot_agg.select(key, "w_start").distinct()
            .withColumn("i", F.explode(F.expr(f"sequence(1, {n_ticks})"))))
    joined = grid.join(
        slot_agg.withColumnRenamed("slot", "s"),
        on=[key, "w_start"], how="left").filter(
            (F.col("s").isNull()) | (F.col("s") < F.col("i")))
    cum = (joined.groupBy(key, "w_start", "i")
           .agg(F.sum("n_slot").alias("n_so_far"),
                F.sum("sum_slot").alias("sum_so_far")))
    return (cum.filter(F.col("n_so_far") > 0)
            .select(F.col(key), F.col("w_start"),
                    # the trailing tick fires AT the window end, never
                    # past it (Flink registers min(next_tick, maxTs))
                    F.least(
                        F.col("w_start")
                        + F.expr(f"make_interval(0,0,0,0,i*{interval_hours},0,0)"),
                        F.col("w_start") + F.expr("make_interval(0,0,0,1,0,0,0)")
                    ).alias("fire_at"),
                    F.col("n_so_far").cast("bigint").alias("n_so_far"),
                    F.col("sum_so_far").cast("double")
                    .alias("sum_value_so_far")))


def assign_punctuated_watermarks(df, marker_pred, ts_col: str,
                                 arrival_col: str, key_col: str):
    """Punctuated watermark assignment
    (``flink-streaming-java/.../functions/timestamps/
    AssignerWithPunctuatedWatermarks.java``): the watermark advances
    ONLY when a punctuation record arrives, to that record's event
    time; every record is then classified late iff its event time is
    below the watermark in force at its ARRIVAL position.

    Watermarks in the reference are per-parallel-source-instance, so
    the arrival order is evaluated per ``key_col`` (the stream
    partition) — a keyed window, one shuffle, no global ordering
    bottleneck at scale.  Returns the input plus ``wm`` (the punctuated
    watermark in force, null before the first punctuation) and
    ``is_late``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (Window.partitionBy(key_col).orderBy(arrival_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    wm = F.max(F.when(marker_pred, F.col(ts_col))).over(w)
    return (df.withColumn("wm", wm)
            .withColumn("is_late",
                        F.col("wm").isNotNull() & (F.col(ts_col) < F.col("wm"))))
