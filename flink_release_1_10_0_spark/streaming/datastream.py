"""DataStream-style fluent API over (batch or streaming) DataFrames.

Reference surface: ``flink-streaming-java/.../datastream/DataStream.java``
(map :591, flatMap :635, filter :734, project :756, union :218,
keyBy, process :680, assignTimestampsAndWatermarks :931, print :1005) and
``KeyedStream.java`` (reduce :706, sum/min/max :746-:817, maxBy/minBy
:865-1002, timeWindow :615, countWindow :652, intervalJoin :418).

Design: a thin shell where every method lowers to a declarative
DataFrame op so Catalyst optimizes the whole pipeline; the arbitrary-
stateful entries (``process``) route to ``keyed.keyed_state``.
Column-expression arguments (strings or Columns) are preferred over
Python lambdas — lambdas force serialization barriers; expressions stay
JVM-side.  ``map``/``flat_map`` accept expressions for exactly that
reason: ``map`` = select, ``flat_map`` = select + explode.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cols(exprs: Iterable[str | Column]) -> list[Column]:
    return [F.expr(e) if isinstance(e, str) else e for e in exprs]


class DataStream:
    """Possibly-unbounded stream of rows (``DataStream.java:116``)."""

    def __init__(self, df: DataFrame):
        self._df = df

    @property
    def df(self) -> DataFrame:
        return self._df

    # -- stateless transforms (StreamMap/StreamFlatMap/StreamFilter) -----
    def map(self, *exprs: str | Column) -> "DataStream":
        """Projection — one output row per input row."""
        return DataStream(self._df.select(*_cols(exprs)))

    def flat_map(self, explode_expr: str | Column, alias: str,
                 *keep: str | Column) -> "DataStream":
        """One input row -> N output rows (explode of an array expr)."""
        e = F.expr(explode_expr) if isinstance(explode_expr, str) else explode_expr
        return DataStream(self._df.select(*_cols(keep), F.explode(e).alias(alias)))

    def filter(self, predicate: str | Column) -> "DataStream":
        p = F.expr(predicate) if isinstance(predicate, str) else predicate
        return DataStream(self._df.filter(p))

    def project(self, *field_names: str) -> "DataStream":
        return DataStream(self._df.select(*field_names))

    def union(self, *others: "DataStream") -> "DataStream":
        df = self._df
        for o in others:
            df = df.union(o._df)
        return DataStream(df)

    # -- time (assignTimestampsAndWatermarks; bounded out-of-orderness) --
    def assign_timestamps_and_watermarks(self, ts_col: str,
                                         max_out_of_orderness: str) -> "DataStream":
        """BoundedOutOfOrdernessTimestampExtractor analog."""
        return DataStream(self._df.withWatermark(ts_col, max_out_of_orderness))

    # -- keying ----------------------------------------------------------
    def key_by(self, *keys: str) -> "KeyedStream":
        return KeyedStream(self._df, list(keys))

    # -- sinks (print / addSink analogs live in sources.streams) ---------
    def print(self, n: int = 20) -> None:
        self._df.show(n)

    # -- physical distribution (DataStream.java:361-505 partitionCustom/
    # broadcast/shuffle/rebalance/rescale/global; DataSet.java:1257-1385
    # partitionByHash/Range + sortPartition) -----------------------------
    def time_window_all(self, ts_col: str, size: str,
                        slide: str | None = None) -> "WindowedStream":
        """Non-keyed window (``AllWindowedStream.java`` /
        ``DataStream.timeWindowAll``): every record falls into the same
        per-window group.  In the reference this forces parallelism 1;
        Spark's partial aggregation keeps it parallel — partials combine
        per window, only the final merge is single-reducer per window."""
        w = F.window(ts_col, size, slide) if slide else F.window(ts_col, size)
        return WindowedStream(self._df, [], w)

    def side_outputs(self, main: str | Column,
                     **tags: str | Column) -> dict[str, "DataStream"]:
        """Side outputs (``SingleOutputStreamOperator.getSideOutput`` /
        ``SplitStream.select``, SURVEY.md §2.9): route one input to the
        main output plus named side outputs by predicate.  Returns
        ``{"main": ..., tag: ...}``.

        Spark-first: each output is a filter over the same scan — the
        source is read once per sink (or once total under foreachBatch
        multi-write); no custom routing operator is needed because
        Catalyst collapses filter+project into the scan.
        """
        outs = {"main": DataStream(self._df.filter(
            F.expr(main) if isinstance(main, str) else main))}
        for name, pred in tags.items():
            outs[name] = DataStream(self._df.filter(
                F.expr(pred) if isinstance(pred, str) else pred))
        return outs

    def split_tagged(self, tag: str | Column,
                     *keep: str) -> "DataStream":
        """``SplitStream`` as data (the 1.10 ``split(OutputSelector)``
        API): attach the selector verdict as an ``output_tag`` column in
        a single pass; downstream ``select(tag)`` is a filter."""
        tc = F.expr(tag) if isinstance(tag, str) else tag
        return DataStream(self._df.select(*keep, tc.alias("output_tag")))

    def partition_by_hash(self, n: int, *cols: str) -> "DataStream":
        """Hash-partition on key columns (Exchange hashpartitioning)."""
        return DataStream(self._df.repartition(n, *[F.col(c) for c in cols]))

    def partition_by_range(self, n: int, *cols: str) -> "DataStream":
        """Range-partition (Exchange rangepartitioning) — total ordering
        across partitions, the sort-friendly layout."""
        return DataStream(self._df.repartitionByRange(n, *[F.col(c) for c in cols]))

    def rebalance(self, n: int) -> "DataStream":
        """Round-robin redistribute (RebalancePartitioner)."""
        return DataStream(self._df.repartition(n))

    def rescale(self, n: int) -> "DataStream":
        """Scale partition count down without a full shuffle (coalesce)."""
        return DataStream(self._df.coalesce(n))

    def sort_partition(self, *cols: str) -> "DataStream":
        """Partition-local sort (DataSet.sortPartition) — no global shuffle."""
        return DataStream(self._df.sortWithinPartitions(*cols))

    def shuffle(self, n: int) -> "DataStream":
        """Random redistribute (``DataStream.java:422`` ``shuffle()``,
        ShufflePartitioner).  Spark's round-robin exchange is the
        deterministic analog — uniform spread without a key, which is
        the property shuffle() exists for."""
        return DataStream(self._df.repartition(n))

    def forward(self) -> "DataStream":
        """``DataStream.java:470`` ``forward()`` (ForwardPartitioner):
        keep records in their current partition.  In Spark, adjacent
        narrow transformations are already fused into one stage
        (operator chaining == whole-stage codegen), so this is the
        identity — declared for API parity."""
        return self

    def global_(self) -> "DataStream":
        """``DataStream.java:488`` ``global()`` (GlobalPartitioner):
        route every record to a single downstream instance.  Analog:
        repartition(1) — one partition, one task.  COST: serializes the
        whole stream through one task; at scale prefer a keyed
        aggregation or ``coalesce`` tree."""
        return DataStream(self._df.repartition(1))

    def broadcast(self) -> DataFrame:
        """``DataStream.java:418`` ``broadcast()`` (BroadcastPartitioner):
        replicate the stream to every downstream instance.  Spark has no
        replicate-exchange on a DataFrame; the idiom the reference
        pattern maps to is a broadcast JOIN against the consuming side —
        so this returns the frame wrapped in the broadcast hint, ready
        to be joined (see streaming/broadcast.py for the broadcast-state
        pattern built on it)."""
        return F.broadcast(self._df)

    def iterate(self, step, max_iterations: int = 1000) -> "DataStream":
        """``DataStream.java:214`` ``iterate()`` + ``IterativeStream
        .closeWith``: ``step(df) -> (feedback_df, output_df)``; the
        feedback re-enters the loop head until empty, the outputs are
        unioned (streaming/iterate.py — driver-looped distributed
        rounds, per-round lineage truncation)."""
        from flink_release_1_10_0_spark.streaming.iterate import (
            iterate_feedback)
        return DataStream(iterate_feedback(self._df, step, max_iterations))

    def partition_custom(self, partitioner, key_col: str,
                         n: int) -> "DataStream":
        """Arbitrary user partitioner (``DataStream.java:361``
        ``partitionCustom(Partitioner, key)``): every record routes to
        the partition ``partitioner(key) % n`` chooses.

        Spark-first note: Catalyst exposes hash/range/round-robin
        exchanges only, so an ARBITRARY partitioner drops to the RDD
        tier — ``partitionBy`` with the user function — and back.  This
        is the sanctioned last-resort tier (the function must run
        per-record anyway, there is nothing for Catalyst to optimize);
        batch-only, like the reference's DataSet.partitionCustom, and
        the RDD hop severs Catalyst lineage, so apply it LAST in a
        pipeline (scan/filter pushdown has already happened upstream).

        COST WARNING (100 TB): this exchange runs the Python
        partitioner per ROW on the driver-shipped closure plus a full
        Row pickle/unpickle round trip — on a large shuffle it will be
        the slowest exchange in the plan by an order of magnitude.  Use
        it only when the routing genuinely cannot be expressed as a
        key: ``partition_by_hash`` (hashpartitioning) and
        ``partition_by_range`` (rangepartitioning) stay entirely
        JVM-side and cover hash-/order-based routing; a computed
        routing KEY (e.g. a CASE expression or UDF-derived column) fed
        to ``partition_by_hash`` covers most of the rest.
        """
        df = self._df
        spark = df.sparkSession
        schema = df.schema
        idx = df.columns.index(key_col)
        keyed = df.rdd.map(lambda row: (row[idx], row))
        parted = keyed.partitionBy(n, partitioner).values()
        return DataStream(spark.createDataFrame(parted, schema))


class KeyedStream:
    """Stream partitioned by key (``KeyedStream.java:97``): rolling
    aggregates, windows, and arbitrary per-key state."""

    def __init__(self, df: DataFrame, keys: list[str]):
        self._df = df
        self._keys = keys

    # -- rolling aggregates (KeyedStream.java:746-1002) ------------------
    def sum(self, col: str) -> DataStream:
        return DataStream(self._df.groupBy(*self._keys).agg(F.sum(col).alias(col)))

    def min(self, col: str) -> DataStream:
        return DataStream(self._df.groupBy(*self._keys).agg(F.min(col).alias(col)))

    def max(self, col: str) -> DataStream:
        return DataStream(self._df.groupBy(*self._keys).agg(F.max(col).alias(col)))

    def count(self) -> DataStream:
        return DataStream(self._df.groupBy(*self._keys)
                          .agg(F.count(F.lit(1)).alias("count")))

    def max_by(self, order_col: str) -> DataStream:
        """Row with the max ``order_col`` per key (``maxBy``):
        ``max_by`` aggregate over a struct of the full row."""
        cols = [c for c in self._df.columns]
        row = F.struct(*cols)
        picked = (self._df.groupBy(*self._keys)
                  .agg(F.max_by(row, F.col(order_col)).alias("_row")))
        return DataStream(picked.select([F.col(f"_row.{c}").alias(c) for c in cols]))

    def min_by(self, order_col: str) -> DataStream:
        cols = [c for c in self._df.columns]
        row = F.struct(*cols)
        picked = (self._df.groupBy(*self._keys)
                  .agg(F.min_by(row, F.col(order_col)).alias("_row")))
        return DataStream(picked.select([F.col(f"_row.{c}").alias(c) for c in cols]))

    def as_queryable_state(self, name: str, *agg_exprs: str | Column,
                           backend: str = "memory", url: str | None = None,
                           bounded: bool = True):
        """``KeyedStream.java:1020`` ``asQueryableState``: register this
        keyed stream's aggregated state under ``name`` for point
        lookups (streaming/queryable.py).  The underlying frame must be
        a streaming DataFrame; returns a QueryableStateHandle."""
        from flink_release_1_10_0_spark.streaming.queryable import (
            as_queryable_state)
        state = self._df.groupBy(*self._keys).agg(*_cols(agg_exprs))
        return as_queryable_state(state, name, self._keys,
                                  backend=backend, url=url, bounded=bounded)

    def reduce(self, *agg_exprs: str | Column) -> DataStream:
        """General keyed reduce via aggregate expressions (stays JVM-side;
        arbitrary Python reducers belong in ``process``)."""
        return DataStream(self._df.groupBy(*self._keys).agg(*_cols(agg_exprs)))

    # -- windows (KeyedStream.java:615 timeWindow / :652 countWindow) ----
    def time_window(self, ts_col: str, size: str,
                    slide: str | None = None) -> "WindowedStream":
        w = F.window(ts_col, size, slide) if slide else F.window(ts_col, size)
        return WindowedStream(self._df, self._keys, w)

    def session_window(self, ts_col: str, gap: str) -> "WindowedStream":
        return WindowedStream(self._df, self._keys,
                              F.session_window(F.col(ts_col), gap))

    def count_window(self, n: int) -> DataFrame:
        """Count tumbling window — a keyed state function (stream or batch)."""
        from flink_release_1_10_0_spark.streaming.stateful import count_tumble_window
        assert len(self._keys) == 1
        return count_tumble_window(self._df, n=n, key=self._keys[0])

    # -- arbitrary per-key state (KeyedProcessFunction) ------------------
    def process(self, fn, output_schema: str, state_schema: str,
                output_mode: str = "update",
                timeout: Any = None) -> DataStream:
        """KeyedProcessFunction analog -> ``keyed.keyed_state``.
        ``fn(key, pdf_iter, state)`` with GroupState, the key's rows of
        the call in arrival order; timers map to ``GroupStateTimeout``
        configs."""
        from flink_release_1_10_0_spark.streaming.keyed import keyed_state

        def call(key, pdf, state):
            return fn(key, iter((pdf,) if len(pdf) else ()), state)

        return DataStream(keyed_state(
            self._df, self._keys, call, output_schema, state_schema,
            output_mode=output_mode, timeout=timeout))

    def interval_join(self, other: "KeyedStream", left_ts: str, right_ts: str,
                      lower: str, upper: str) -> DataStream:
        """``KeyedStream.intervalJoin`` (:418) — time-bounded stream-stream
        join; both sides need watermarks for state cleanup."""
        cond = (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {lower}")) & \
               (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {upper}"))
        on = [self._df[k] == other._df[k2]
              for k, k2 in zip(self._keys, other._keys)]
        joined = self._df.join(other._df, on[0] if len(on) == 1 else
                               F.expr(" AND ".join(str(c) for c in on)))
        return DataStream(joined.filter(cond))


class WindowedStream:
    """Keyed stream bucketed by a window assigner
    (``WindowedStream.java``); ``aggregate``/``reduce`` -> grouped agg."""

    def __init__(self, df: DataFrame, keys: list[str], window: Column):
        self._df = df
        self._keys = keys
        self._window = window

    def aggregate(self, *agg_exprs: str | Column) -> DataStream:
        g = self._df.groupBy(self._window.alias("w"), *self._keys)
        out = g.agg(*_cols(agg_exprs))
        return DataStream(out.withColumn("w_start", F.col("w.start"))
                             .withColumn("w_end", F.col("w.end"))
                             .drop("w"))

    reduce = aggregate



class ConnectedStreams:
    """``DataStream.connect`` (``ConnectedStreams.java``): two streams,
    one keyed operator.  Spark-first layout: union the two inputs tagged
    with ``__side`` (0=first, 1=second), aligning schemas by name and
    nulling missing columns; ``key_by(...).process(fn)`` then sees both
    sides' rows interleaved per key — the CoProcessFunction shape (the
    streaming temporal join in ``streaming/stateful.py`` is exactly this
    layout specialized to versioned joins)."""

    def __init__(self, first: "DataStream", second: "DataStream"):
        self._first = first
        self._second = second

    def as_tagged_union(self) -> "DataStream":
        df1, df2 = self._first.df, self._second.df
        cols = list(dict.fromkeys(df1.columns + df2.columns))  # ordered union
        def pad(df):
            have = set(df.columns)
            return df.select(*[
                F.col(c) if c in have else F.lit(None).alias(c) for c in cols])
        tagged = (pad(df1).withColumn("__side", F.lit(0))
                  .union(pad(df2).withColumn("__side", F.lit(1))))
        return DataStream(tagged)

    def key_by(self, *keys: str) -> "KeyedStream":
        return self.as_tagged_union().key_by(*keys)

    def co_map(self, first_expr: str | Column, second_expr: str | Column,
               alias: str = "mapped", *keep: str) -> "DataStream":
        """CoMap (``ConnectedStreams.java`` map(CoMapFunction)): apply a
        different expression per input side, one unified output column."""
        f = F.expr(first_expr) if isinstance(first_expr, str) else first_expr
        g = F.expr(second_expr) if isinstance(second_expr, str) else second_expr
        tagged = self.as_tagged_union().df
        return DataStream(tagged.select(
            *keep, F.when(F.col("__side") == 0, f).otherwise(g).alias(alias)))

    def co_flat_map(self, first_arr: str, second_arr: str,
                    alias: str = "item", *keep: str) -> "DataStream":
        """CoFlatMap: explode a per-side array expression."""
        tagged = self.as_tagged_union().df
        arr = F.when(F.col("__side") == 0, F.expr(first_arr))                .otherwise(F.expr(second_arr))
        return DataStream(tagged.select(*keep, F.explode(arr).alias(alias)))


def _connect(self, other: "DataStream") -> "ConnectedStreams":
    return ConnectedStreams(self, other)


DataStream.connect = _connect
