"""Custom data sources via Spark's Python Data Source API — the generic
InputFormat / custom SourceFunction surface.

Reference:
- ``StreamExecutionEnvironment.java:1434`` (``createInput(InputFormat)``)
  — a batch source is an InputFormat: ``createInputSplits(minNumSplits)``
  + ``open(split)/nextRecord``.  The Spark analog is a
  ``DataSourceReader`` whose ``partitions()`` are the input splits and
  whose ``read(partition)`` is the record iterator — each split is read
  by one task, exactly the reference's split-to-subtask assignment.
- ``StreamExecutionEnvironment.java:1527`` (``addSource(SourceFunction)``)
  + ``StatefulSequenceSource.java`` — a streaming source emits records
  and CHECKPOINTS its position (``CheckpointedFunction``), so recovery
  resumes without duplicates.  The Spark analog is a
  ``SimpleDataSourceStreamReader``: ``initialOffset()`` /
  ``read(start) -> (rows, next_offset)`` with offsets persisted in the
  streaming checkpoint log — the same exactly-once resume contract.

The sequence source here is the reference's ``StatefulSequenceSource``
re-expressed: deterministic ``id`` range, split into ``numPartitions``
contiguous ranges (batch) or ``rowsPerBatch`` micro-batch slices with a
checkpointed next-id offset (streaming).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class _RangeSplit(InputPartition):
    """One input split: a contiguous [lo, hi) id range
    (``GenericInputSplit`` analog — carries only split metadata)."""

    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


class _SequenceBatchReader(DataSourceReader):
    """InputFormat path: createInputSplits -> partitions(),
    open/nextRecord -> read(split)."""

    def __init__(self, start: int, end: int, num_partitions: int):
        self.start, self.end, self.n = start, end, max(1, num_partitions)

    def partitions(self):
        total = self.end - self.start
        per = max(1, -(-total // self.n))
        return [_RangeSplit(lo, min(lo + per, self.end))
                for lo in range(self.start, self.end, per)]

    def read(self, partition: _RangeSplit):
        for i in range(partition.lo, partition.hi):
            yield (i,)


class _SequenceStreamReader(SimpleDataSourceStreamReader):
    """SourceFunction path: emit ``rowsPerBatch`` ids per micro-batch;
    the offset {"next": n} is checkpointed by the engine, so a restart
    resumes at the exact record boundary (StatefulSequenceSource's
    CheckpointedFunction contract)."""

    def __init__(self, start: int, end: int, rows_per_batch: int):
        self.start, self.end, self.per = start, end, max(1, rows_per_batch)

    def initialOffset(self):
        return {"next": self.start}

    def read(self, start: dict):
        lo = start["next"]
        hi = min(lo + self.per, self.end)
        # the contract is (iterator, offset) — the engine's prefetch
        # wrapper calls next() on the first element; a list dies with
        # TypeError inside the prefetch thread and forces every batch
        # down the readBetweenOffsets replay path
        return (iter([(i,) for i in range(lo, hi)]), {"next": hi})

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay for recovery: the range IS the data
        return [(i,) for i in range(start["next"], end["next"])]


class SequenceDataSource(DataSource):
    """``flink_sequence`` — StatefulSequenceSource as a Spark data source.

    Options: ``start`` (default 0), ``end`` (exclusive, required),
    ``numPartitions`` (batch splits, default 8), ``rowsPerBatch``
    (streaming micro-batch size, default 1000).
    """

    @classmethod
    def name(cls) -> str:
        return "flink_sequence"

    def schema(self) -> str:
        return "id bigint"

    def _args(self):
        return (int(self.options.get("start", 0)),
                int(self.options["end"]))

    def reader(self, schema):
        start, end = self._args()
        return _SequenceBatchReader(
            start, end, int(self.options.get("numPartitions", 8)))

    def simpleStreamReader(self, schema):
        start, end = self._args()
        return _SequenceStreamReader(
            start, end, int(self.options.get("rowsPerBatch", 1000)))


def register_sequence_source(spark) -> None:
    """Idempotent registration of the ``flink_sequence`` format."""
    spark.dataSource.register(SequenceDataSource)


def run_sequence_stream_to_end(spark, end: int, rows_per_batch: int,
                               timeout_s: float = 120.0):
    """Run the STREAMING sequence source until it has emitted its full
    range, then stop — the bounded-run harness for a SourceFunction
    (``availableNow`` drains only one ``read()`` slice of a python
    stream reader, so completion is detected by row count).  Returns the
    collected sink as a batch DataFrame; the checkpoint dir and the
    sink's temp view do not outlive the call (the returned frame's plan
    holds the sink itself)."""
    import time

    from flink_release_1_10_0_spark.streaming.core import scoped_checkpoint

    register_sequence_source(spark)
    sdf = (spark.readStream.format("flink_sequence")
           .option("end", str(end))
           .option("rowsPerBatch", str(rows_per_batch)).load())
    qname = f"_seq_sink_{next(_run_counter)}"
    with scoped_checkpoint(spark) as ckpt:
        q = (sdf.writeStream.format("memory").queryName(qname)
             .option("checkpointLocation", ckpt)
             .trigger(processingTime="0 seconds").start())
        deadline = time.time() + timeout_s
        try:
            while spark.table(qname).count() < end:
                if time.time() > deadline:
                    raise TimeoutError("sequence stream did not drain")
                time.sleep(0.2)
        finally:
            q.stop()
    out = spark.table(qname)
    spark.catalog.dropTempView(qname)
    return out


_run_counter = __import__("itertools").count()
