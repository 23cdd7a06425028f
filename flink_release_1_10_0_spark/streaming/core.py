"""Structured Streaming harness: run a stream to completion over bounded
input and return the result as a batch DataFrame.

Reference analog: the reference's ITCase harnesses feed bounded element
streams through the streaming runtime and collect the sink
(``StreamingTestBase`` / planner-blink ``runtime/stream/sql`` tests,
SURVEY.md §5.2-5.3).  Here: ``readStream`` over the parquet file,
``trigger(availableNow=True)`` (processes all available input, including
the watermark-flush no-data batch, then stops) into a memory sink.

In production the same pipeline definitions run unbounded — swap the
bounded source for kafka/file-monitor and the memory sink for
parquet/kafka + checkpointing; the transformation graph is identical.
"""

from __future__ import annotations

import itertools
import os
import shutil
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ..session import scratch_dir, session_cached

_counter = itertools.count()


@contextmanager
def scoped_checkpoint(spark: SparkSession) -> Iterator[str]:
    """A scratch checkpoint dir for one bounded streaming run, removed on
    exit: once the query has terminated its result lives in the sink,
    and a finished bounded run is never resumed."""
    ckpt = scratch_dir(spark, "ckpt")
    try:
        yield ckpt
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def read_stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming scan of a testdata table (StreamExecTableSourceScan
    analog).  Handles the events table's INT64-nanos timestamp the same
    way the batch catalog does."""
    from ..catalog import normalize_event_time

    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file schema, once per session: reading it runs a schema job
    schema = session_cached(spark, "core.read_stream_table",
                            os.path.realpath(path),
                            lambda: spark.read.parquet(path).schema)
    if os.path.isdir(path):
        # table stored as a directory of part files (e.g. the scale
        # sweep's synthesized tiers): stream the directory itself
        sdf = spark.readStream.schema(schema).parquet(path)
    else:
        # FileStreamSource needs a directory; select just this table's
        # single file out of the testdata dir
        sdf = (spark.readStream.schema(schema)
               .option("pathGlobFilter", f"{name}.parquet")
               .parquet(sf_dir))
    if name == "events":
        sdf = normalize_event_time(sdf)
    return sdf


def run_to_completion(result: DataFrame, output_mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame to completion into a memory sink;
    returns the collected sink as a batch DataFrame.  The checkpoint
    dir is scoped to the run (:func:`scoped_checkpoint`).  The sink's
    temp view is dropped too: the returned frame's plan holds the sink
    itself, so it keeps working, and the session catalog stays flat."""
    spark = result.sparkSession
    qname = f"_stream_sink_{next(_counter)}"
    with scoped_checkpoint(spark) as ckpt:
        q = (result.writeStream
             .format("memory")
             .queryName(qname)
             .outputMode(output_mode)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    out = spark.table(qname)
    spark.catalog.dropTempView(qname)
    return out
