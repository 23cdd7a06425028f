"""State Processor API queries (streaming/state_processor.py): savepoint
read, bootstrap-then-resume, and offline rescale — the
``flink-state-processing-api`` library surface
(``Savepoint.load/create``, ``ExistingSavepoint.readKeyedState``,
``OperatorTransformation.bootstrapWith``, SURVEY.md §2.9).

State columns stay integral (counts + exact cents) so partial-state
merges are order-independent and bit-exact against the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_release_1_10_0_spark.queries import register
from flink_release_1_10_0_spark.queries.helpers import MONEY, t
from flink_release_1_10_0_spark.session import scratch_dir
from flink_release_1_10_0_spark.streaming.core import read_stream_table

_STATE_AGG_ORACLE = """
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM events GROUP BY user_id
"""


def _keyed_state(df):
    return (df.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum((F.col("value").cast(MONEY) * 100).cast("bigint"))
                 .alias("total_cents")))


@register("state_processor_read_keyed", _STATE_AGG_ORACLE)
def state_processor_read_keyed(spark, sf_dir):
    """Job -> savepoint -> batch analysis: a keyed streaming aggregation
    runs to completion, its state is written as a savepoint operator
    (key-group-partitioned parquet, KeyGroupRangeAssignment.java:72
    layout), and ``readKeyedState`` returns it as a batch DataFrame —
    ``ExistingSavepoint.readKeyedState`` over ``Savepoint.load``."""
    from flink_release_1_10_0_spark.streaming.queryable import (
        as_queryable_state)
    from flink_release_1_10_0_spark.streaming.state_processor import (
        create_savepoint, load_savepoint)

    ev = read_stream_table(spark, sf_dir, "events")
    handle = as_queryable_state(_keyed_state(ev), "sp_read_keyed",
                                ["user_id"], backend="dbapi")
    path = scratch_dir(spark, "savepoint_read")
    (create_savepoint(spark, max_parallelism=128)
     .with_keyed_operator("agg", handle.snapshot(), ["user_id"])
     .write(path))
    return load_savepoint(spark, path).read_keyed_state("agg")


@register("state_processor_bootstrap_resume", _STATE_AGG_ORACLE)
def state_processor_bootstrap_resume(spark, sf_dir):
    """Bootstrap-then-resume: batch-computed partial aggregates over the
    prefix (event_id <= median) are written with
    ``OperatorTransformation.bootstrapWith`` semantics; the streaming job
    then processes ONLY the suffix and its partials merge with the
    savepoint state — the final keyed state must equal the batch
    aggregate over the full table."""
    from flink_release_1_10_0_spark.streaming.queryable import (
        as_queryable_state)
    from flink_release_1_10_0_spark.streaming.state_processor import (
        create_savepoint, load_savepoint, merge_keyed_partials)

    ev = t(spark, sf_dir, "events")
    mid = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).first()[0]

    path = scratch_dir(spark, "savepoint_boot")
    (create_savepoint(spark, max_parallelism=128)
     .with_keyed_operator(
         "agg", _keyed_state(ev.filter(F.col("event_id") <= mid)),
         ["user_id"])
     .write(path))

    suffix = (read_stream_table(spark, sf_dir, "events")
              .filter(F.col("event_id") > mid))
    handle = as_queryable_state(_keyed_state(suffix), "sp_boot_resume",
                                ["user_id"], backend="dbapi")

    boot = load_savepoint(spark, path).read_keyed_state("agg")
    return merge_keyed_partials(boot, handle.snapshot(), ["user_id"],
                                ["n", "total_cents"])


_RESCALE_ORACLE = """
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM events
WHERE event_type IN ('purchase', 'error')
GROUP BY user_id
"""


@register("state_processor_rescale_roundtrip", _RESCALE_ORACLE)
def state_processor_rescale_roundtrip(spark, sf_dir):
    """Offline rescale: a savepoint written at maxParallelism=128 is
    rewritten to 32 key groups (murmur % 32 reassignment — what the
    runtime forbids but the State Processor API enables) and read back;
    the state itself must be byte-identical through the group move."""
    from flink_release_1_10_0_spark.streaming.state_processor import (
        create_savepoint, load_savepoint, rescale_savepoint)

    state = _keyed_state(
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "error")))
    src = scratch_dir(spark, "savepoint_src")
    dest = scratch_dir(spark, "savepoint_rescaled")
    (create_savepoint(spark, max_parallelism=128)
     .with_keyed_operator("agg", state, ["user_id"])
     .write(src))
    rescale_savepoint(spark, src, dest, new_max_parallelism=32)
    return load_savepoint(spark, dest).read_keyed_state("agg")
