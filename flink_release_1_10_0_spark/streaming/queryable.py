"""Queryable state analog: expose a keyed streaming aggregation's state
for point lookups while (and after) the query runs.

Reference:
- ``flink-streaming-java/.../datastream/KeyedStream.java:1020``
  (``asQueryableState``) — registers keyed operator state under a name.
- ``flink-queryable-state/flink-queryable-state-client-java/.../
  QueryableStateClient.java`` — an EXTERNAL process does point lookups
  by key against the running job's state.

Spark-first shape: the state of a streaming aggregation IS its result
table, so "queryable state" is a continuously-maintained keyed view:

- ``backend="memory"``: complete-mode memory sink — every trigger
  publishes the full state snapshot under a session table name;
  ``get(key)`` is a filtered lookup on it.  In-process only (the
  reference's local-state fast path), fine for small keyed state.
- ``backend="dbapi"``: ``foreachBatch`` upserts each micro-batch's
  updated keys through ``sources.dbapi.write`` (one Arrow stage) into
  an external store — any process with a DB connection can point-lookup
  a key WITHOUT Spark, which is the actual QueryableStateClient
  contract.  ``snapshot()`` reads the store back with
  ``sources.dbapi.read``.  Update-mode deltas only: each trigger ships
  changed keys, not the whole state, so this is the 100 TB path (state
  lives in the store, partitioned writes, no driver materialization).

With ``bounded=True`` the checkpoint dir is removed once the
``availableNow`` query has terminated; the store (or memory table) is
the state and stays.

``QueryableStateClient.get_dbapi(url, table, **key)`` is the client-side
analog — a plain DB-API lookup, no SparkSession required.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from flink_release_1_10_0_spark.session import scratch_dir
from flink_release_1_10_0_spark.streaming.core import scoped_checkpoint

_counter = itertools.count()

# state column type -> store column type (what keyed agg state is made
# of); the dbapi backend refuses any other column type
_STORE_TYPES = {"bigint": "BIGINT", "int": "BIGINT", "double": "DOUBLE",
                "string": "TEXT"}


class QueryableStateHandle:
    """A named, continuously-maintained keyed state view."""

    def __init__(self, spark: SparkSession, name: str, key_cols: list[str],
                 backend: str, url: str | None = None,
                 table: str | None = None,
                 schema: StructType | None = None):
        self.spark = spark
        self.name = name
        self.key_cols = key_cols
        self.backend = backend
        self.url = url
        self.table = table
        self.schema = schema
        self.query = None

    def snapshot(self) -> DataFrame:
        """The current full state as a DataFrame (state-store scan)."""
        if self.backend == "memory":
            return self.spark.table(self.name)
        from flink_release_1_10_0_spark.sources import dbapi

        return dbapi.read(self.spark, self.url, table=self.table,
                          schema=self.schema)

    def get(self, **key):
        """Point lookup: the state row(s) for one key, or [] if absent
        (QueryableStateClient.getKvState analog)."""
        snap = self.snapshot()
        for k, v in key.items():
            snap = snap.filter(snap[k] == v)
        return snap.collect()

    def stop(self):
        if self.query is not None and self.query.isActive:
            self.query.stop()


def as_queryable_state(state_df: DataFrame, name: str,
                       key_cols: list[str], backend: str = "memory",
                       url: str | None = None,
                       bounded: bool = True) -> QueryableStateHandle:
    """Register a streaming aggregation's state under ``name``.

    ``state_df`` must be a streaming aggregated DataFrame whose grouping
    columns are ``key_cols`` (KeyedStream.asQueryableState takes exactly
    a keyed state descriptor).  ``bounded=True`` runs availableNow to
    completion (the test harness); ``bounded=False`` leaves the query
    running and returns immediately — lookups then observe live state.

    The dbapi backend stores bigint/int/double/string state columns
    (what keyed agg state is made of); any other column type raises
    ``ValueError`` here — project timestamps or arrays to epoch numbers
    or strings first, matching the reference's requirement that
    queryable state be a declared, serializable state descriptor.
    """
    spark = state_df.sparkSession
    if backend == "memory":
        import warnings

        warnings.warn(
            "queryable-state memory backend is COMPLETE-mode: every "
            "trigger republishes the full keyed snapshot to the driver. "
            "Fine for small keyed state; for large key cardinality use "
            "backend='dbapi' (update-mode deltas into an external "
            "store).", UserWarning, stacklevel=2)
        handle = QueryableStateHandle(spark, name, key_cols, "memory")
        writer = (state_df.writeStream.format("memory").queryName(name)
                  .outputMode("complete"))
    elif backend == "dbapi":
        from flink_release_1_10_0_spark.sources import dbapi

        ddl_cols = []
        for f in state_df.schema.fields:
            st = _STORE_TYPES.get(f.dataType.simpleString())
            if st is None:
                raise ValueError(
                    f"queryable state column {f.name!r} has type "
                    f"{f.dataType.simpleString()}; the dbapi backend "
                    f"stores only {', '.join(_STORE_TYPES)}")
            pk = " PRIMARY KEY" if (
                f.name in key_cols and len(key_cols) == 1) else ""
            ddl_cols.append(f"{f.name} {st}{pk}")
        if url is None:
            url = scratch_dir(spark, "qstate_db") + f"/{name}.db"
        table = f"qstate_{name}_{next(_counter)}"
        constraint = (f", PRIMARY KEY ({', '.join(key_cols)})"
                      if len(key_cols) > 1 else "")
        dbapi.create_table(url, f"CREATE TABLE IF NOT EXISTS {table} "
                                f"({', '.join(ddl_cols)}{constraint})")
        handle = QueryableStateHandle(spark, name, key_cols, "dbapi",
                                      url=url, table=table,
                                      schema=state_df.schema)

        def _upsert(batch_df, _epoch):
            dbapi.write(batch_df, url, table, mode="upsert")

        writer = (state_df.writeStream.foreachBatch(_upsert)
                  .outputMode("update"))
    else:
        raise ValueError(f"unknown queryable-state backend: {backend}")

    if bounded:
        with scoped_checkpoint(spark) as ckpt:
            handle.query = (writer.option("checkpointLocation", ckpt)
                            .trigger(availableNow=True).start())
            handle.query.awaitTermination()
    else:
        ckpt = scratch_dir(spark, "qstate_ckpt")
        handle.query = writer.option("checkpointLocation", ckpt).start()
    return handle


class QueryableStateClient:
    """External-process lookup path: no SparkSession involved
    (QueryableStateClient.java analog over DB-API)."""

    @staticmethod
    def get_dbapi(url: str, table: str, **key):
        from flink_release_1_10_0_spark.sources.dbapi import _connect

        preds = " AND ".join(f"{k} = ?" for k in key)
        con = _connect(url, read_only=True)
        try:
            cur = con.execute(
                f"SELECT * FROM {table} WHERE {preds}", list(key.values()))
            return cur.fetchall()
        finally:
            con.close()
