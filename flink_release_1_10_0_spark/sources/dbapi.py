"""JDBC-family connector analog over Python DB-API (sqlite3 in this env).

Reference:
- ``flink-connectors/flink-jdbc/src/main/java/org/apache/flink/api/java/io/jdbc/JDBCInputFormat.java``
  — a JDBC scan is an InputFormat whose splits are parameter bindings of
  one templated query; ``JDBCNumericBetweenParametersProvider.java``
  derives the bindings as contiguous strides over a numeric column.
- ``JDBCAppendTableSink.java`` / ``JDBCUpsertTableSink.java`` — batched
  executor-side INSERT (append) or keyed INSERT-OR-REPLACE (upsert),
  flushed per batch.
- ``JDBCTableSource.java`` — projection pushdown into the generated
  SELECT list.

Spark-first shape: two plain functions, each one ``mapInArrow`` stage.

- ``read`` plans the stride splits on the driver and reads each split
  in its own task: the task opens its OWN connection and runs
  ``SELECT <cols> FROM t WHERE pcol >= lo AND pcol < hi``, exactly the
  reference's parameters-provider contract.  The first/last strides
  are unbounded below/above (same as Spark's built-in JDBC relation) so
  rows outside [lower_bound, upper_bound) are never dropped.  Rows come
  back as Arrow batches typed from the declared schema; a value the
  schema cannot hold raises.
- ``write`` runs per-partition batched ``executemany`` with WAL +
  busy-timeout retry (sqlite's stand-in for a server-side connection
  pool) and returns the row count summed from the per-partition counts.

There is no two-phase commit, the same as the reference's 1.10 JDBC
sinks: ``append`` is AT-LEAST-ONCE (a retried Spark task re-inserts its
partition's rows); ``upsert`` is effectively-once because the keyed
INSERT OR REPLACE is idempotent.  Use upsert (with a primary key)
whenever the pipeline can retry.

Scale note (100 TB): the partitioned-read contract is the same one a
1000-executor cluster uses against a real database — parallelism is
bounded by ``num_partitions`` strides, each task streams one cursor,
and nothing passes through the driver.  sqlite is only the in-container
endpoint; the connector code path (split planning, executor-side
cursors, batched writes) is the real one.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# rows per cursor fetch, and so per Arrow batch handed back to Spark
_FETCH_ROWS = 10_000


def _connect(url: str, read_only: bool = False):
    import sqlite3

    if read_only:
        con = sqlite3.connect(f"file:{url}?mode=ro", uri=True, timeout=30.0)
    else:
        con = sqlite3.connect(url, timeout=30.0)
        con.execute("PRAGMA journal_mode=WAL")
        con.execute("PRAGMA busy_timeout=30000")
    return con


def _stride_splits(lower: int, upper: int, n: int) -> list[tuple]:
    """The (lo, hi) bindings of the templated scan
    (JDBCNumericBetweenParametersProvider strides); ``None`` means
    unbounded (first/last stride)."""
    span = upper - lower
    if n <= 1 or span <= 0:
        # degenerate bounds (min == max key, empty stats probe): one
        # unbounded split — never zero splits, which would read nothing
        return [(None, None)]
    per = max(1, -(-span // n))
    bounds = range(lower, upper, per)
    last = len(bounds) - 1
    return [(None if i == 0 else lo,
             None if i == last else min(lo + per, upper))
            for i, lo in enumerate(bounds)]


def _read_split(url, base, pcol, lo, hi, arrow_schema):
    preds, params = [], []
    if lo is not None:
        preds.append(f"{pcol} >= ?")
        params.append(lo)
    if hi is not None:
        preds.append(f"{pcol} < ?")
        params.append(hi)
    sql = base
    if preds:
        # wrap the user query as a derived table so the stride predicate
        # composes with ANY base shape (subqueries, existing WHERE,
        # GROUP BY) — same templating as the reference's split query
        sql = f"SELECT * FROM ({base}) _splits WHERE " + " AND ".join(preds)

    def column(values, field):
        try:
            return pa.array(values, type=field.type)
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError) as e:
            raise ValueError(
                f"dbapi read: column {field.name!r} holds a value its "
                f"declared type {field.type} cannot hold ({e})") from e

    con = _connect(url, read_only=True)
    try:
        cur = con.execute(sql, params)
        while rows := cur.fetchmany(_FETCH_ROWS):
            cols = list(zip(*rows))
            yield pa.RecordBatch.from_arrays(
                [column(cols[i], f) for i, f in enumerate(arrow_schema)],
                schema=arrow_schema)
    finally:
        con.close()


def read(spark: SparkSession, url: str, *, table: str | None = None,
         query: str | None = None, schema: StructType | str,
         columns: str = "*", partition_column: str | None = None,
         lower_bound: int | None = None, upper_bound: int | None = None,
         num_partitions: int = 1) -> DataFrame:
    """JDBCInputFormat analog: scan ``table`` (projected to ``columns``)
    or the SELECT ``query`` at ``url``, typed from ``schema`` (a
    StructType or DDL string).  With ``partition_column``, the scan is
    split into ``num_partitions`` strides over [lower_bound,
    upper_bound), one task per stride."""
    if not (table or query):
        raise ValueError("dbapi.read requires 'table' or 'query'")
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    base = query or f"SELECT {columns} FROM {table}"
    splits = (_stride_splits(int(lower_bound), int(upper_bound),
                             num_partitions)
              if partition_column else [(None, None)])

    def read_splits(batches):
        for rb in batches:
            for i in rb.column(0).to_pylist():
                yield from _read_split(url, base, partition_column,
                                       *splits[i], arrow_schema)

    return (spark.range(0, len(splits), 1, len(splits))
            .mapInArrow(read_splits, schema))


def _write_batches(url: str, sql: str, batches, batch_size: int) -> int:
    """Executor side of ``write``: one connection, ``batch_size``-row
    ``executemany`` flushes; returns the rows written."""

    def flush(con, rows):
        for attempt in range(6):
            try:
                con.executemany(sql, rows)
                con.commit()
                return
            except Exception:
                # drop any rows the failed attempt left in the open
                # implicit transaction — without this, a later
                # successful flush would commit the partial batch
                # ALONGSIDE the retry, duplicating rows
                try:
                    con.rollback()
                except Exception:
                    pass
                if attempt == 5:
                    raise
                time.sleep(0.25 * (attempt + 1))

    n = 0
    pending: list[tuple] = []
    con = _connect(url)
    try:
        for rb in batches:
            # columnar -> row tuples in one C-speed transpose
            pending.extend(zip(*(c.to_pylist() for c in rb.columns)))
            while len(pending) >= batch_size:
                flush(con, pending[:batch_size])
                del pending[:batch_size]
                n += batch_size
        if pending:
            flush(con, pending)
            n += len(pending)
    finally:
        con.close()
    return n


def write(df: DataFrame, url: str, table: str, mode: str = "append",
          batch_size: int = 5000) -> int:
    """JDBCAppendTableSink / JDBCUpsertTableSink analog: each task
    writes its partition over its own connection; ``mode="upsert"`` uses
    INSERT OR REPLACE keyed on the table's primary key.  Returns the
    number of rows written: one count per partition reaches the driver
    (no data rows), summed there, so the write is one stage with no
    exchange."""
    if mode not in ("append", "upsert"):
        raise ValueError(f"dbapi.write mode must be append|upsert: {mode}")
    verb = "INSERT OR REPLACE" if mode == "upsert" else "INSERT"
    sql = (f"{verb} INTO {table} ({', '.join(df.columns)}) "
           f"VALUES ({', '.join('?' * len(df.columns))})")

    def write_partition(batches):
        n = _write_batches(url, sql, batches, batch_size)
        yield pa.RecordBatch.from_pydict({"rows": pa.array([n], pa.int64())})

    counts = df.mapInArrow(write_partition, "rows bigint")
    return sum(r.rows for r in counts.collect())


def create_table(url: str, ddl: str) -> None:
    """Driver-side DDL helper (CREATE TABLE IF NOT EXISTS ...)."""
    con = _connect(url)
    try:
        con.execute(ddl)
        con.commit()
    finally:
        con.close()
