"""In-memory catalog over parquet tables.

Reference: Flink's ``GenericInMemoryCatalog``
(``flink-table/flink-table-api-java-bridge`` / catalog package,
``GenericInMemoryCatalog.java:52``) + the scan-source registration path
(``BatchExecTableSourceScan.scala``).  In Spark the catalog IS the session
catalog; registering a parquet-backed temp view gives Catalyst full
predicate pushdown / column pruning / partition pruning on the scan —
equivalent to the reference's ``ProjectableTableSource`` /
``FilterableTableSource`` pushdown interfaces for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_release_1_10_0_spark.session import session_cached

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Coerce an event-time column to ``TimestampType`` whatever the source
    surfaced it as.

    The events parquet stores ``ts`` as INT64 TIMESTAMP(NANOS).  Depending
    on Spark version/confs that arrives as either ``bigint`` (raw nanos,
    legacy reader) or ``timestamp_ntz`` (Spark 4.x native nanos support,
    truncated to micros).  ``withWatermark`` — the reference's event-time
    semantics (``TimestampAssigner`` / watermark path,
    ``flink-streaming-java/.../timestamps/``) — requires TIMESTAMP, and the
    session timezone is pinned to UTC so an NTZ wall-clock cast is the
    identity reinterpretation DuckDB uses for naive timestamps.
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":  # raw nanos -> micros
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dt == "timestamp_ntz":  # wall-clock == UTC instant (session tz UTC)
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_tables(spark: SparkSession, sf_dir: str,
                    tables: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register every parquet table under ``sf_dir`` as a temp view.

    Returns name -> DataFrame.  Missing files are skipped so the same call
    works against partial datasets.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# Resolved-table memo — the catalog behavior this module models: the
# reference's GenericInMemoryCatalog resolves a table NAME to one table
# object per catalog, and Spark's own temp-view path reuses one analyzed
# relation per view.  Calling ``load`` afresh instead rebuilds the file
# index and re-reads the parquet footer on EVERY call (measured 90-150ms
# of pure driver gap per call; a bench run makes ~170 such calls).  The
# memoized value is an analyzed scan PLAN, not data: every action against
# it still reads the parquet inputs through the normal scan path.  The
# memo is per session (``session.session_cached``), so a new session never
# sees a stale entry.


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (no view registration).

    ``events.parquet`` stores ``ts`` as parquet INT64 TIMESTAMP(NANOS),
    which Spark's vectorized reader rejects; read it as raw nanos
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to microsecond
    timestamps — matching DuckDB's nanos->micros truncation.
    """
    def read() -> DataFrame:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if name != "events":
            return spark.read.parquet(path)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_time(spark.read.parquet(path))

    return session_cached(spark, "catalog.load",
                          (os.path.realpath(sf_dir), name), read)
