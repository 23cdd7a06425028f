"""SparkSession factory with scale-oriented defaults.

The reference engine's execution configuration surface
(``flink-table-api-java/.../config/ExecutionConfigOptions.java`` and
``OptimizerConfigOptions.java``) maps onto Spark SQL confs:

- ``table.optimizer.join.broadcast-threshold`` (1 MB default)
  -> ``spark.sql.autoBroadcastJoinThreshold``
- ``table.optimizer.join-reorder-enabled`` -> ``spark.sql.cbo.joinReorder.enabled``
- ``table.exec.shuffle-mode`` / blocking shuffle -> AQE handles it at runtime
- spill/sort tuning (``table.exec.sort.*``) -> Tungsten external sort (built-in)

AQE is on so skew joins / partition coalescing re-plan at runtime — the
100 TB story: partition counts below are LOCAL TEST defaults; on a real
cluster, AQE target sizes (64 MB advisory partitions) govern, not the
static number.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkConf
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Driver-side memos, one dict per (session, name), keyed on the JVM
# session's UUID.  A UUID is never reused, so a session built after
# stop() cannot be served an entry of the stopped one (``id()`` of the
# py4j proxy can be recycled).  Only the newest few sessions keep their
# memos: a stopped session's entries are dropped once later sessions
# take its place.
_SESSION_MEMOS: dict[str, dict[str, dict]] = {}
_MAX_MEMO_SESSIONS = 4


def session_memo(spark: SparkSession, name: str) -> dict | None:
    """The memo dict ``name`` of ``spark``'s session, or None when the
    session has no JVM handle (no memo then).  Callers cache plans and
    registrations here, never query results."""
    try:
        sid = spark._jsparkSession.sessionUUID()
    except Exception:
        return None
    memos = _SESSION_MEMOS.get(sid)
    if memos is None:
        while len(_SESSION_MEMOS) >= _MAX_MEMO_SESSIONS:
            del _SESSION_MEMOS[next(iter(_SESSION_MEMOS))]
        memos = _SESSION_MEMOS[sid] = {}
    return memos.setdefault(name, {})


def session_cached(spark: SparkSession, name: str, key, build,
                   limit: int = 256):
    """``build()``, kept under ``key`` in ``spark``'s memo ``name``
    (cleared past ``limit`` entries to bound driver memory; not kept
    when the session has no JVM handle)."""
    memo = session_memo(spark, name)
    if memo is None:
        return build()
    if key not in memo:
        if len(memo) > limit:
            memo.clear()
        memo[key] = build()
    return memo[key]


# Scratch roots made by this process, one per session, removed at exit.
_SCRATCH_ROOTS: list[str] = []


@atexit.register
def _remove_scratch_roots() -> None:
    for root in _SCRATCH_ROOTS:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(spark: SparkSession, name: str) -> str:
    """A new empty dir ``name_*`` under ``spark``'s session root: where
    the package puts every file a call writes for itself (indexes,
    round-trip copies, checkpoints).  A returned lazy frame may read it
    at any time, so only a scoped checkpoint removes its own dir while
    the process lives; the root (made lazily in
    ``tempfile.gettempdir()``) goes at exit, and a killed process leaves
    one root behind."""
    memo = session_memo(spark, "session.scratch")
    if "root" not in memo:
        memo["root"] = tempfile.mkdtemp(prefix="spark_graft_session_")
        _SCRATCH_ROOTS.append(memo["root"])
    return tempfile.mkdtemp(prefix=f"{name}_", dir=memo["root"])


def _executor_pythonpath() -> str:
    """Any PYTHONPATH already set for executors, plus the directory
    holding this package (so that Python workers can import it)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = SparkConf().get("spark.executorEnv.PYTHONPATH", "")
    parts = [p for p in existing.split(os.pathsep) if p]
    if root not in parts:
        parts.append(root)
    return os.pathsep.join(parts)


def get_spark(app_name: str = "flink_release_1_10_0_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a session tuned for local testing, cluster-safe.

    Every conf here is also correct on a 1000-executor cluster except
    ``master``/``shuffle.partitions``, which a cluster deployment overrides
    via spark-submit; AQE coalescing makes the static shuffle-partition
    number mostly irrelevant at scale.  The Spark UI is off: run reports
    come from ``metrics.measure``, which reads the status stores directly.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor defaults to 1 MB per partition.  Stages whose
        # shuffle input is small in BYTES but heavy in CPU-per-row (LSH
        # candidate verification: array_intersect per pair) get coalesced
        # onto 1-3 tasks and serialize a 32-core machine (measured: the
        # minhash head's verify stage ran as a 4.2s/3-task job; 64k floor →
        # 3.4s head total, 1.8x).  64k keeps small-byte stages parallel; at
        # cluster scale the max(total/parallelism, floor) term dominates the
        # floor, so this is inert at 100 TB (coalescing still targets
        # total/parallelism).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # reference broadcast threshold is 1 MB; 32 MB is the right call on
        # a modern cluster (dimension tables of TPC-H at 100 TB SF are GBs,
        # but region/nation/part subsets stay broadcastable)
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # Python workers fork from the package's daemon (pyworker.py).
        # Under the stock daemon every task re-reads the directories of
        # pyspark.zip, the py4j zip and the spark-core jar (~26.7k
        # entries), 0.13-0.2 s of each task's setup on CPython 3.11; the
        # package daemon re-reads an archive only when it changed.  A
        # warm one-partition mapInPandas: 0.42 -> 0.16 s (4-core VM).
        # Every Python UDF fails if the daemon cannot be imported, so the
        # package root goes on the executors' PYTHONPATH (any cwd works).
        .config("spark.python.daemon.module", "flink_release_1_10_0_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _executor_pythonpath())
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
