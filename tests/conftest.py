from __future__ import annotations

import os
import shutil
import sys
import tempfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_release_1_10_0_spark.catalog import TABLES
from flink_release_1_10_0_spark.session import get_spark, scratch_dir

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def private_tempdir():
    """Point ``tempfile`` at a dir of this test session's own and remove
    it at the end: every dir a test or the package makes with
    ``tempfile.mkdtemp`` goes there, so the session leaves nothing in the
    system temp dir, and a test that counts dirs by prefix counts only
    its own session's (another Spark process sharing the system temp
    dir cannot move the count)."""
    root = tempfile.mkdtemp(prefix="spark_graft_tests_")
    saved = tempfile.tempdir
    tempfile.tempdir = root
    try:
        yield root
    finally:
        tempfile.tempdir = saved
        shutil.rmtree(root, ignore_errors=True)


def scratch_root(spark) -> str:
    """``spark``'s session scratch root, the parent of every dir
    ``session.scratch_dir`` makes (checkpoints included)."""
    return os.path.dirname(scratch_dir(spark, "probe"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        p = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    yield con


def compare_query(spark, duck, name: str, sf_dir: str = SF_DIR):
    """Assert a registered query matches its oracle (driver-style compare)."""
    import math

    from flink_release_1_10_0_spark.queries import all_oracles, all_queries

    def _norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.10g}"
        return str(v)

    sdf = all_queries()[name](spark, sf_dir)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    oracle = all_oracles().get(name)
    if oracle is None:
        assert len(srows) >= 0
        return srows
    res = duck.execute(oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} != {len(drows)}"
    assert sorted(scols) == sorted(dcols), f"{name}: cols {scols} != {dcols}"
    so = sorted(range(len(scols)), key=lambda i: scols[i])
    do = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sk = sorted(tuple(_norm(r[i]) for i in so) for r in srows)
    dk = sorted(tuple(_norm(r[i]) for i in do) for r in drows)
    assert sk == dk, f"{name}: values differ; first diff {next((a, b) for a, b in zip(sk, dk) if a != b)}"
    return srows


def with_eos_sentinels(df, key, ts_col: str = "ts", id_col: str = "event_id"):
    """Append one end-of-input row per key to a BOUNDED batch frame before
    replaying it as a STREAM through ``match_nfa``: the analog of the
    final +inf watermark a bounded reference job emits, which flushes
    pending runs (satisfied trailing-greedy matches emit, other partials
    time out).  A batch frame passed to ``match_nfa`` directly needs
    none: its batch route appends one per key group.

    The row carries ``id = EOS_SENTINEL_ID``, ``ts = max(ts) + 1 day``
    for its key (so it sorts strictly last), and NULL in every other
    column; the NFA recognizes it by id and never lets it match, start a
    run, or reach any output."""
    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.keyed import EOS_SENTINEL_ID

    keys = [key] if isinstance(key, str) else list(key)
    sent = (df.groupBy(*keys)
            .agg((F.max(ts_col) + F.expr("INTERVAL 1 DAY")).alias(ts_col)))
    cols = []
    for f_ in df.schema.fields:
        if f_.name in keys or f_.name == ts_col:
            cols.append(F.col(f_.name))
        elif f_.name == id_col:
            cols.append(F.lit(EOS_SENTINEL_ID).cast(f_.dataType)
                        .alias(f_.name))
        else:
            cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    return df.unionByName(sent.select(*cols))
