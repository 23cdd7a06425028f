"""Run report (``metrics.measure``) and the ``tools/profile_heads.py``
CLI on it: per-layer numbers from the status stores, the Spark UI off."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_DIR

from flink_release_1_10_0_spark.metrics import measure
from flink_release_1_10_0_spark.queries import all_queries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_batch_route_reports_python_bytes(spark):
    """``stream_topn_per_key`` runs its state function through batch
    ``applyInPandas``: one Python exec, bytes both ways, no query."""
    q = all_queries()["stream_topn_per_key"]
    r = measure(spark, lambda: q(spark, SF_DIR))
    assert r["driver.jobs"] >= 1 and r["spark.tasks"] >= 1
    assert r["spark.job_busy_s"] + r["driver.gap_s"] >= r["wall_s"] - 1e-6
    assert r["pyworker.execs"] >= 1
    assert r["pyworker.bytes_sent"] > 0 and r["pyworker.bytes_returned"] > 0
    assert r["streaming.queries"] == 0
    assert json.loads(json.dumps(r)) == r


def test_streaming_keyed_head_reports_python_time(spark):
    """``stream_temporal_sort`` streams through ``applyInPandasWithState``:
    its query and triggers are counted, and so is its Python time (Spark
    reports no bytes sent for that node)."""
    q = all_queries()["stream_temporal_sort"]
    r = measure(spark, lambda: q(spark, SF_DIR))
    assert r["streaming.queries"] == 1 and r["streaming.triggers"] >= 1
    assert r["streaming.trigger_s"] >= r["streaming.add_batch_s"] > 0
    assert r["pyworker.run_s"] > 0
    assert r["build_s"] > r["streaming.add_batch_s"]


def test_read_stream_table_runs_no_schema_job(spark):
    """The file schema is read once per session: a later
    ``read_stream_table`` of the same table starts no job."""
    from flink_release_1_10_0_spark.streaming.core import read_stream_table

    read_stream_table(spark, SF_DIR, "events")
    r = measure(spark, lambda: read_stream_table(spark, SF_DIR, "events"))
    assert r["driver.jobs"] == 0


def test_dbapi_write_is_one_stage(spark, tmp_path):
    """``dbapi.write`` sums its per-partition counts on the driver: one
    job, one stage, no shuffle."""
    from flink_release_1_10_0_spark.sources import dbapi

    url = str(tmp_path / "t.db")
    dbapi.create_table(url, "CREATE TABLE kv (k BIGINT PRIMARY KEY, v BIGINT)")
    df = spark.range(0, 300, numPartitions=3).selectExpr("id AS k", "id AS v")
    r = measure(spark, lambda: dbapi.write(df, url, "kv"))
    assert (r["driver.jobs"], r["spark.stages"]) == (1, 1)
    assert r["spark.shuffle_bytes"] == 0
    assert dbapi.write(df, url, "kv", mode="upsert") == 300


def test_profile_cli_json():
    """``tools/profile_heads.py --json`` prints one JSON object keyed by
    head, the numbers of its median-wall trial."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "2g"}
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "profile_heads.py"),
         "tpch_q6_forecast_revenue", "--trials", "1", "--sf", SF_DIR, "--json"],
        capture_output=True, text=True, timeout=600, env=env, cwd=ROOT)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    r = out["tpch_q6_forecast_revenue"]
    assert r["wall_min_s"] == r["wall_s"] == r["wall_max_s"] > 0
    assert r["driver.jobs"] >= 1 and r["spark.scan_bytes"] > 0


def test_tools_do_not_shadow_stdlib():
    """A tools/ script runs with tools/ first on ``sys.path``, so a file
    there named like a stdlib module (``profile.py``) would replace it
    for every other tool: pyspark's ``cProfile`` import would fail."""
    names = {f[:-3] for f in os.listdir(os.path.join(ROOT, "tools"))
             if f.endswith(".py")}
    assert names & sys.stdlib_module_names == set()
