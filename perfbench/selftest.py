"""Self-tests of the benchmark, on the tiny (sf0.001-sized) tier.

    python3 perfbench/selftest.py          # everything (~6 minutes)
    python3 perfbench/selftest.py --fast   # skip the end-to-end runs

Checks:

1. ``BENCHMARK.json`` names exactly the metrics ``run.py`` prints, with
   the same units, and every workload it lists exists in ``run.py``;
2. SQL-metric text parses to bytes and seconds;
3. a streaming query's jobs are attributed to the head that started it,
   not to the head that runs next;
4. every workload runs on the tiny tier with its oracle check passing,
   and its last stdout line carries every end-to-end metric of
   ``BENCHMARK.json`` with its unit; the ``BENCHMARK.json`` workloads
   also run traced and carry every per-layer metric with its unit;
5. ``compare.py`` accepts reports from one host and refuses mixed hosts.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_spec() -> None:
    s = spec()
    e2e = {m["name"]: m["unit"] for m in s["end_to_end"]}
    assert e2e == {k: run.UNITS[k] for k in run.END_TO_END}, e2e
    layer = [(m["name"], m["unit"], m["better"]) for m in s["per_layer"]]
    assert layer == [(k, *run.LAYER_METRICS[k][:2])
                     for k in run.JSON_LAYERS], layer
    for w in s["workloads"]:
        assert w["name"] in run.WORKLOADS, w
    print("ok  BENCHMARK.json matches run.py")


def check_parse() -> None:
    from layers import parse_metric

    assert parse_metric("16.0 KiB") == 16 * 1024
    assert parse_metric("1,500") == 1500
    assert abs(parse_metric("386 ms") - 0.386) < 1e-12
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms)"
    ) == 1.5
    assert parse_metric(None) == 0.0
    print("ok  SQL metric parsing")


def check_attribution() -> None:
    """Run a streaming head, then a batch head, and check that the
    streaming query's jobs land in the first head's window only."""
    cores = len(os.sched_getaffinity(0))
    run_root = os.path.join(run.RUNS, f"selftest-{os.getpid()}")
    try:
        run.hermetic_env(run_root, cores)
        import data
        from layers import Span, StatusTrace, StreamListener

        from flink_release_1_10_0_spark.queries import (
            all_oracles, all_queries)
        from flink_release_1_10_0_spark.session import get_spark

        heads = ("stream_topn_per_key", "tpch_q6_forecast_revenue")
        tier, _ = data.ensure_tier(run.CACHE, "selftest-tiny-s3", 3,
                                   run.TINY_SF, heads, all_oracles())
        spark = get_spark("perfbench-selftest")
        try:
            listener = StreamListener()
            spark.streams.addListener(listener)
            tracer = StatusTrace(spark)
            qs, spans = all_queries(), []
            for h in heads:
                sp = Span(h, time.time())
                df = qs[h](spark, tier)
                sp.t_built = time.time()
                df.write.format("noop").mode("overwrite").save()
                sp.t1 = time.time()
                spans.append(sp)
            listener.settle()
            snap = tracer.snapshot(spans[0].t0 * 1000 - 1)
            qids = list(listener.started)
            assert qids, "no streaming query started"
            jobs = [j for j in snap["jobs"]
                    if any(q in (j.get("description") or "") for q in qids)]
            assert jobs, "no job carries the streaming query id"
            lo, hi = spans[0].t0 * 1000, spans[0].t1 * 1000
            assert all(lo <= j["submissionTime"] <= hi for j in jobs), jobs
            first, second = (tracer.attribute(snap, sp, listener)
                             for sp in spans)
            assert first["streaming.queries_started"] == len(qids), first
            assert second["streaming.queries_started"] == 0, second
            assert first["driver.jobs"] >= len(jobs), (first, len(jobs))
            assert second["driver.jobs"] >= 1, second
            assert first["pyworker.batches"] >= 1, first
            assert second["pyworker.batches"] == 0, second
        finally:
            run.stop_spark(spark)
    finally:
        os.chdir(ROOT)
        import shutil
        shutil.rmtree(run_root, ignore_errors=True)
    print(f"ok  {len(jobs)} streaming jobs attributed to {heads[0]}")


def check_runs(report_dir: str) -> list[str]:
    s = spec()
    e2e = {m["name"]: m["unit"] for m in s["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in s["per_layer"]}
    listed = {w["name"] for w in s["workloads"]}
    reports = []
    for w in run.WORKLOADS:
        for trace in (0, 1) if w in listed else (0,):
            report = os.path.join(report_dir, f"{w}-{trace}.json")
            reports.append(report)
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w, "--seed", "5", "--seconds", "3",
                   "--trace", str(trace), "--tier", "tiny",
                   "--report", report]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=300)
            assert p.returncode == 0, (w, trace, p.stderr[-2000:])
            line = json.loads(p.stdout.strip().splitlines()[-1])
            assert line["correct"] and line["failed"] == 0, (w, p.stdout)
            want = layer if trace else e2e
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            assert all(got.get(k) == u for k, u in want.items()), (w, got)
            if not trace:
                assert all(line["metrics"][k]["value"] > 0 for k in e2e), line
            print(f"ok  {w} trace={trace}: {line['attempted']} attempted, "
                  "oracle match, all metrics present")
    return reports


def check_compare(reports: list[str], report_dir: str) -> None:
    import compare

    assert compare.main(["--base", *reports, "--change", *reports]) == 0
    with open(reports[0]) as f:
        other = json.load(f)
    other["detail"]["fingerprint"]["nproc"] += 1
    moved = os.path.join(report_dir, "other-host.json")
    with open(moved, "w") as f:
        json.dump(other, f)
    assert compare.main(["--base", reports[0], "--change", moved]) == 2
    print("ok  compare.py refuses mixed hosts")


def main() -> int:
    check_spec()
    check_parse()
    check_attribution()
    if "--fast" not in sys.argv:
        import tempfile

        with tempfile.TemporaryDirectory(dir=run.RUNS) as report_dir:
            check_compare(check_runs(report_dir), report_dir)
    return 0


if __name__ == "__main__":
    sys.exit(main())
