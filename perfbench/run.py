"""Layered benchmark of the pyspark-flow package, measured from outside it.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads.  ``BENCHMARK.json`` lists the first two, which fit the
benchmark's time budget; the other two run the same way on demand:

- ``olap_batch``   TPC-H q1/q3/q5/q6/q10/q18 + the TPC-DS multi-fact star
                   on split fact files (Spark does the work);
- ``cep_bounded``  bounded streaming heads: keyed top-N, MATCH_RECOGNIZE
                   and sqlite-backed queryable state (start-stop streaming
                   lifecycle, the Arrow state boundary, the DB-API source);
- ``llm_curation`` ten LLM-curation heads: LSH/SRP/semantic dedup, PQ and
                   BM25 search, packing, connected components, k-means and
                   the sqlite DB-API round trip (driver loops, band joins);
- ``stream_ingest`` open loop: a separate generator process appends
                   seeded event files on a fixed schedule while
                   ``Pattern.match_stream`` runs on ``read_stream_table``
                   with a processing-time trigger.  Latency runs from the
                   due time of a match's newest event to its arrival in
                   the sink; ``--trace 1`` adds a rate sweep that reports
                   the highest rate whose backlog does not grow.

A closed-loop run generates (or reuses) the seeded tier, starts a session,
runs one untimed pass whose results are checked against cached DuckDB
oracle answers and one or two untimed warm-up passes, then times a fixed
number of passes through the noop sink: as many as ``--seconds`` holds at
the workload's nominal pass time.  ``--trace 1`` runs the first half of those
passes untraced and the second half traced, and prints per-layer numbers
(per pass, median over traced passes), per-head numbers and the tracing
overhead.

Human-readable lines go to stdout first; the last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}`` holding the
``end_to_end`` metrics (``--trace 0``) or the ``per_layer`` metrics
(``--trace 1``) named in ``BENCHMARK.json``.  ``--report FILE`` also
writes the full result, host fingerprint included, for
``perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_release_1_10_0_spark"
CACHE = os.path.join(ROOT, ".bench_cache")
RUNS = os.path.join(ROOT, ".bench_run")
CACHE_KEEP = 16          # tiers kept in the cache (oldest evicted first)
GEN_VERSION = 1         # bump when data.py changes what it generates
DRIVER_MEM = "2g"


@dataclass(frozen=True)
class Workload:
    heads: tuple[str, ...]
    sf: float
    split: tuple[str, ...] = ()
    files: int = 1
    # a warm pass on a 4-core host; fixes how many passes ``--seconds``
    # buys, so every run (and both sides of a comparison) times the same
    # number of queries
    nominal_pass_s: float = 3.0
    # untimed passes after the checked first pass: the JIT keeps speeding
    # passes up for a while, so timing starts later where passes are cheap
    warm_passes: int = 1

    def passes(self, seconds: float) -> int:
        return max(3, math.ceil(seconds / self.nominal_pass_s))


WORKLOADS = {
    "olap_batch": Workload(
        ("tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
         "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
         "tpch_q10_returned_items", "tpch_q18_large_volume_customer",
         "tpcds_q_multi_fact_star"),
        sf=0.02, split=("lineitem", "orders"), files=8, nominal_pass_s=2.0,
        warm_passes=2),
    "cep_bounded": Workload(
        ("stream_topn_per_key", "flink_sql_match_recognize",
         "queryable_state_snapshot"),
        sf=0.002, nominal_pass_s=3.5),
    # text_bpe_train_merges is left out: its DuckDB oracle alone takes
    # ~30 s per seed on this tier
    "llm_curation": Workload(
        ("minhash_lsh_dup_pairs", "dedup_incremental_lsh",
         "dedup_embedding_srp", "dedup_semantic_incremental",
         "similarity_pq_topk_recall", "ir_bm25_topk",
         "pack_sequences_next_fit", "graph_connected_components",
         "ml_pipeline_scaler_kmeans", "source_dbapi_roundtrip"),
        sf=0.001, nominal_pass_s=17.0),
    "stream_ingest": Workload(("cep_nfa_four_stage",), sf=0.001),
}
TINY_SF = 0.001          # --tier tiny: every workload on the smallest tier

# stream_ingest schedule: events/s at the measured rate, file cadence,
# trigger interval, keyed users, and the rates of the traced rate sweep
STREAM_RATE = 400
STREAM_TICK = 0.1
STREAM_TRIGGER = "250 milliseconds"
STREAM_USERS = 40
STREAM_WARM_S = 2.0
SWEEP = (800, 1600, 3200, 6400)
SWEEP_S = 2.0

END_TO_END = ("pass_s", "latency_p50_s", "latency_tail_s", "setup_s",
              "live_mem_mb")
# name -> (unit, better, which end-to-end metric it should move, where)
LAYER_METRICS = {
    "session.start_s": ("s", "lower", "setup_s, every workload"),
    "catalog.cold_resolve_ms": ("ms", "lower", "setup_s on olap_batch"),
    "catalog.warm_resolve_ms": ("ms", "lower",
                                "latency_p50_s on olap_batch"),
    "driver.gap_s": ("s", "lower",
                     "pass_s on cep_bounded/llm_curation, not olap_batch"),
    "driver.jobs": ("count", "lower", "pass_s on cep_bounded/llm_curation"),
    "queries.build_s": ("s", "lower", "pass_s on cep_bounded/llm_curation"),
    "spark.job_busy_s": ("s", "lower", "pass_s, latency_tail_s on olap_batch"),
    "spark.tasks": ("count", "lower", "pass_s on olap_batch"),
    "spark.core_util": ("ratio", "higher", "pass_s on olap_batch"),
    "spark.task_cpu_s": ("s", "lower", "pass_s on olap_batch"),
    "spark.scan_bytes": ("B", "lower", "pass_s on olap_batch"),
    "spark.shuffle_bytes": ("B", "lower", "pass_s on olap_batch"),
    "spark.spill_bytes": ("B", "lower", "latency_tail_s on olap_batch"),
    "spark.failed_tasks": ("count", "lower", "latency_tail_s on olap_batch"),
    "spark.parallel_speedup": ("ratio", "higher",
                               "pass_s on olap_batch (local[1] baseline)"),
    "pyworker.run_s": ("s", "lower",
                       "pass_s on cep_bounded, latency on stream_ingest"),
    "pyworker.init_s": ("s", "lower", "setup_s, pass_s on cep_bounded"),
    "pyworker.bytes_sent": ("B", "lower", "pass_s on cep_bounded"),
    "pyworker.bytes_returned": ("B", "lower", "pass_s on cep_bounded"),
    "pyworker.batches": ("count", "lower", "pass_s on cep_bounded"),
    "streaming.queries_started": ("count", "lower", "pass_s on cep_bounded"),
    "streaming.add_batch_s": ("s", "lower", "pass_s on cep_bounded"),
    "streaming.overhead_s": ("s", "lower", "pass_s on cep_bounded"),
    "streaming.state_commit_s": ("s", "lower", "pass_s on cep_bounded"),
    "streaming.state_rows": ("count", "lower", "pass_s on cep_bounded"),
    "streaming.state_bytes": ("B", "lower", "live_mem_mb on cep_bounded"),
    "streaming.tmp_dirs_left": ("count", "lower",
                                "none (per-pass leak, cep_bounded)"),
    "sources.write_s": ("s", "lower", "pass_s on cep_bounded/llm_curation"),
    "sources.read_s": ("s", "lower", "pass_s on cep_bounded/llm_curation"),
    "sources.rows_written": ("count", "lower",
                             "pass_s on cep_bounded/llm_curation"),
    "trace.overhead_s": ("s", "lower", "none (traced minus untraced pass)"),
    # stream_ingest only
    "streaming.trigger_ms": ("ms", "lower",
                             "pass_s, latency_* on stream_ingest"),
    "streaming.backlog_files": ("count", "lower",
                                "latency_* on stream_ingest"),
    "loadgen.lag_ms": ("ms", "lower", "none (generator health)"),
    "sustained_eps": ("1/s", "higher", "sustained rate of stream_ingest"),
}
STREAM_ONLY = ("streaming.trigger_ms", "streaming.backlog_files",
               "loadgen.lag_ms", "sustained_eps")
# Timings that are zero by construction on olap_batch stay out of the
# JSON line (BENCHMARK.json ``per_layer``); the report still prints them.
ZERO_ON_OLAP = ("pyworker.run_s", "pyworker.init_s", "streaming.add_batch_s",
                "streaming.overhead_s", "streaming.state_commit_s",
                "sources.write_s", "sources.read_s")
JSON_LAYERS = tuple(k for k in LAYER_METRICS
                    if k not in STREAM_ONLY and k not in ZERO_ON_OLAP)
UNITS = {"pass_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
         "setup_s": "s", "live_mem_mb": "MB",
         **{k: v[0] for k, v in LAYER_METRICS.items()}}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_share(before: tuple[int, int]) -> float:
    steal, total = cpu_ticks()
    return (steal - before[0]) / max(total - before[1], 1)


def proc_start_epoch() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Value at the highest percentile with at least ten samples beyond
    it, that percentile, and the sample count.  Below 11 samples no
    percentile qualifies and the maximum is reported as p100."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Environment
# ---------------------------------------------------------------------------
def hermetic_env(run_root: str, cpus: int) -> dict:
    """Point every temporary path of this run into ``run_root`` and fix the
    session's core count and heap.  Must run before pyspark is imported."""
    dirs = {k: os.path.join(run_root, k)
            for k in ("tmp", "spark-local", "cwd", "stream")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["TMPDIR"] = dirs["tmp"]
    env["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # workers import the package by path, whatever their cwd
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={dirs['tmp']}"
    import tempfile
    tempfile.tempdir = None   # re-read TMPDIR on next use
    os.chdir(dirs["cwd"])     # spark-warehouse / metastore land here
    return dirs


def fingerprint(spark) -> dict:
    def cpu_model():
        with open("/proc/cpuinfo") as f:
            return next((ln.split(":", 1)[1].strip() for ln in f
                         if ln.startswith("model name")), "unknown")

    def mem_gb():
        with open("/proc/meminfo") as f:
            kb = int(next(ln.split()[1] for ln in f
                          if ln.startswith("MemTotal")))
        return round(kb / 2**20, 1)

    def git_sha():
        head = os.path.join(ROOT, ".git", "HEAD")
        if not os.path.exists(head):
            return None
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        path = os.path.join(ROOT, ".git", ref[5:])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        return None

    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)), "cpu_model": cpu_model(),
            "mem_gb": mem_gb(), "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"),
            "git_sha": git_sha()}


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this interpreter's peak RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = int(next(ln.split()[1] for ln in f
                          if ln.startswith("VmHWM")))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def live_mem_mb(spark) -> float:
    """Driver memory still in use at the end of the run: JVM heap and
    non-heap after a full GC, plus this interpreter's resident set.
    Unlike the high-water marks it does not depend on when the JVM
    chose to grow its heap."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = (mx.getHeapMemoryUsage().getUsed()
            + mx.getNonHeapMemoryUsage().getUsed())
    with open("/proc/self/status") as f:
        py_kb = int(next(ln.split()[1] for ln in f
                         if ln.startswith("VmRSS")))
    return used / 2**20 + py_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def prune_cache(keep: int) -> None:
    if not os.path.isdir(CACHE):
        return
    entries = sorted((os.path.getmtime(os.path.join(CACHE, e)), e)
                     for e in os.listdir(CACHE))
    for _, e in entries[:max(len(entries) - keep, 0)]:
        shutil.rmtree(os.path.join(CACHE, e), ignore_errors=True)


# ---------------------------------------------------------------------------
# Closed loop
# ---------------------------------------------------------------------------
class ClosedLoop:
    def __init__(self, spark, qs, tier, heads, answers, tmp: str):
        self.spark, self.qs, self.tier = spark, qs, tier
        self.heads, self.answers, self.tmp = heads, answers, tmp
        self.attempted = self.failed = 0
        self.verdicts: dict[str, str] = {}
        self.cold: dict[str, float] = {}    # first-pass seconds per head
        self.retired = None     # a stopped session, kept referenced

    def check_pass(self) -> float:
        """Untimed first pass: run every head, collect, compare with the
        cached oracle answer.  Returns the time spent outside the checks."""
        from data import answer, canon_spark, mismatch

        spent = 0.0
        for h in self.heads:
            self.attempted += 1
            t0 = time.time()
            try:
                df = self.qs[h](self.spark, self.tier)
                rows = df.collect()
                self.cold[h] = time.time() - t0
                spent += self.cold[h]
                got = answer(df.columns, {f.name: canon_spark(
                    f.dataType.simpleString()) for f in df.schema.fields},
                    [tuple(r) for r in rows])
                bad = mismatch(self.answers[h], got)
            except Exception as e:  # a failing head is a result, not a crash
                spent += time.time() - t0
                bad = f"raised {type(e).__name__}: {str(e)[:200]}"
            self.verdicts[h] = bad or "match"
            self.failed += bad is not None
        return spent

    def one_pass(self, spans: list | None):
        from layers import Span

        times = {}
        for h in self.heads:
            self.attempted += 1
            span = Span(h, time.time())
            try:
                df = self.qs[h](self.spark, self.tier)
                span.t_built = time.time()
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                self.failed += 1
                print(f"head {h} failed: {type(e).__name__}: {e}",
                      file=sys.stderr)
                span.t_built = span.t_built or time.time()
            span.t1 = time.time()
            times[h] = span.t1 - span.t0
            if spans is not None:
                spans.append(span)
        return times

    def timed(self, n_passes: int, tracer=None, listener=None):
        """``n_passes`` passes.  Returns per-pass wall times, per-head
        samples and per-pass layers."""
        from layers import Span, sqlite_rows

        passes, samples, layers = [], {h: [] for h in self.heads}, []
        for _ in range(n_passes):
            t0 = time.time()
            tmp_before = len(os.listdir(self.tmp))
            spans = [] if tracer else None
            times = self.one_pass(spans)
            if tracer is not None:
                if listener is not None:
                    listener.settle()
                snap = tracer.snapshot(t0 * 1000 - 1)
                per_head = {sp.head: tracer.attribute(snap, sp, listener)
                            for sp in spans}
                total = {k: sum(v[k] for v in per_head.values())
                         for k in per_head[self.heads[0]]}
                # gaps between heads belong to the pass, not to a head
                whole = tracer.attribute(
                    snap, Span("pass", t0, t0, time.time()), None)
                total["driver.gap_s"] = whole["driver.gap_s"]
                total["spark.job_busy_s"] = whole["spark.job_busy_s"]
                total["sources.rows_written"] = float(
                    sqlite_rows(self.tmp, t0))
                total["streaming.tmp_dirs_left"] = float(
                    len(os.listdir(self.tmp)) - tmp_before)
                layers.append((total, per_head))
            passes.append(time.time() - t0)
            for h, s in times.items():
                samples[h].append(s)
        return passes, samples, layers


def layer_summary(layers, cores: int) -> dict:
    """Median over traced passes of each per-pass layer total."""
    out = {k: median([tot[k] for tot, _ in layers]) for k in layers[0][0]}
    busy = out.get("spark.job_busy_s", 0.0)
    out["spark.core_util"] = (out.get("spark.task_run_s", 0.0)
                              / (busy * cores) if busy else 0.0)
    return out


def head_summary(layers) -> dict:
    heads = {}
    for _, per_head in layers:
        for h, vals in per_head.items():
            for k, v in vals.items():
                heads.setdefault(h, {}).setdefault(k, []).append(v)
    return {h: {k: median(v) for k, v in kv.items()}
            for h, kv in heads.items()}


def run_closed(args, wl: Workload, dirs: dict, cores: int) -> dict:
    import data

    from flink_release_1_10_0_spark import catalog
    from flink_release_1_10_0_spark.queries import all_oracles, all_queries
    from flink_release_1_10_0_spark.session import get_spark

    qs, oracles = all_queries(), all_oracles()
    sf = TINY_SF if args.tier == "tiny" else wl.sf
    g0 = time.time()
    tier, answers = data.ensure_tier(
        CACHE, f"{args.workload}-{args.tier}-s{args.seed}-v{GEN_VERSION}",
        args.seed, sf, wl.heads, oracles, wl.split, wl.files)
    gen_s = time.time() - g0

    s0 = time.time()
    spark = get_spark("perfbench")
    ready = time.time()
    res = {"layers": {"session.start_s": ready - s0}, "gen_s": gen_s}
    try:
        cold, warm = [], []
        for name in catalog.TABLES:
            for acc in (cold, warm):
                t0 = time.perf_counter()
                catalog.load(spark, tier, name)
                acc.append((time.perf_counter() - t0) * 1000)
        res["layers"]["catalog.cold_resolve_ms"] = median(cold)
        res["layers"]["catalog.warm_resolve_ms"] = median(warm)
        catalog_s = (sum(cold) + sum(warm)) / 1000

        loop = ClosedLoop(spark, qs, tier, wl.heads, answers, dirs["tmp"])
        first = loop.check_pass()
        res["setup_s"] = (ready - proc_start_epoch() - gen_s) + catalog_s + first
        res["verdicts"] = loop.verdicts
        res["cold"] = loop.cold
        for _ in range(wl.warm_passes):
            loop.one_pass(None)
        n_passes = wl.passes(args.seconds)
        ticks = cpu_ticks()
        if not args.trace:
            passes, samples, _ = loop.timed(n_passes)
        else:
            from layers import StatusTrace, StreamListener

            base, _, _ = loop.timed(max(n_passes // 2, 2))
            listener = StreamListener()
            spark.streams.addListener(listener)
            tracer = StatusTrace(spark)
            passes, samples, layers = loop.timed(
                max(n_passes - n_passes // 2, 2), tracer, listener)
            spark.streams.removeListener(listener)
            res["layers"].update(layer_summary(layers, cores))
            res["layers"]["trace.overhead_s"] = median(passes) - median(base)
            res["heads_layers"] = head_summary(layers)
            if args.workload == "olap_batch":
                res["layers"]["spark.parallel_speedup"] = parallel_speedup(
                    spark, loop, median(base))
                spark = loop.spark
        lat = [x for h in wl.heads for x in samples[h]]
        p_tail, pct, n = tail(lat)
        res.update({
            "pass_s": median(passes), "passes": len(passes),
            "pass_list": passes, "steal": steal_share(ticks),
            "latency_p50_s": median(lat), "latency_tail_s": p_tail,
            "tail_pct": pct, "samples": n,
            "heads": {h: median(samples[h]) for h in wl.heads},
            "attempted": loop.attempted, "failed": loop.failed,
            "peak_rss_mb": peak_rss_mb(spark),
            "live_mem_mb": live_mem_mb(spark),
        })
        res["fingerprint"] = fingerprint(spark)
    finally:
        stop_spark(spark)
    return res


def parallel_speedup(spark, loop: ClosedLoop, multi_pass_s: float) -> float:
    """One pass at ``local[1]`` (after an untimed warm pass) against the
    median untraced pass at ``local[nproc]``.  Keeps the stopped
    session referenced so no id()-keyed memo can see its id reused."""
    from flink_release_1_10_0_spark.session import get_spark

    loop.retired = spark
    spark.stop()
    one = get_spark("perfbench-1core", cpus=1)
    loop.spark = one
    loop.one_pass(None)
    t0 = time.time()
    loop.one_pass(None)
    single = time.time() - t0
    return single / multi_pass_s if multi_pass_s else 0.0


# ---------------------------------------------------------------------------
# Open loop
# ---------------------------------------------------------------------------
def _progress_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


class StreamRun:
    """The ``stream_ingest`` pipeline plus its sink and progress log."""

    def __init__(self, spark, stream_root: str, ckpt: str):
        from flink_release_1_10_0_spark.streaming.cep import Pattern
        from flink_release_1_10_0_spark.streaming.core import read_stream_table

        self.rows = []          # (user_id, start_id, end_id, n_events, t)
        self.progress = {}      # batchId -> progress dict
        ev = read_stream_table(spark, stream_root, "events")
        m = (Pattern.begin("signup").followed_by("click")
             .followed_by("error").followed_by("purchase")
             .within(14 * 24 * 60).match_stream(ev))
        self.df = m.select("user_id", "start_id", "end_id", "n_events")

        def sink(batch, _batch_id):
            got = batch.collect()
            t = time.time()
            self.rows.extend((*tuple(r), t) for r in got)

        self.query = (self.df.writeStream.foreachBatch(sink)
                      .option("checkpointLocation", ckpt)
                      .trigger(processingTime=STREAM_TRIGGER).start())

    def poll(self) -> None:
        for p in self.query.recentProgress:
            self.progress[p["batchId"]] = p

    def wait_until(self, t_end: float) -> None:
        while time.time() < t_end:
            self.poll()
            time.sleep(min(1.0, max(t_end - time.time(), 0.0)))
        self.poll()

    def batches(self, lo: float, hi: float) -> list[dict]:
        return [p for _, p in sorted(self.progress.items())
                if lo <= _progress_epoch(p["timestamp"]) < hi]


def _read_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def run_stream(args, wl: Workload, dirs: dict, cores: int) -> dict:
    import bisect

    import numpy as np
    import pyarrow.parquet as pq

    import data
    from flink_release_1_10_0_spark.queries import all_oracles
    from flink_release_1_10_0_spark.session import get_spark

    events_dir = os.path.join(dirs["stream"], "events.parquet")
    os.makedirs(events_dir)
    log_path = os.path.join(dirs["tmp"], "..", "loadgen.jsonl")
    # file 0: one tick of events written before the query starts, so the
    # source has a schema and the first (cold) batch has work
    n0 = max(round(STREAM_RATE * STREAM_TICK), 1)
    t_first = time.time()
    pq.write_table(data.event_table(
        np.random.default_rng([args.seed, 0]), 0, n0, STREAM_USERS,
        (int(t_first * 1e6) + np.arange(n0)).astype("int64")),
        os.path.join(events_dir, "part-000000.parquet"))

    s0 = time.time()
    spark = get_spark("perfbench")
    ready = time.time()
    res = {"layers": {"session.start_s": ready - s0}, "gen_s": 0.0}
    gen = None
    try:
        from flink_release_1_10_0_spark import catalog

        cold, warm = [], []
        for acc in (cold, warm):
            t0 = time.perf_counter()
            catalog.load(spark, dirs["stream"], "events")
            acc.append((time.perf_counter() - t0) * 1000)
        res["layers"]["catalog.cold_resolve_ms"] = cold[0]
        res["layers"]["catalog.warm_resolve_ms"] = warm[0]

        q0 = time.time()
        run = StreamRun(spark, dirs["stream"],
                        os.path.join(dirs["stream"], "_ckpt"))
        while not any(p["numInputRows"] for p in run.progress.values()):
            if time.time() - q0 > 120:
                raise RuntimeError("stream produced no batch in 120 s")
            time.sleep(0.05)
            run.poll()
        first_done = time.time()
        res["setup_s"] = (ready - proc_start_epoch()) + (first_done - q0)

        half = args.seconds / 2 if args.trace else args.seconds
        phases = [(STREAM_RATE, STREAM_WARM_S), (STREAM_RATE, args.seconds)]
        if args.trace:
            phases += [(r, SWEEP_S) for r in SWEEP]
        start = time.time() + 0.2
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"),
             "--dir", events_dir, "--log", log_path,
             "--seed", str(args.seed), "--start", repr(start),
             "--tick", str(STREAM_TICK),
             "--phases", ",".join(f"{r}:{s}" for r, s in phases),
             "--users", str(STREAM_USERS), "--first-id", str(n0)])
        m0 = start + STREAM_WARM_S
        m1 = m0 + args.seconds
        ticks = cpu_ticks()
        tracer = None
        run.wait_until(m0 + half)
        if args.trace:
            from layers import StatusTrace

            tracer = StatusTrace(spark)
        sweep_end = m1 + (len(SWEEP) * SWEEP_S if args.trace else 0)
        run.wait_until(m1)
        res["steal"] = steal_share(ticks)
        if args.trace:
            snap = tracer.snapshot((m0 + half) * 1000)
        run.wait_until(sweep_end)
        gen.wait(timeout=60)
        run.query.processAllAvailable()
        run.poll()
        run.query.stop()

        log = _read_log(log_path)
        log_first = [r["first_id"] for r in log]

        def due(event_id: int) -> float:
            i = bisect.bisect_right(log_first, event_id) - 1
            return log[i]["due"] if i >= 0 else t_first

        lat = [t - due(end_id) for (_, _, end_id, _, t) in run.rows
               if m0 <= due(end_id) < m1]
        trig = [p for p in run.batches(m0, m1) if p["numInputRows"]]
        p_tail, pct, n = tail(lat) if lat else (0.0, 0.0, 0)

        # correctness: every match equals the batch oracle over all files
        import duckdb

        con = duckdb.connect()
        try:
            data.duck_views(con, dirs["stream"], ["events"])
            sql = all_oracles()[wl.heads[0]]
            r = con.execute(sql)
            expected = data.answer([d[0] for d in r.description], None,
                                   r.fetchall())
        finally:
            con.close()
        got = data.answer(run.df.columns, None,
                          [row[:4] for row in run.rows])
        bad = data.mismatch(expected, got)
        res["verdicts"] = {wl.heads[0] + "(stream)": bad or "match"}
        res.update({
            "pass_s": median([p["durationMs"]["triggerExecution"] / 1000
                              for p in trig]),
            "passes": len(trig),
            "latency_p50_s": median(lat), "latency_tail_s": p_tail,
            "tail_pct": pct, "samples": n,
            "attempted": max(len(lat), 1), "failed": 0 if bad is None else 1,
            "peak_rss_mb": peak_rss_mb(spark),
            "live_mem_mb": live_mem_mb(spark),
        })
        res["stream"] = stream_layers(run, log, m0, m1, phases, n0)
        if args.trace:
            res["layers"].update(res["stream"])
            res["layers"].update(stream_traced(
                tracer, snap, run, m0 + half, m1, cores, dirs["tmp"]))
            trig_u = [p["durationMs"]["triggerExecution"] / 1000
                      for p in run.batches(m0, m0 + half)
                      if p["numInputRows"]]
            trig_t = [p["durationMs"]["triggerExecution"] / 1000
                      for p in run.batches(m0 + half, m1)
                      if p["numInputRows"]]
            res["layers"]["trace.overhead_s"] = median(trig_t) - median(trig_u)
        res["fingerprint"] = fingerprint(spark)
    finally:
        if gen is not None and gen.poll() is None:
            gen.terminate()
            gen.wait(timeout=30)
        stop_spark(spark)
    return res


def stream_layers(run: StreamRun, log, m0, m1, phases, n0) -> dict:
    """Backlog, generator lag and (when the schedule has sweep phases) the
    sustained rate, from the progress log and the generator's write log."""
    per_file = max(round(STREAM_RATE * STREAM_TICK), 1)
    ordered = [p for _, p in sorted(run.progress.items())]
    consumed_before, acc = {}, 0
    for p in ordered:
        consumed_before[p["batchId"]] = acc
        acc += p["numInputRows"]

    def backlog_at(p):
        t = _progress_epoch(p["timestamp"])
        due = n0 + sum(r["n"] for r in log if r["due"] <= t)
        return due - consumed_before[p["batchId"]]

    measured = [p for p in ordered
                if m0 <= _progress_epoch(p["timestamp"]) < m1]
    out = {
        "streaming.backlog_files": median(
            [backlog_at(p) / per_file for p in measured]),
        "loadgen.lag_ms": max([(r["written"] - r["due"]) * 1000
                               for r in log
                               if m0 <= r["due"] < m1] or [0.0]),
    }
    if len(phases) < 3:
        return out
    # each sweep phase: the backlog must not grow by more than two files'
    # worth of events (or a tenth of the phase's events) from its start to
    # its end
    sustained = float(STREAM_RATE)
    t = m1
    for rate, secs in phases[2:]:
        inside = [p for p in ordered
                  if t <= _progress_epoch(p["timestamp"]) < t + secs]
        if len(inside) >= 2:
            grow = backlog_at(inside[-1]) - backlog_at(inside[0])
            if grow <= max(2 * rate * STREAM_TICK, 0.1 * rate * secs):
                sustained = float(rate)
            else:
                break
        t += secs
    out["sustained_eps"] = sustained
    return out


def stream_traced(tracer, snap, run, lo, hi, cores, tmp) -> dict:
    from layers import Span, sqlite_rows

    lay = tracer.attribute(snap, Span("stream", lo, lo, hi), None)
    batches = [p for p in run.batches(lo, hi)]
    lay.update({
        "streaming.queries_started": 1.0,
        "streaming.add_batch_s": sum(p["durationMs"].get("addBatch", 0)
                                     for p in batches) / 1000,
        "streaming.state_commit_s": sum(
            op.get("commitTimeMs", 0) for p in batches
            for op in p.get("stateOperators", [])) / 1000,
        "streaming.state_rows": float(sum(
            op.get("numRowsTotal", 0)
            for op in (batches[-1].get("stateOperators", [])
                       if batches else []))),
        "streaming.state_bytes": float(sum(
            op.get("memoryUsedBytes", 0)
            for op in (batches[-1].get("stateOperators", [])
                       if batches else []))),
        "streaming.trigger_ms": median(
            [p["durationMs"]["triggerExecution"] for p in batches
             if p["numInputRows"]]),
        "streaming.tmp_dirs_left": float(len(os.listdir(tmp))),
        "sources.rows_written": float(sqlite_rows(tmp, lo)),
    })
    lay["streaming.overhead_s"] = max(
        (hi - lo) - lay["streaming.add_batch_s"], 0.0)
    busy = lay["spark.job_busy_s"]
    lay["spark.core_util"] = (lay["spark.task_run_s"] / (busy * cores)
                              if busy else 0.0)
    lay["spark.parallel_speedup"] = 0.0
    return lay


# ---------------------------------------------------------------------------
# Output
# ---------------------------------------------------------------------------
def print_report(args, res: dict) -> None:
    w = args.workload
    print(f"# perfbench workload={w} seed={args.seed} tier={args.tier} "
          f"seconds={args.seconds} trace={int(args.trace)}")
    print(f"# host {json.dumps(res.get('fingerprint', {}))}")
    print(f"# loadavg before={res['load_before']} after={res['load_after']}"
          f" cpu steal while timed={res['steal']:.1%}")
    for h, v in res.get("verdicts", {}).items():
        print(f"oracle {h}: {v}")
    cold = res.get("cold", {})
    for h, s in res.get("heads", {}).items():
        print(f"head {h}: median {s:.4f} s  (first pass {cold.get(h, 0):.2f} s)")
    share = res["failed"] / res["attempted"]
    closed = w != "stream_ingest"
    print(f"failed_share = {share:.4f} ({res['failed']}/{res['attempted']})")
    print(f"pass_s = {res['pass_s']:.4f} s  "
          f"({'passes' if closed else 'micro-batches'}: {res['passes']})")
    if closed:
        print("passes_s = " + " ".join(f"{x:.3f}" for x in res["pass_list"]))
        print(f"query_p50_s = {res['latency_p50_s']:.4f} s")
        print(f"query_tail_s = {res['latency_tail_s']:.4f} s  "
              f"(p{res['tail_pct']:.1f} of {res['samples']} samples)")
    else:
        st = res["stream"]
        print(f"event_latency_p50_ms = {res['latency_p50_s'] * 1000:.1f} ms")
        print(f"event_latency_tail_ms = {res['latency_tail_s'] * 1000:.1f} ms"
              f"  (p{res['tail_pct']:.1f} of {res['samples']} matches)")
        if "sustained_eps" in st:
            print(f"sustained_eps = {st['sustained_eps']:.0f} 1/s")
        else:
            print("sustained_eps = n/a (the rate sweep runs with --trace 1)")
    print(f"setup_s = {res['setup_s']:.4f} s  (tier generation "
          f"{res['gen_s']:.2f} s not counted)")
    print(f"peak_rss_mb = {res['peak_rss_mb']:.1f} MB  (driver JVM VmHWM + "
          "driver Python peak RSS)")
    print(f"live_mem_mb = {res['live_mem_mb']:.1f} MB")
    if args.trace:
        closed_only = STREAM_ONLY if closed else ()
        for k, (unit, _, moves) in LAYER_METRICS.items():
            if k not in closed_only:
                print(f"layer {k} = {res['layers'].get(k, 0.0):.6g} {unit}"
                      f"  (moves {moves})")
        for h, vals in res.get("heads_layers", {}).items():
            print(f"head {h}: " + " ".join(
                f"{k}={vals[k]:.4g}" for k in sorted(vals)))


def result_line(args, res: dict) -> dict:
    if args.trace:
        names = list(JSON_LAYERS)
        if args.workload == "stream_ingest":
            names += STREAM_ONLY
        values = {k: res["layers"].get(k, 0.0) for k in names}
    else:
        names = list(END_TO_END)
        values = {k: res[k] for k in names}
    bad_oracle = any(v != "match" for v in res.get("verdicts", {}).values())
    return {"correct": not bad_oracle and res["failed"] == 0,
            "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": {k: {"value": float(values[k]), "unit": UNITS[k]}
                        for k in names}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tier", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--report", help="also write the full result here")
    args = ap.parse_args(argv)
    args.trace = bool(args.trace)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found in {ROOT}",
              file=sys.stderr)
        return 2
    report_path = os.path.abspath(args.report) if args.report else None
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    cores = len(os.sched_getaffinity(0))
    run_root = os.path.join(RUNS, f"{args.workload}-{os.getpid()}")
    load_before = os.getloadavg()
    try:
        dirs = hermetic_env(run_root, cores)
        os.makedirs(CACHE, exist_ok=True)
        prune_cache(CACHE_KEEP)
        runner = run_stream if args.workload == "stream_ingest" else run_closed
        res = runner(args, WORKLOADS[args.workload], dirs, cores)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_root, ignore_errors=True)
    res["load_before"] = [round(x, 2) for x in load_before]
    res["load_after"] = [round(x, 2) for x in os.getloadavg()]
    line = result_line(args, res)
    print_report(args, res)
    if report_path:
        with open(report_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "trace": args.trace, "result": line, "detail": res},
                      f, indent=1, default=str)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
