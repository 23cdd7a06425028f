"""Run metrics: where a call's time and bytes went.

``LatencyTracker`` is the ``LatencyMarker`` analog (reference:
``flink-streaming-java/.../streamrecord/LatencyMarker.java``).  Spark's
unit is the micro-batch, so per-record latency does not exist (SURVEY
§4); the tracker keeps the ``StreamingQueryListener`` progress stream
instead: per-trigger durations and rates, one object per trigger on the
driver, nothing on the data path.

``measure(spark, fn)`` is the run report on top of it.  It reads the
job/stage and SQL status stores (one Jackson dump each, the Spark UI
off) and attributes records by time window, not job group, so the jobs
of a streaming query the call starts on its own thread count too (as do
those of any other thread running meanwhile).
"""

from __future__ import annotations

import json
import re
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQueryListener


class LatencyTracker(StreamingQueryListener):
    """Collects per-trigger latency metrics for every streaming query
    on the session (LatencyMarker histogram analog)."""

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list[dict] = []

    # StreamingQueryListener interface
    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.progress.append({
                "id": str(p.id),
                "batchId": p.batchId,
                "durationMs": dict(p.durationMs or {}),
                "numInputRows": p.numInputRows,
                "inputRowsPerSecond": p.inputRowsPerSecond,
                "processedRowsPerSecond": p.processedRowsPerSecond,
            })

    def onQueryTerminated(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def attach(self, spark) -> "LatencyTracker":
        spark.streams.addListener(self)
        return self

    def detach(self, spark) -> None:
        spark.streams.removeListener(self)

    def histogram(self) -> dict:
        """min/max/mean trigger latency over captured progress (the
        per-operator latency histogram's query-level analog)."""
        lat = [p["durationMs"].get("triggerExecution")
               for p in self.progress
               if p["durationMs"].get("triggerExecution") is not None]
        if not lat:
            return {"count": 0}
        return {"count": len(lat), "min_ms": min(lat), "max_ms": max(lat),
                "mean_ms": sum(lat) / len(lat)}


# Python-exec SQL metrics (Spark 4.1 names).  The streaming
# FlatMapGroupsInPandasWithState node fills the run time and the bytes
# returned but reports the bytes sent as 0 B: Spark gives no input bytes
# for streaming keyed state.  The worker's init and start times are left
# out: a pooled worker starts its clock before it waits for its next
# task, so they count idle time.
_PY_METRICS = {
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([\d,.]+)\s*([A-Za-z]+)?")


def _metric_value(text: str | None) -> float:
    """A formatted SQL metric (``'16.0 KiB'``, ``'53 ms'``, or the
    per-task form whose last line starts with the total) in B, s or units."""
    m = _VALUE.match((text or "").split("\n")[-1].strip())
    return (float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)
            if m else 0.0)


def _status_records(spark, lo_ms: float, hi_ms: float) -> dict:
    """Jobs, stage attempts and SQL executions submitted in
    ``[lo_ms, hi_ms]``, read once the listener bus has drained."""
    jvm, sc = spark.sparkContext._jvm, spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.java.lang.Class.forName(
        "com.fasterxml.jackson.module.scala.DefaultScalaModule$")
        .getField("MODULE$").get(None))
    store = sc.statusStore()
    stages = store.stageList(None, False, False,
                             getattr(store, "stageList$default$4")(),
                             getattr(store, "stageList$default$5")())
    sql = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {name: [r for r in json.loads(mapper.writeValueAsString(obj))
                   if lo_ms <= (r.get("submissionTime") or 0) <= hi_ms]
            for name, obj in (("jobs", store.jobsList(None)),
                              ("stages", stages), ("sql", sql))}


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def measure(spark, fn) -> dict:
    """Run ``fn()`` and return where its time went, as flat JSON-able
    numbers.  A returned batch DataFrame runs through the noop sink;
    ``build_s`` is the time ``fn`` took (a bounded streaming head runs
    its query in it).  Coordination is ``driver.gap_s``, the wall time
    outside every job (building, planning, Python between actions,
    streaming start, stop and trigger bookkeeping; the last is
    ``streaming.overhead_s``, trigger time outside ``addBatch``).
    Compute is ``spark.job_busy_s`` and the counts below it."""
    log = LatencyTracker().attach(spark)
    try:
        t0 = time.time()
        out = fn()
        t_built = time.time()
        if isinstance(out, DataFrame) and not out.isStreaming:
            out.write.format("noop").mode("overwrite").save()
        t1 = time.time()
        # submission times are whole ms: floor t0 so its ms counts
        lo, hi = t0 * 1000 // 1, t1 * 1000
        rec = _status_records(spark, lo, hi)
    finally:
        log.detach(spark)
    jobs, stages = rec["jobs"], rec["stages"]
    busy = _union([(max(lo, j["submissionTime"]),
                    min(hi, j.get("completionTime") or hi)) for j in jobs])
    wall = t1 - t0

    def stage_sum(*keys):
        return float(sum(s.get(k, 0) for s in stages for k in keys))

    def trigger_sum(key):
        return sum(p["durationMs"].get(key, 0) for p in log.progress) / 1000

    trigger = trigger_sum("triggerExecution")
    add_batch = trigger_sum("addBatch")
    report = {
        "wall_s": wall,
        "build_s": t_built - t0,
        "driver.gap_s": max(wall - busy / 1000, 0.0),
        "driver.jobs": float(len(jobs)),
        "spark.job_busy_s": busy / 1000,
        "spark.stages": float(len(stages)),
        "spark.tasks": stage_sum("numTasks"),
        "spark.failed_tasks": stage_sum("numFailedTasks"),
        "spark.task_run_s": stage_sum("executorRunTime") / 1000,
        "spark.task_cpu_s": stage_sum("executorCpuTime") / 1e9,
        "spark.scan_bytes": stage_sum("inputBytes"),
        "spark.shuffle_bytes": stage_sum("shuffleWriteBytes"),
        "spark.spill_bytes": stage_sum("memoryBytesSpilled",
                                       "diskBytesSpilled"),
        "pyworker.execs": 0.0,
        **dict.fromkeys(_PY_METRICS.values(), 0.0),
        "streaming.queries": float(len({p["id"] for p in log.progress})),
        "streaming.triggers": float(len(log.progress)),
        "streaming.trigger_s": trigger,
        "streaming.add_batch_s": add_batch,
        "streaming.overhead_s": max(trigger - add_batch, 0.0),
    }
    for e in rec["sql"]:
        accs = {m["accumulatorId"]: _PY_METRICS[m["name"]]
                for m in e.get("metrics", []) if m["name"] in _PY_METRICS}
        for acc, key in accs.items():
            report[key] += _metric_value((e.get("metricValues") or {})
                                         .get(str(acc)))
        report["pyworker.execs"] += bool(accs)
    return report
