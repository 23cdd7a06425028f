"""Per-layer numbers read from outside the package.

Sources, all of which exist with the UI off, so tracing changes no
session conf:

- Spark's job/stage status store (``SparkContext.statusStore``) and the
  SQL status store (``SharedState.statusStore``), dumped as JSON through
  the JVM's own Jackson mapper in one py4j call each;
- a ``StreamingQueryListener`` for streaming-query lifecycles and
  progress (queries the package starts internally included);
- the benchmark's own call boundaries (``Span``).

Jobs, stages and SQL executions are attributed to a head by time window,
not job group: a streaming query runs its jobs on its own thread, outside
the caller's job group, but always inside the call that started it.
"""

from __future__ import annotations

import json
import os
import re
import sqlite3
import threading
import time
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

# Python-exec SQL metric names (Spark 4) -> per-layer counter
_PY_METRICS = {
    "time to run Python workers": "pyworker.run_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to start Python workers": "pyworker.init_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([\d,.]+)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """Value of a formatted SQL metric: ``'16.0 KiB'``, ``'1,500'``,
    ``'6.5 s'`` or the ``'total (min, med, max ...)\\n<total> (...)'``
    form.  Sizes come back in bytes, durations in seconds."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    """One head call: [t0, t1] wall clock, with the query function
    returning at ``t_built``."""
    head: str
    t0: float
    t_built: float = 0.0
    t1: float = 0.0


class StreamListener(StreamingQueryListener):
    """Records streaming-query lifecycles and progress by query id."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.ended: dict[str, float] = {}
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        with self.lock:
            self.started[str(event.id)] = time.time()

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.setdefault(p["id"], []).append(p)

    def onQueryTerminated(self, event):
        with self.lock:
            self.ended[str(event.id)] = time.time()

    def settle(self, timeout: float = 5.0) -> None:
        """Wait until every started query has reported termination."""
        end = time.time() + timeout
        while time.time() < end:
            with self.lock:
                if set(self.started) <= set(self.ended):
                    return
            time.sleep(0.05)


class StatusTrace:
    """Reads the status stores and attributes their records to spans."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        scala = (jvm.java.lang.Class
                 .forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
                 .getField("MODULE$").get(None))
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(scala)
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def snapshot(self, since_ms: float) -> dict:
        """Jobs, stages and SQL executions submitted since ``since_ms``."""
        s = self.store
        stages = s.stageList(None, False, False,
                             getattr(s, "stageList$default$4")(),
                             getattr(s, "stageList$default$5")())
        end = float("inf")
        return {"jobs": _submitted(self._json(s.jobsList(None)),
                                   since_ms, end),
                "stages": _submitted(self._json(stages), since_ms, end),
                "sql": _submitted(self._json(self.sql.executionsList()),
                                  since_ms, end)}

    def attribute(self, snap: dict, span: Span,
                  listener: StreamListener | None) -> dict:
        """Per-layer totals of the records submitted inside ``span``."""
        lo, hi = span.t0 * 1000, span.t1 * 1000
        jobs = _submitted(snap["jobs"], lo, hi)
        stages = _submitted(snap["stages"], lo, hi)
        execs = _submitted(snap["sql"], lo, hi)
        wall = span.t1 - span.t0
        busy = _union([(max(lo, j["submissionTime"]),
                        min(hi, j.get("completionTime") or hi))
                       for j in jobs]) / 1000
        run_s = sum(st.get("executorRunTime", 0) for st in stages) / 1000
        v = {
            "wall_s": wall,
            "queries.build_s": span.t_built - span.t0,
            "driver.jobs": float(len(jobs)),
            "driver.gap_s": max(wall - busy, 0.0),
            "spark.job_busy_s": busy,
            "spark.tasks": float(sum(st.get("numTasks", 0) for st in stages)),
            "spark.task_run_s": run_s,
            "spark.task_cpu_s": sum(st.get("executorCpuTime", 0)
                                    for st in stages) / 1e9,
            "spark.scan_bytes": float(sum(st.get("inputBytes", 0)
                                          for st in stages)),
            "spark.shuffle_bytes": float(sum(st.get("shuffleWriteBytes", 0)
                                             for st in stages)),
            "spark.spill_bytes": float(sum(st.get("memoryBytesSpilled", 0)
                                           + st.get("diskBytesSpilled", 0)
                                           for st in stages)),
            "spark.failed_tasks": float(sum(st.get("numFailedTasks", 0)
                                            for st in stages)),
        }
        v.update(_python_and_sources(execs))
        if listener is not None:
            v.update(_streaming(listener, lo / 1000, hi / 1000))
        return v


def _submitted(rows: list[dict], lo: float, hi: float) -> list[dict]:
    return [r for r in rows if lo <= (r.get("submissionTime") or 0) <= hi]


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _python_and_sources(execs: list[dict]) -> dict:
    v = dict.fromkeys(set(_PY_METRICS.values()), 0.0)
    v.update({"pyworker.batches": 0.0, "sources.write_s": 0.0,
              "sources.read_s": 0.0})
    for e in execs:
        seen, crossed = set(), False
        values = e.get("metricValues") or {}
        for m in e.get("metrics", []):
            key = _PY_METRICS.get(m["name"])
            acc = m["accumulatorId"]
            if key is None or acc in seen:
                continue
            seen.add(acc)
            crossed = True
            v[key] += parse_metric(values.get(str(acc)))
        v["pyworker.batches"] += crossed
        plan = e.get("physicalPlanDescription") or ""
        took = ((e.get("completionTime") or e["submissionTime"])
                - e["submissionTime"]) / 1000
        if "Arguments: flink_jdbc" in plan:
            v["sources.write_s"] += took
        elif "BatchScan flink_jdbc" in plan:
            v["sources.read_s"] += took
    return v


def _streaming(listener: StreamListener, lo: float, hi: float) -> dict:
    with listener.lock:
        ids = [q for q, t in listener.started.items() if lo <= t <= hi]
        add_batch = commit = rows = state_bytes = life = 0.0
        for q in ids:
            prog = listener.progress.get(q, [])
            add_batch += sum(p["durationMs"].get("addBatch", 0)
                             for p in prog) / 1000
            commit += sum(op.get("commitTimeMs", 0) for p in prog
                          for op in p.get("stateOperators", [])) / 1000
            if prog:
                last = prog[-1].get("stateOperators", [])
                rows += sum(op.get("numRowsTotal", 0) for op in last)
                state_bytes += sum(op.get("memoryUsedBytes", 0) for op in last)
            life += listener.ended.get(q, hi) - listener.started[q]
    return {"streaming.queries_started": float(len(ids)),
            "streaming.add_batch_s": add_batch,
            "streaming.overhead_s": max(life - add_batch, 0.0),
            "streaming.state_commit_s": commit,
            "streaming.state_rows": rows,
            "streaming.state_bytes": state_bytes}


def sqlite_rows(root: str, since: float) -> int:
    """Rows held by every sqlite file under ``root`` modified since
    ``since`` (the DB-API endpoint, read directly)."""
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            if not f.endswith(".db") or os.path.getmtime(path) < since:
                continue
            con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
            try:
                for (t,) in con.execute(
                        "SELECT name FROM sqlite_master WHERE type='table'"):
                    total += con.execute(
                        f'SELECT COUNT(*) FROM "{t}"').fetchone()[0]
            finally:
                con.close()
    return total
