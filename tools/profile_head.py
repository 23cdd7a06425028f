"""Per-head bench profiler: run one registered query through the noop
sink (warmup + timed run) with the Spark UI enabled, then pull the
job/stage timeline from the UI REST API and split the timed wall-clock
into (a) time inside Spark jobs and (b) driver-side gaps (planning,
analysis, Python overhead, eager actions between jobs).

Usage: python tools/profile_head.py <head> [sf_dir] [--jobs]

The split tells you WHICH lever the optimization guide applies:
 - gap-dominated  -> fewer actions / smaller expression trees (guide §1.2
   step 2, §7.3 driver-side work)
 - stage-dominated -> shuffle/plan shape (guide §2-§3)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def rest(ui_url: str, app_id: str, path: str):
    url = f"{ui_url}/api/v1/applications/{app_id}{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main():
    name = sys.argv[1]
    args = [a for a in sys.argv[2:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    show_jobs = "--jobs" in sys.argv

    from flink_release_1_10_0_spark.queries import all_queries
    from flink_release_1_10_0_spark.session import get_spark

    spark = get_spark("profile", ui=True)
    ui_url = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    q = all_queries()[name]

    def run():
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # warmup (JIT, codegen cache, parquet footers)

    jobs_before = {j["jobId"] for j in rest(ui_url, app_id, "/jobs")}
    t0 = time.perf_counter()
    run()
    wall = time.perf_counter() - t0

    jobs = [j for j in rest(ui_url, app_id, "/jobs") if j["jobId"] not in jobs_before]
    stages = {s["stageId"]: s for s in rest(ui_url, app_id, "/stages")}

    def ms(iso_a, iso_b):
        from datetime import datetime

        fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
        a = datetime.strptime(iso_a.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        b = datetime.strptime(iso_b.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        return (b - a).total_seconds()

    total_job = 0.0
    rows = []
    for j in sorted(jobs, key=lambda x: x["jobId"]):
        dur = ms(j["submissionTime"], j["completionTime"]) if j.get("completionTime") else 0.0
        total_job += dur
        st_ids = j.get("stageIds", [])
        st_names = []
        ntasks = 0
        for sid in st_ids:
            s = stages.get(sid)
            if s and s["status"] != "SKIPPED":
                st_names.append(f"s{sid}:{s['numCompleteTasks']}t")
                ntasks += s["numCompleteTasks"]
        rows.append((j["jobId"], dur, ntasks, j.get("description") or j["name"][:60]))

    print(f"head={name} wall={wall:.3f}s jobs={len(jobs)} "
          f"in-job={total_job:.3f}s gap={wall - total_job:.3f}s")
    if show_jobs:
        for jid, dur, ntasks, desc in rows:
            print(f"  job {jid:4d} {dur * 1000:7.0f}ms {ntasks:4d} tasks  {desc[:90]}")


if __name__ == "__main__":
    main()
