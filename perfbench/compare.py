"""Compare two sets of ``run.py --report`` files, refusing mixed hosts.

    python3 perfbench/compare.py --base a1.json a2.json ... --change b1.json ...

For each workload and metric, prints each side's median and quartiles,
the change of the medians as a share of the base median, and the
metric's bound from ``BENCHMARK.json``.  A change within the bound reads
``ok``; one beyond it reads ``WORSE`` or ``better``; when the base's own
spread (quartile distance / median) exceeds the bound the row reads
``unresolved``.  Exits 2 when the reports come from different hosts
(core count, CPU model, memory, pyspark or Java version differ): timings
are never compared across hosts.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HOST_KEYS = ("nproc", "cpu_model", "mem_gb", "pyspark", "java")


def load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    a = ap.parse_args(argv)
    base, change = load(a.base), load(a.change)
    hosts = {tuple(r["detail"]["fingerprint"].get(k) for k in HOST_KEYS)
             for r in base + change}
    if len(hosts) != 1:
        print("refusing: reports come from different hosts:", file=sys.stderr)
        for h in sorted(hosts, key=str):
            print("  " + json.dumps(dict(zip(HOST_KEYS, h))), file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCHMARK.json")) as f:
        bounds = {m["name"]: (m["bound"], m["better"])
                  for m in json.load(f)["end_to_end"]}

    def pick(reports, wl):
        return [r["result"]["metrics"] for r in reports
                if r["workload"] == wl and not r["trace"]]

    for wl in sorted({r["workload"] for r in base + change}):
        print(f"== {wl}")
        b, c = pick(base, wl), pick(change, wl)
        if not b or not c:
            print("   (missing on one side)")
            continue
        for name in b[0]:
            bq = quartiles([m[name]["value"] for m in b])
            cq = quartiles([m[name]["value"] for m in c])
            rel = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            bound, better = bounds.get(name, (None, "lower"))
            worse = rel > 0 if better == "lower" else rel < 0
            verdict = "ok"
            if bound is not None:
                if bq[1] and (bq[2] - bq[0]) / bq[1] > bound:
                    verdict = "unresolved"
                elif abs(rel) > bound:
                    verdict = "WORSE" if worse else "better"
            print(f"   {name:16s} base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]"
                  f"  change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]"
                  f"  {rel:+.1%} (bound {bound})  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
