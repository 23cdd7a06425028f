"""Open-loop event generator for the ``stream_ingest`` workload.

Runs as its own process.  File ``k`` is due at ``start + k * tick`` and
holds ``rate * tick`` seeded events stamped with their creation time (the
file's due time plus one microsecond per event, so ``ts`` orders events
exactly like ``event_id``).  The schedule never waits for the engine: a
late write goes out immediately and the next due time stays where it
was.  Each write is logged as one JSON line (due time, write time, first
event id, count), which gives the benchmark both each event's due time
and the generator's own lag.

Usage: python3 loadgen.py --dir D --log F --seed S --start EPOCH
       --tick 0.1 --phases 500:10,1000:2 --users 40 --first-id N
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data import event_table  # noqa: E402


def schedule(phases: str, tick: float):
    """(file index, events in file) for every file of the phase list."""
    k = 0
    for part in phases.split(","):
        rate, secs = part.split(":")
        for _ in range(round(float(secs) / tick)):
            k += 1
            yield k, max(round(float(rate) * tick), 1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--tick", type=float, default=0.1)
    ap.add_argument("--phases", required=True)
    ap.add_argument("--users", type=int, required=True)
    ap.add_argument("--first-id", type=int, default=0)
    a = ap.parse_args(argv)
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    rng = np.random.default_rng(a.seed)
    next_id = a.first_id
    with open(a.log, "w") as log:
        for k, n in schedule(a.phases, a.tick):
            due = a.start + k * a.tick
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            if stop:
                break
            ts = (int(due * 1e6) + np.arange(n)).astype("int64")
            tab = event_table(rng, next_id, n, a.users, ts)
            tmp = os.path.join(a.dir, f".part-{k:06d}.tmp")
            pq.write_table(tab, tmp)
            os.replace(tmp, os.path.join(a.dir, f"part-{k:06d}.parquet"))
            log.write(json.dumps({"k": k, "due": due, "written": time.time(),
                                  "first_id": next_id, "n": n}) + "\n")
            log.flush()
            next_id += n
    return 0


if __name__ == "__main__":
    sys.exit(main())
