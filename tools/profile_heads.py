"""Where each head's time goes: run registered queries through the noop
sink (one untimed warmup each, then ``--trials`` timed runs) and print
the ``metrics.measure`` report of each head's median-wall run, one
column per head (``--json``: the same numbers keyed by head).  ``--sf``
defaults to ``$SPARK_GRAFT_SF_DIR``; ``bench.py`` stays the run of record.

Usage: python tools/profile_heads.py head... [--trials N] [--sf DIR] [--json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_release_1_10_0_spark.metrics import measure
from flink_release_1_10_0_spark.queries import all_queries
from flink_release_1_10_0_spark.session import get_spark


def profile(spark, run, trials: int) -> dict:
    """The report of ``run``'s median-wall trial, plus the wall range."""
    reports = sorted((measure(spark, run) for _ in range(trials)),
                     key=lambda r: r["wall_s"])
    return {**reports[(trials - 1) // 2],
            "wall_min_s": reports[0]["wall_s"],
            "wall_max_s": reports[-1]["wall_s"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("heads", nargs="+")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    required="SPARK_GRAFT_SF_DIR" not in os.environ)
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()
    qs = all_queries()
    spark = get_spark("profile")
    runs = {h: (lambda q=qs[h]: q(spark, args.sf)) for h in args.heads}
    for run in runs.values():
        measure(spark, run)  # warmup: JIT, codegen cache, parquet footers
    out = {h: profile(spark, run, args.trials) for h, run in runs.items()}
    if args.json:
        print(json.dumps(out))
        return
    cols = [max(len(h), 12) for h in args.heads]
    print(" " * 24, *(h.rjust(c) for h, c in zip(args.heads, cols)))
    for k in out[args.heads[0]]:
        print(k.ljust(24), *(f"{out[h][k]:{c}.{3 if k.endswith('_s') else 0}f}"
                             for h, c in zip(args.heads, cols)))


if __name__ == "__main__":
    main()
