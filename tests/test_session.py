"""Session-scoped driver memos (``session.session_memo``): a session
built after ``stop()`` starts from empty memos and never gets a frame
planned on the stopped session."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_DIR

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in its own interpreter: stopping the shared test session would
# break every later test.
_RESTART = """
import sys
from flink_release_1_10_0_spark.catalog import load
from flink_release_1_10_0_spark.session import get_spark, session_memo

sf = sys.argv[1]
old = get_spark("memo_old", cpus=1)
old_df = load(old, sf, "nation")
assert load(old, sf, "nation") is old_df
old.stop()
new = get_spark("memo_new", cpus=1)
for name in ("catalog.load", "llm.min_parallelism"):
    assert session_memo(new, name) == {}, name
new_df = load(new, sf, "nation")
assert new_df is not old_df
assert new_df.sparkSession is new
print(new_df.count())
new.stop()
"""


def test_stop_then_get_or_create_gets_fresh_memos():
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   [_ROOT, os.environ.get("PYTHONPATH", "")]))
    r = subprocess.run([sys.executable, "-c", _RESTART, SF_DIR], env=env,
                       cwd=_ROOT, capture_output=True, text=True,
                       timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.split()[-1] == "25"
