"""Sessions from ``session.get_spark``: session-scoped driver memos (a
session built after ``stop()`` starts from empty memos and never gets a
frame planned on the stopped session), the session scratch root
(``session.scratch_dir``: a new dir per call, one root per session,
removed at exit) and the Python worker daemon (``pyworker.py``: its
zip-archive guard, that workers run on it, and that it imports from any
cwd)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

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


# Another scale factor: its index differs from SF_DIR's.
_OTHER_SF = os.path.join(os.path.dirname(SF_DIR),
                         "sf0.001" if SF_DIR.endswith("sf0.01") else "sf0.01")


@pytest.mark.parametrize("name", ["similarity_pq_index_topk",
                                  "similarity_pq_index_nprobe2",
                                  "dedup_semantic_index_roundtrip"])
def test_rebuilt_index_leaves_a_held_frame_intact(spark, name):
    """A head that writes an index and returns a frame reading it lazily
    gets a new scratch dir per call: building it again on another tier
    does not touch the files of a frame still held."""
    from flink_release_1_10_0_spark.queries import all_queries

    head = all_queries()[name]
    alone = sorted(map(tuple, head(spark, SF_DIR).collect()))
    held = head(spark, SF_DIR)
    head(spark, _OTHER_SF)
    assert sorted(map(tuple, held.collect())) == alone


# Runs in its own interpreter with its own TMPDIR: what the heads leave
# there shows only after the interpreter exits.
_SCRATCH = """
import json, os, sys, tempfile
from flink_release_1_10_0_spark.queries import all_queries
from flink_release_1_10_0_spark.session import get_spark

spark = get_spark("scratch_root", cpus=2)
for name in sys.argv[2:]:
    assert all_queries()[name](spark, sys.argv[1]).count() > 0, name
print(json.dumps(os.listdir(tempfile.gettempdir())))
"""


def test_session_scratch_is_one_root_removed_at_exit(tmp_path):
    """Two heads that write files leave one entry in the temp dir while
    the process runs (its session's scratch root), and none once it has
    exited."""
    env = dict(os.environ, TMPDIR=str(tmp_path),
               SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   [_ROOT, os.environ.get("PYTHONPATH", "")]))
    r = subprocess.run([sys.executable, "-c", _SCRATCH, SF_DIR,
                        "source_csv_roundtrip", "queryable_state_snapshot"],
                       env=env, cwd=_ROOT, capture_output=True, text=True,
                       timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    live = json.loads(r.stdout.strip().splitlines()[-1])
    assert len(live) == 1 and live[0].startswith("spark_graft_session_")
    assert os.listdir(tmp_path) == []


# Runs in its own interpreter: the guard must not be installed in the
# pytest process.  Two importers share the archive (the sys.path entry
# and the pkg_a subpackage), as pyspark.zip's do in a worker.
_GUARD = r"""
import importlib, os, sys, zipfile, zipimport
from flink_release_1_10_0_spark import pyworker

d = sys.argv[1]
arc = os.path.join(d, "mods.zip")
plain = os.path.join(d, "plain")
os.mkdir(plain)


def write(members):
    with zipfile.ZipFile(arc, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


write({"pkg_a/__init__.py": "", "pkg_a/one.py": "X = 1\n"})
sys.path[:0] = [arc, plain]
import pkg_a.one
pyworker.install()
importers = [f for f in sys.path_importer_cache.values()
             if isinstance(f, zipimport.zipimporter) and f.archive == arc]
assert len(importers) == 2, importers

# unchanged archive: the directory object survives invalidate_caches()
before = zipimport._zip_directory_cache[arc]
importlib.invalidate_caches()
importlib.invalidate_caches()
assert zipimport._zip_directory_cache[arc] is before
assert all(f._files is before for f in importers)

# path-based finders still invalidate
try:
    import late_mod
except ImportError:
    pass
with open(os.path.join(plain, "late_mod.py"), "w") as f:
    f.write("Z = 3\n")
importlib.invalidate_caches()
import late_mod
assert late_mod.Z == 3

# rewritten archive with a new member: re-read, the new module imports
write({"pkg_a/__init__.py": "", "pkg_a/one.py": "X = 1\n",
       "pkg_a/two.py": "Y = 2\n"})
importlib.invalidate_caches()
after = zipimport._zip_directory_cache[arc]
assert after is not before and "pkg_a/two.py" in after
assert all(f._files is after for f in importers)
import pkg_a.two
assert pkg_a.two.Y == 2

# removed archive: the stock drop of the cache entry, nothing raises
os.remove(arc)
importlib.invalidate_caches()
assert arc not in zipimport._zip_directory_cache
assert all(f._files == {} for f in importers)
print("ok")
"""


def test_zip_guard_rereads_only_changed_archives(tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [_ROOT, os.environ.get("PYTHONPATH", "")]))
    r = subprocess.run([sys.executable, "-c", _GUARD, str(tmp_path)],
                       env=env, cwd=_ROOT, capture_output=True, text=True,
                       timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.split()[-1] == "ok"


def test_python_tasks_run_on_package_daemon(spark):
    """Python workers fork from pyworker.py, and a reused directory read
    of pyspark.zip survives each task's invalidate_caches()."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        zips = [a for a in zipimport._zip_directory_cache
                if os.path.basename(a) == "pyspark.zip"]
        yield pd.DataFrame({
            "daemon": [sys.modules["__main__"].__spec__.name],
            "dir_id": [id(zipimport._zip_directory_cache[zips[0]])]})

    df = spark.range(1, numPartitions=1)
    first, second = (df.mapInPandas(probe, "daemon string, dir_id long").first()
                     for _ in range(2))
    assert first.daemon == second.daemon == "flink_release_1_10_0_spark.pyworker"
    assert first.dir_id == second.dir_id


_MAIN_UDF = """
import sys
sys.path.insert(0, sys.argv[1])
from flink_release_1_10_0_spark.session import get_spark


def double(batches):
    for pdf in batches:
        yield pdf * 2


spark = get_spark("daemon_cwd", cpus=1)
print(sorted(r.id for r in spark.range(3).mapInPandas(double, "id long").collect()))
spark.stop()
"""


def test_main_defined_udf_runs_outside_the_repo(tmp_path):
    """The daemon module is importable from any cwd with no PYTHONPATH:
    get_spark puts the package root on the executors' PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run([sys.executable, "-c", _MAIN_UDF, _ROOT], env=env,
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.strip().splitlines()[-1] == "[0, 2, 4]"
