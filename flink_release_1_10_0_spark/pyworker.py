"""Python worker daemon that skips re-reading unchanged zip archives.

``session.get_spark`` selects this module with
``spark.python.daemon.module``; the JVM starts it as
``python -m flink_release_1_10_0_spark.pyworker pyspark.worker``.  It
is the stock ``pyspark.daemon.manager()`` with one change, made before
the daemon forks any worker: ``zipimport.zipimporter.invalidate_caches``
re-reads an archive only when the archive's ``(st_mtime_ns, st_size)``
differs from the stat taken when the directory the importer holds was
read.

Why: every task's ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  Before CPython 3.12 (gh-103200 made
it lazy) that makes every ``zipimporter`` in ``sys.path_importer_cache``
re-read its whole archive directory: pyspark.zip, the py4j zip and the
spark-core jar, ~26.7k entries over 16 importers, 130-215 ms per task
on a warm worker whose UDF runs in 2 ms.  On 3.12+ the guard is
redundant and harmless.

Path-based finders, meta-path finders, archives newly added by
``addPyFile`` (their importers have no recorded read yet) and changed or
removed archives behave exactly as with the stock daemon.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_read_directory = zipimport._read_directory
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> (its (st_mtime_ns, st_size) just before the read, the
# directory that read returned)
_reads: dict[str, tuple[tuple[int, int], dict]] = {}


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive: str) -> dict:
    """The stock directory read, recording the archive's stat with it."""
    _reads.pop(archive, None)
    key = _stat_key(archive)
    files = _stock_read_directory(archive)
    if key is not None:
        _reads[archive] = (key, files)
    return files


def guarded_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the directory read
    last while the archive's stat still matches the one taken at that
    read; otherwise the stock re-read (and, for a removed archive, the
    stock drop of the cache entry)."""
    read = _reads.get(self.archive)
    if read is None or _stat_key(self.archive) != read[0]:
        _stock_invalidate_caches(self)
        return
    self._files = read[1]
    zipimport._zip_directory_cache[self.archive] = read[1]


def install() -> None:
    """Guard every zipimporter of this process, then read each cached
    archive once so that forked workers inherit recorded reads."""
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
