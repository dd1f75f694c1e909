"""Stat-checked zip invalidation for Spark's Python workers.

A Python worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13 that re-reads the central directory of every zip archive on
``sys.path`` (``pyspark.zip``, py4j, ``--py-files``) once per
``zipimporter``: about 0.3 s of one core per task before the UDF runs.

``install()`` runs once when the package is imported. Inside a Spark
task it replaces ``zipimporter.invalidate_caches`` for the rest of the
worker process with a version that re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` changed since its last read, or when
the archive is not in zipimport's directory cache. An archive rewritten
in place is still re-read. The driver and processes without Spark keep
the stdlib method, and pyspark is never imported here.
"""

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int] | None] = {}  # archive -> stat key


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is None or files is None or _read_at.get(self.archive) != key:
        _stdlib_invalidate(self)  # stat first: a rewrite after it reads again
        _read_at[self.archive] = key
    else:
        self._files = files


def install() -> None:
    tc = sys.modules.get("pyspark.taskcontext")
    if sys.version_info < (3, 13) and tc is not None and tc.TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
