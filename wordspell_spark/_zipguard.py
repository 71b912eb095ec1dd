"""Lazy ``zipimporter.invalidate_caches`` for Spark Python workers.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Where ``zipimporter`` is the
eager kind (CPython before 3.13), that re-reads the whole directory of every
zip archive on ``sys.path`` once per importer: ``pyspark.zip`` has one
importer per package directory, so each task re-reads it about 16 times,
~0.2 s of fixed cost per Python task on a 4-core host.  The guard re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the last read, so a
rewritten archive is still re-read; CPython 3.13's lazy ``zipimporter``
(which has ``_get_files``) is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def lazy_invalidate_caches(eager):
    """``eager`` (the stdlib ``zipimporter.invalidate_caches``), called only
    when the importer's archive changed on disk since the last read; else
    the importer takes the directory that read cached."""
    stamps: dict[str, tuple[int, int] | None] = {}  # archive → stamp at its last read

    def invalidate_caches(self):
        """Re-read the archive's directory only if the file changed."""
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stamped before the read: a rewrite during it shows as a change next time
        eager(self)
        stamps[self.archive] = stamp

    return invalidate_caches


def install() -> None:
    """Install the guard if this process runs Spark tasks, its
    ``zipimporter`` re-reads eagerly and the guard is not yet in place."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or cls.invalidate_caches.__module__ == __name__:
        return
    # no pyspark.taskcontext module, no task: plain driver or non-Spark use
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return
    cls.invalidate_caches = lazy_invalidate_caches(cls.invalidate_caches)
