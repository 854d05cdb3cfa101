"""Stat-guarded ``zipimporter.invalidate_caches`` for PySpark workers.

A reused PySpark worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``).  On
Python 3.11 ``zipimport.zipimporter.invalidate_caches`` re-parses the
archive's whole central directory, and workers import pyspark from
``pyspark.zip`` with one zipimporter per sub-package: about 16 parses of
~1,700 entries, ~200 ms of CPU, before each task's first line of user
code.  Python 3.12 repopulates that cache lazily instead (CPython
gh-103200), so there :func:`_install` does nothing.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since the last read, or when this process has not read it
through the guard yet; otherwise the importer takes the shared
``zipimport._zip_directory_cache`` entry.  A failed ``os.stat`` (a
deleted archive) falls through to the original method.  The one
difference from 3.11 is an archive rewritten in place with the same size
and mtime, which Spark never does: ``addPyFile`` refuses a name that is
already registered.

Imported first by ``marker_spark/__init__.py``, so every worker that
unpickles a marker_spark function is guarded from its next task on.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _install() -> None:
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or getattr(original, "_stat_guarded", False):
        return
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        stamps[self.archive] = stamp

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install()
