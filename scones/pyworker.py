"""Python-worker shim: stop re-reading unchanged zip archives on every task.

Every Spark Python task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  On CPython < 3.13
``zipimport.zipimporter.invalidate_caches`` eagerly re-parses the whole
archive directory, and a worker holds one zipimporter per package directory
it imported from ``pyspark.zip`` (about 16 over a 1,328-entry archive) plus
py4j's zip.  That is 0.1-0.2 CPU-s per task, even for an empty one.  CPython
3.13 only drops the cache entry and re-reads lazily.

:func:`install` makes the stock re-read conditional on the archive's
``(st_mtime_ns, st_size, st_ino)`` having changed since the last read (or
``stat`` failing).  An archive with an unchanged stat has an unchanged
directory, so imports resolve exactly as before; an archive added or
rewritten by ``addPyFile`` is still re-read.

Every scones Python kernel calls :func:`install` as its first statement.
It must be an explicit call, not an import side effect: a kernel pickled by
value need not import ``scones`` on the worker.  The worker process is
reused across tasks, so later tasks in it skip the re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Install the stat-gated ``zipimporter.invalidate_caches``; idempotent.

    A no-op on Python >= 3.13, whose stock method no longer re-reads.
    """
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stat_gated", False):
        return
    stock = cls.invalidate_caches
    read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stat at last read

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            stock(self)
            return
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            # another importer over this archive already re-read it
            # since the stat last changed: share that directory
            self._files = files
            return
        # stat taken BEFORE the read: a rewrite racing the read leaves an
        # older key behind, which only causes one more re-read next time
        stock(self)
        read_at[self.archive] = key

    invalidate_caches._stat_gated = True
    cls.invalidate_caches = invalidate_caches
