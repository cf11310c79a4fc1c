"""Start-up guard for the Spark Python workers that run engine kernels.

At the start of every task, pyspark's worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``).  On Python 3.11 and 3.12 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory.  A warm worker holds ~16 of them
(``pyspark.zip`` once per imported subpackage, the spark-core jar, the
py4j zip), so each task paid 0.1-0.3 s before its kernel ran, on every
task, even though none of those archives ever changes.  Python 3.13
made the re-read lazy, and there the stdlib is left alone.

:func:`guard_zip_rereads` wraps ``zipimporter.invalidate_caches`` so an
importer re-reads its archive only when the archive's
``(st_dev, st_ino, st_size, st_mtime_ns)`` differs from what that
importer saw at its last read.  A changed archive is re-read by the
stdlib method exactly as before, and a missing one falls through to it
(which empties the importer's table).
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

__all__ = ["guard_zip_rereads"]


def guard_zip_rereads() -> bool:
    """Install the stat-gated ``zipimporter.invalidate_caches`` inside a
    Spark Python worker on Python < 3.13; returns whether it did.

    The driver (no active ``TaskContext``) and newer Pythons are left
    unpatched, and installing twice is a no-op.
    """
    if sys.version_info >= (3, 13):
        return False
    # a worker imported pyspark.taskcontext before it unpickled the
    # kernel that imported this package; no pyspark means no worker
    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return False
    reread = zipimport.zipimporter.invalidate_caches
    if hasattr(reread, "__wrapped__"):
        return False

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop("_archive_stat", None)
            return reread(self)
        key = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
        if self.__dict__.get("_archive_stat") != key:
            # stat before the read: a write racing the read leaves the
            # old key, so the next call reads again rather than miss it
            reread(self)
            self._archive_stat = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
