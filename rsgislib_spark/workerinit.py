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

An importer's first guarded call has no key to compare yet.  It takes
the key without a read when the archive's ``st_ctime_ns`` and
``st_mtime_ns`` both come before a moment known to precede the
importer's last read (``_read_after_ns``):

* an importer created after the guard is installed: the time taken just
  before its creation read the archive, or, when creation took a
  directory already in ``zipimport._zip_directory_cache``, the moment
  of the live importer that read that directory;
* an importer already in ``sys.path_importer_cache`` at install: this
  process's start time less 2 s.  pyspark's unguarded per-task call
  re-read each of them when the installing task started, after the
  process did; the margin covers ``btime``'s whole seconds.

Where neither moment is known (no ``/proc``), the first call reads.
This spares a fresh worker a second full re-read on its second task.
Like the key, the rule trusts the file system's timestamps: a write in
the same clock tick as a read can go unseen.
"""

from __future__ import annotations

import functools
import os
import sys
import time
import zipimport

__all__ = ["guard_zip_rereads"]

# btime has whole-second resolution
_START_MARGIN_NS = 2_000_000_000


def _process_start_ns() -> int | None:
    """Wall-clock start time of this process in ns, from ``/proc``
    (Linux); None where it cannot be read."""
    try:
        with open("/proc/self/stat", "rb") as f:
            # field 22, counted after the parenthesised command name
            ticks = int(f.read().rpartition(b")")[2].split()[19])
        with open("/proc/stat", "rb") as f:
            btime = next(int(line.split()[1]) for line in f
                         if line.startswith(b"btime "))
        hz = os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return None
    return btime * 10**9 + ticks * 10**9 // hz


def _zip_importers():
    return [i for i in list(sys.path_importer_cache.values())
            if isinstance(i, zipimport.zipimporter)]


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
    create = zipimport.zipimporter.__init__

    start = _process_start_ns()
    if start is not None:
        for imp in _zip_importers():
            imp._read_after_ns = start - _START_MARGIN_NS

    @functools.wraps(create)
    def __init__(self, path):
        cached = dict(zipimport._zip_directory_cache)
        t0 = time.time_ns()
        create(self, path)
        if cached.get(self.archive) is not self._files:
            self._read_after_ns = t0
            return
        for imp in _zip_importers():
            if imp._files is self._files and "_read_after_ns" in vars(imp):
                self._read_after_ns = imp._read_after_ns
                return

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop("_archive_stat", None)
            self.__dict__.pop("_read_after_ns", None)
            return reread(self)
        key = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
        seen = self.__dict__.get("_archive_stat")
        read_after = self.__dict__.get("_read_after_ns")
        if seen is None and read_after is not None \
                and max(st.st_ctime_ns, st.st_mtime_ns) < read_after:
            self._archive_stat = key      # unchanged since its last read
        elif seen != key:
            # stat before the read: a write racing the read leaves the
            # old key, so the next call reads again rather than miss it
            t0 = time.time_ns()
            reread(self)
            self._archive_stat = key
            self._read_after_ns = t0

    zipimport.zipimporter.__init__ = __init__
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
