"""The worker-side zip re-read guard (``rsgislib_spark.workerinit``).

Spark-free tests drive ``guard_zip_rereads`` with a pretend active
``TaskContext`` and count ``zipimport._read_directory`` calls; one Spark
test checks that a real Python worker runs with the guard installed.
"""

import importlib
import os
import subprocess
import sys
import time
import zipfile
import zipimport

import pytest

from rsgislib_spark import workerinit

before_py313 = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13 re-reads zip directories lazily; no guard there")


@pytest.fixture
def started(monkeypatch):
    """Pretend this process started 5 s from now, so that every archive a
    test writes predates it by more than the 2 s margin."""
    monkeypatch.setattr(workerinit, "_process_start_ns",
                        lambda: time.time_ns() + 5 * 10**9)


def _install(monkeypatch):
    """Act as a Spark Python worker and install the guard; returns the
    list of archives ``zipimport`` reads from then on.  Every patch is
    undone at teardown."""
    from pyspark.taskcontext import TaskContext

    for name in ("__init__", "invalidate_caches"):
        monkeypatch.setattr(zipimport.zipimporter, name,
                            getattr(zipimport.zipimporter, name))
    monkeypatch.setattr(TaskContext, "_taskContext", object())
    seen = []
    read_directory = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert workerinit.guard_zip_rereads()
    return seen


@pytest.fixture
def reads(monkeypatch):
    """Act as a Spark Python worker with the guard installed; yields the
    list of archives ``zipimport`` reads.  Every patch is undone."""
    return _install(monkeypatch)


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)


@before_py313
def test_unchanged_archive_is_not_reread(reads, tmp_path):
    """An importer created after install read its archive just then: its
    first guarded call, and every later one, reads nothing."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a.py": "X = 1\n"})
    z = zipimport.zipimporter(path)
    assert reads == [path]           # creation reads the directory
    reads.clear()
    for _ in range(3):
        z.invalidate_caches()
    assert reads == []
    assert "mod_a.py" in z._files


def _cached_importer(monkeypatch, path, members):
    """A zipimporter made before the guard is installed, held in
    ``sys.path_importer_cache`` as pyspark's workers hold theirs."""
    _write_zip(path, members)
    z = zipimport.zipimporter(path)
    monkeypatch.setitem(sys.path_importer_cache, path, z)
    return z


@before_py313
def test_importer_cached_before_install_is_not_reread(
        monkeypatch, started, tmp_path):
    """pyspark re-read the importers it holds when the task started, after
    the process started: an archive older than that is taken as read."""
    path = str(tmp_path / "lib.zip")
    z = _cached_importer(monkeypatch, path, {"mod_a.py": "X = 1\n"})
    reads = _install(monkeypatch)
    for _ in range(3):
        z.invalidate_caches()
    assert reads == []

    now = time.time_ns()
    os.utime(path, ns=(now, now))    # touched: no longer the same archive
    z.invalidate_caches()
    z.invalidate_caches()
    assert reads == [path]


@before_py313
def test_importer_sharing_a_cached_directory_inherits_its_read(
        monkeypatch, started, tmp_path):
    """A subpackage importer made after install takes its archive's
    directory from ``zipimport``'s cache: it inherits the moment of the
    importer that read it, and its first guarded call reads nothing."""
    path = str(tmp_path / "lib.zip")
    _cached_importer(monkeypatch, path, {"pkg/__init__.py": "",
                                         "pkg/mod_a.py": "X = 1\n"})
    reads = _install(monkeypatch)
    sub = zipimport.zipimporter(os.path.join(path, "pkg"))
    sub.invalidate_caches()
    assert reads == []
    assert sub.prefix == "pkg" + os.sep


@before_py313
def test_without_a_start_time_the_first_call_reads(monkeypatch, tmp_path):
    """No process start time (no ``/proc``): an importer cached before
    install reads on its first guarded call, and only then, as does an
    importer that shares its directory."""
    monkeypatch.setattr(workerinit, "_process_start_ns", lambda: None)
    path = str(tmp_path / "lib.zip")
    z = _cached_importer(monkeypatch, path, {"pkg/__init__.py": ""})
    reads = _install(monkeypatch)
    sub = zipimport.zipimporter(os.path.join(path, "pkg"))
    for _ in range(3):
        z.invalidate_caches()
        sub.invalidate_caches()
    assert reads == [path, path]


def test_process_start_time_brackets_a_child_start():
    """A child's start time read from ``/proc`` lies between the moments
    before and after it is spawned, to within the guard's margin."""
    if workerinit._process_start_ns() is None:
        pytest.skip("no /proc start time on this platform")
    code = ("from rsgislib_spark.workerinit import _process_start_ns; "
            "print(_process_start_ns())")
    before = time.time_ns()
    out = subprocess.run([sys.executable, "-c", code], check=True,
                         capture_output=True, text=True,
                         cwd=os.path.dirname(os.path.dirname(
                             os.path.abspath(__file__)))).stdout
    after = time.time_ns()
    assert before - workerinit._START_MARGIN_NS <= int(out) <= after


@before_py313
def test_rewritten_archive_is_reread(reads, tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"gw_mod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    for name in ("gw_mod_a", "gw_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("gw_mod_a").X == 1
    importlib.invalidate_caches()    # what every worker task calls
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n           # nothing changed, nothing read

    _write_zip(path, {"gw_mod_a.py": "X = 1\n", "gw_mod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads[n:] == [path]
    z = sys.path_importer_cache[path]
    assert z.get_data(os.path.join(path, "gw_mod_b.py")) == b"Y = 2\n"
    assert importlib.import_module("gw_mod_b").Y == 2


@before_py313
def test_same_size_rewrite_is_reread(reads, tmp_path):
    """Only the modification time tells this rewrite apart."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a.py": "X = 1\n"})
    z = zipimport.zipimporter(path)
    z.invalidate_caches()
    before = os.stat(path)
    _write_zip(path, {"mod_b.py": "X = 1\n"})
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    assert os.stat(path).st_size == before.st_size
    n = len(reads)
    z.invalidate_caches()
    assert len(reads) == n + 1
    assert "mod_b.py" in z._files and "mod_a.py" not in z._files


@before_py313
def test_deleted_archive_empties_the_importer(reads, tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a.py": "X = 1\n"})
    z = zipimport.zipimporter(path)
    z.invalidate_caches()
    os.remove(path)
    n = len(reads)
    z.invalidate_caches()            # falls through to the stdlib
    assert len(reads) == n + 1
    assert z._files == {}
    assert path not in zipimport._zip_directory_cache

    _write_zip(path, {"mod_c.py": "Z = 3\n"})
    z.invalidate_caches()
    assert len(reads) == n + 2
    assert "mod_c.py" in z._files


def test_driver_and_new_pythons_are_left_unpatched(monkeypatch):
    from pyspark.taskcontext import TaskContext

    stdlib = zipimport.zipimporter.invalidate_caches, \
        zipimport.zipimporter.__init__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib[0])
    monkeypatch.setattr(zipimport.zipimporter, "__init__", stdlib[1])
    assert TaskContext.get() is None           # the driver
    assert not workerinit.guard_zip_rereads()
    assert (zipimport.zipimporter.invalidate_caches,
            zipimport.zipimporter.__init__) == stdlib

    monkeypatch.setattr(TaskContext, "_taskContext", object())
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not workerinit.guard_zip_rereads()
    assert (zipimport.zipimporter.invalidate_caches,
            zipimport.zipimporter.__init__) == stdlib


@before_py313
def test_installing_twice_is_a_noop(reads):
    guarded = zipimport.zipimporter.invalidate_caches
    assert not workerinit.guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is guarded


@before_py313
def test_spark_worker_runs_guarded(spark):
    """A worker that has run an engine kernel has the guard installed,
    and its per-task ``importlib.invalidate_caches()`` reads no zip, not
    even on the first guarded call: every archive on the worker's path
    predates the worker."""

    def probe(batches):
        import importlib
        import zipimport

        from rsgislib_spark.functions import codec

        seen = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda a: seen.append(a) or read_directory(a)
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        code = zipimport.zipimporter.invalidate_caches.__code__
        for b in batches:
            yield codec.to_batch({
                "id": b.column(0).to_pylist(),
                "guard": [os.path.basename(code.co_filename)] * b.num_rows,
                "reads": [len(seen)] * b.num_rows}, schema)

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("id", LongType()),
                         StructField("guard", StringType()),
                         StructField("reads", LongType())])
    rows = spark.range(4).repartition(2).mapInArrow(probe, schema).collect()
    assert sorted(r.id for r in rows) == [0, 1, 2, 3]
    assert {(r.guard, r.reads) for r in rows} == {("workerinit.py", 0)}
