"""Session sizing: the defaults are derived from the host they run on."""

import os

from rsgislib_spark.session import host_defaults


def _mb(heap: str) -> int:
    assert heap.endswith("m"), heap
    return int(heap[:-1])


def test_host_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    cpus, heap = host_defaults()
    assert cpus == len(os.sched_getaffinity(0)) >= 1
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < _mb(heap) <= phys_mb // 2


def test_host_defaults_deployment_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert host_defaults() == (3, "2g")
