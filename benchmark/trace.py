"""Spans, Spark status counters, process-tree RSS and a host fingerprint.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the engine's public functions, counters come
from Spark's ``StatusTracker`` by job group, and memory is sampled from
``/proc`` for the driver's child processes (JVM + Python workers).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """In-memory spans plus per-operation Spark counters.

    A disabled tracer records nothing and sets no job group, so the
    untraced run pays only a few attribute reads per span.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[str] = []
        self._op: dict | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append({"name": name, "start": t0, "end": t1,
                               "parent": parent,
                               "op": self._op["id"] if self._op else None})

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        """One benchmark operation; tags its Spark jobs with ``op_id``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._op = {"id": op_id, "kind": kind}
        sc.setJobGroup(op_id, kind)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._op.update(job_counters(self.spark, op_id))
            self._op["cached_rdds"] = cached_rdds(self.spark)
            self.ops.append(self._op)
            self._op = None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh)


def job_counters(spark, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks Spark ran for a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                continue          # skipped (reused shuffle output)
            stages += 1
            tasks += s.numTasks
            failed += s.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "tasks_failed": failed}


def cached_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# ---------------------------------------------------------------- memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss(root: int) -> tuple[int, int]:
    """(summed RSS bytes, process count) of the descendants of ``root``."""
    kids = _children()
    todo, total, n = list(kids.get(root, [])), 0, 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
            n += 1
        except OSError:
            continue
    return total, n


class RssSampler:
    """Background thread tracking the peak descendant RSS of this process."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss, n = tree_rss(os.getpid())
        if rss > self.peak:
            self.peak, self.peak_procs = rss, n

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5.0)
        self._sample()


# ---------------------------------------------------------------- host

def host_fingerprint() -> dict:
    """Page-touch throughput and a fixed CPU loop, taken outside any timed
    window so runs on a degraded host can be told apart afterwards."""
    t0 = time.perf_counter()
    x = np.empty(25_000_000, dtype=np.int64)        # 200 MB of fresh pages
    x[::512] = 1
    touch = time.perf_counter() - t0
    del x
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    loop = time.perf_counter() - t0
    return {"page_touch_mb_s": 200.0 / touch, "cpu_loop_s": loop,
            "nproc": os.cpu_count()}
