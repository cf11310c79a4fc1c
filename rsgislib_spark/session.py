"""SparkSession factory with the engine's standard configuration.

Tuned for the Arrow-UDF-heavy workload this engine runs: AQE on (runtime
coalescing + skew-join splitting), Arrow batches sized so a batch of
decoded images stays comfortably in executor memory.  Core count, shuffle
partitions and driver heap follow one sizing rule, :func:`host_defaults`
(cluster deployments override via spark-submit --conf).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

__all__ = ["get_spark", "host_defaults", "TABLES"]

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def host_defaults() -> tuple[int, str]:
    """``(cores, driver heap)`` sized to this host: the CPUs this process
    may run on, and half of physical memory.  ``SPARK_GRAFT_CPUS`` and
    ``SPARK_DRIVER_MEM`` override them for a deployment."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = os.environ.get("SPARK_DRIVER_MEM", f"{phys // 2 // 2**20}m")
    return cpus, heap


def get_spark(app: str = "rsgislib_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # Keep Python-worker heap pages resident: on virtualized guests
    # with on-demand host paging, FIRST-TOUCH of a fresh page can cost
    # 10-60 us (measured on this guest: 400 MB of new pages = 10-25 s);
    # glibc's default trim/mmap behaviour returns big numpy/Arrow
    # buffers to the OS after every batch, so each reuse re-faults.
    # Never trimming (TRIM_THRESHOLD=-1) and keeping large buffers in
    # the arena (high MMAP_THRESHOLD) makes each long-lived reused
    # worker pay first-touch ONCE at its high-water mark.  Must be in
    # the environment BEFORE the JVM starts (workers inherit it).
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    cpus, driver_mem = host_defaults()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    # plain local[N] runs with task maxFailures = 1, so ONE crashed
    # Python worker (the rare wedged-channel sibling, observed ~1 in
    # thousands of tasks on this guest) aborts the whole job; the
    # local[N, F] form restores the cluster default of retrying.
    if re.fullmatch(r"local\[[0-9*]+\]", master):
        master = master[:-1] + ", 4]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # decode/codec stages carry wide binary rows: the 64 MB default
        # advisory size would coalesce them onto a handful of tasks and
        # serialize the Python stage; 8 MB keeps them at ~core count.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # reused workers skip the fork and interpreter start.  A task's
        # own set-up used to cost 0.1-0.3 s: pyspark's per-task
        # importlib.invalidate_caches() re-read every zip on sys.path
        # (Python < 3.13).  workerinit.guard_zip_rereads cuts that to
        # ~0.2 ms from a fresh worker's second task on (archives older
        # than the worker are not re-read at all); ~50 ms of
        # pythonTotalTime a task is left (4-core VM, NOTES.md), so
        # Arrow stages still run at the core count.
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured at local[32]: binary-payload rows make big
        # Arrow batches ~100 MB; at 32 concurrent workers those huge
        # transient allocations collapse throughput ~6x (mmap/TLB
        # churn).  512-row batches (~7 MB) keep every parallelism level
        # in the linear regime.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.locality.wait", "0")
        # at high worker counts a Python channel occasionally wedges
        # (observed: 31/32 tasks done, one hung forever); speculation
        # re-launches stragglers and unsticks the stage.  Quantile must
        # be <= (n_tasks-1)/n_tasks for the SMALLEST stages or a wedge
        # in the last task never qualifies: at 0.9, a local[8] stage
        # stuck at 7/8 complete (87.5%) stalled FOREVER (observed this
        # round); 0.7 covers every stage width >= 4.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.7")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES):
    """Register the driver-generated parquet tables as temp views."""
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
