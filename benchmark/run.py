#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 benchmark/run.py --workload tile_batch --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run generates its inputs from the
seed, sets the engine up ``SETUP_REPS`` times (SparkSession start, input
generation, warm-up; the JVM starts in the first), drives the workload as a closed loop for
``--seconds`` (and at least ``MIN_OPS`` operations, ending on a whole
round of the workload), checks every result against the DuckDB oracles and prints
a details line followed by the result line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces every
other operation, runs one probe per layer afterwards and reports the
per-layer metrics plus the tracing overhead.  Everything the run writes
stays under ``benchmark/_work`` and is removed at exit, except the span
dump of a traced run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

SETUP_REPS = 3
DRIVER_MEM = "2g"       # well below the RAM of a small box
MIN_OPS = 3            # a traced run compares traced and untraced ops after the first

END_TO_END = {
    "setup_s": "s",
    "images_per_s": "images/s",
    "latency_p50_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "synth.pixel_array_us": "us",
    "codec.encode_us": "us",
    "codec.decode_us": "us",
    "codec.bytes_per_img": "B",
    "tilegrid.tile_specs_us": "us",
    "cellindex.cell_of_point_ns": "ns",
    "tiling.busy_s": "s",
    "tiling.images": "count",
    "tiling.tiles": "count",
    "tiling.tasks": "count",
    "spatial_join.busy_s": "s",
    "spatial_join.candidates": "count",
    "spatial_join.matches": "count",
    "spatial_join.match_ratio": "ratio",
    "catalyst.build_s": "s",
    "catalyst.plan_s": "s",
    "spark.exec_s": "s",
    "knn.busy_s": "s",
    "zonal.busy_s": "s",
    "zonal.images_decoded": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.cached_rdds": "count",
    "lineage.busy_s": "s",
    "lineage.completed_cells_s": "s",
    "lineage.cells_committed": "count",
    "lineage.files_written": "count",
    "lineage.bytes_written": "B",
    "lineage.bytes_per_row": "B/row",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tile_batch", "catalog_interactive",
                             "incremental_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def tail(latencies: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of a fixed ladder of percentiles
    with at least ten samples beyond it, by nearest rank; the median when
    the run is too short for any of them."""
    s, n = sorted(latencies), len(latencies)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (1.0 - p / 100.0) >= 10.0:
            return p, s[math.ceil(p / 100.0 * n) - 1]
    return 50.0, statistics.median(s)


def configure(work: str) -> int:
    """Point the engine, Spark, the JVM and Python at ``work``; return nproc.

    The Python workers import the engine from ``PYTHONPATH``; without it
    every ``mapInPandas`` stage fails with ``ModuleNotFoundError``.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.chdir(work)          # stray Spark files (warehouse, logs) land here
    return len(os.sched_getaffinity(0))


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()          # the gateway server exits on EOF
        proc.wait(timeout=60)


def run(args, work: str) -> dict:
    nproc = configure(work)
    from rsgislib_spark.session import get_spark

    from benchmark import gen, oracles, probes, trace, workloads

    host = trace.host_fingerprint()
    Workload = workloads.WORKLOADS[args.workload]
    spark, setup_s, session_s = None, [], []
    try:
        # the first set-up starts the JVM; the later ones find the session
        # up and redo input generation and warm-up
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = get_spark(app=f"benchmark-{args.workload}",
                              master=f"local[{nproc}]",
                              shuffle_partitions=nproc)
            session_s.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
            inputs = os.path.join(work, f"inputs{rep}")
            manifest = gen.generate(inputs, args.workload, args.seed,
                                    workloads.SIZES[args.workload])
            wl = Workload(spark, inputs, manifest, work)
            wl.setup(workloads.NO_TRACE)
            setup_s.append(time.perf_counter() - t0)

        tracer = trace.Tracer(spark, enabled=False)
        lat, results, traced = [], [], []
        with trace.RssSampler() as rss:
            t_start = time.perf_counter()
            i = 0
            while (time.perf_counter() - t_start < args.seconds
                   or i < MIN_OPS or i % wl.round_ops):
                tracer.enabled = bool(args.trace) and i % 2 == 0
                t0 = time.perf_counter()
                try:
                    with tracer.op(f"op{i}", args.workload):
                        dt, res = wl.op(i, tracer)
                except Exception:
                    traceback.print_exc()
                    dt, res = time.perf_counter() - t0, None
                lat.append(dt)
                results.append(res)
                traced.append(tracer.enabled)
                i += 1
        tracer.enabled = False

        t_check = time.perf_counter()
        con = oracles.connect(wl.tables, work)
        ok = [res is not None and checked(wl, con, i, res)
              for i, res in enumerate(results)]
        attempted, failed = len(ok), ok.count(False)
        check_s = time.perf_counter() - t_check
        pct, tail_s = tail(lat)
        details = {
            "workload": args.workload, "seed": args.seed, "nproc": nproc,
            "host": host, "setup_reps_s": setup_s, "session_start_s": session_s,
            "ops": len(lat), "latencies_s": lat, "check_s": check_s,
            "peak_rss_mb": rss.peak / 2 ** 20, "peak_processes": rss.peak_procs,
            "latency_tail_pct": pct, "latency_tail_s": tail_s,
            "latency_tail_beyond": len(lat) - math.ceil(pct / 100.0 * len(lat)),
            "inputs": {k: v for k, v in manifest.items()
                       if k not in ("requests", "warmup_requests")},
        }
        details.update(wl.details(lat))

        if not args.trace:
            values = {
                "setup_s": statistics.median(setup_s),
                "images_per_s": wl.images_per_op * len(lat) / sum(lat),
                "latency_p50_s": statistics.median(lat),
            }
            units = END_TO_END
        else:
            pr = probes.Probes(spark, con, wl.tables, work, args.seed)
            values = {"session.start_s": session_s[0],
                      **pr.run_all(),
                      **loop_layers(tracer, lat, traced)}
            attempted += pr.attempted
            failed += pr.failed
            units = PER_LAYER
            tracer.dump(os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.json"))
        con.close()
        print(json.dumps({"details": details}), flush=True)
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(values[k]), "unit": u}
                            for k, u in units.items()}}
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        # the JVM's Python daemon and workers wind down after it; wait
        deadline = time.monotonic() + 30.0
        while trace.tree_rss(os.getpid())[1] and time.monotonic() < deadline:
            time.sleep(0.1)


def checked(wl, con, i: int, res) -> bool:
    """The oracle verdict on operation ``i``; a check that raises fails it."""
    try:
        return wl.check(con, i, res)
    except Exception:
        traceback.print_exc()
        return False


def loop_layers(tracer, lat: list[float], traced: list[bool]) -> dict:
    """Per-operation layer numbers from the traced half of the loop."""
    def per_op(name):
        tot = {}
        for s in tracer.spans:
            if s["name"] == name and s["op"] is not None:
                tot[s["op"]] = tot.get(s["op"], 0.0) + s["end"] - s["start"]
        return statistics.median(tot.values()) if tot else 0.0

    ops = tracer.ops

    def mean(key):
        return statistics.fmean(o[key] for o in ops) if ops else 0.0

    # the first operation runs cold, so it stays out of the comparison
    on = [d for d, t in zip(lat[1:], traced[1:]) if t]
    off = [d for d, t in zip(lat[1:], traced[1:]) if not t]
    return {
        "catalyst.build_s": per_op("catalyst.build"),
        "catalyst.plan_s": per_op("catalyst.plan"),
        "spark.exec_s": per_op("spark.exec"),
        "spark.jobs": mean("jobs"),
        "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.tasks_failed": mean("tasks_failed"),
        "spark.cached_rdds": max((o["cached_rdds"] for o in ops), default=0),
        "trace.overhead_frac":
            statistics.median(on) / statistics.median(off) - 1.0,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rsgislib_spark", "__init__.py")):
        print("benchmark: the engine sources (rsgislib_spark/) are not next "
              "to benchmark/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
