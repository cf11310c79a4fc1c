"""The three benchmark workloads.

Each workload is driven as a closed loop by one client: ``op`` runs one
operation through the engine's public functions and returns its latency
and a small result; ``check`` compares every result with the DuckDB
oracle after the timed loop.  The engine only ever reads the generated
parquet under ``inputs``.

* ``tile_batch`` -- ``queries.flagship`` over a table large enough that
  the payload stage (synth -> encode -> decode -> tile) is the largest share.
* ``catalog_interactive`` -- small parameterized requests over the same
  metadata table, no bulk decode: fixed per-request cost dominates.
* ``incremental_ingest`` -- the write path: ``plans.lineage.run_resumable``
  commits a delta over a restored base, then resumes with nothing to do.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from rsgislib_spark import queries, synth
from rsgislib_spark.operators.knn import match_closest_points, npts_in_radius
from rsgislib_spark.operators.spatial_join import (spatial_join, spatial_select,
                                                   with_point_cell)
from rsgislib_spark.operators.tiling import tile_pixels, tile_spec_df
from rsgislib_spark.operators.zonal import zonal_stats
from rsgislib_spark.plans.lineage import run_resumable

from benchmark import gen, oracles
from benchmark.trace import Tracer

#: input sizes; the generator records them in the run's manifest
SIZES = {
    "tile_batch": {"n_images": 200_000, "n_warm_images": 2_000},
    "catalog_interactive": {"n_images": 200_000, "n_requests": 120},
    "incremental_ingest": {"n_base": 5_000, "n_delta": 500, "n_deltas": 40},
}

#: the disabled tracer, for calls made outside any traced operation
NO_TRACE = Tracer(None, enabled=False)

_ZONE_SCHEMA = ("zone_id long, zxmin double, zxmax double, "
                "zymin double, zymax double")


def collect(tracer, build) -> list[tuple]:
    """Build a DataFrame, plan it (traced runs only) and collect it.

    The three spans split a request into DataFrame construction,
    Catalyst planning and execution.
    """
    with tracer.span("catalyst.build"):
        df = build()
    if tracer.enabled:
        with tracer.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
    with tracer.span("spark.exec"):
        return [tuple(r) for r in df.collect()]


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class TileBatch:
    name = "tile_batch"
    round_ops = 1

    def __init__(self, spark, inputs: str, manifest: dict, work: str):
        self.spark, self.manifest = spark, manifest
        self.tables = os.path.join(inputs, "tables")
        self.warm = os.path.join(inputs, "warm")
        self.images_per_op = manifest["n_images"]
        self._want = None

    def setup(self, tracer) -> None:
        collect(tracer, lambda: queries.flagship(self.spark, self.warm))

    def op(self, i: int, tracer):
        return _timed(lambda: collect(
            tracer, lambda: queries.flagship(self.spark, self.tables)))

    def details(self, lat: list[float]) -> dict:
        return {}

    def check(self, con, i: int, got) -> bool:
        if self._want is None:
            self._want = oracles.flagship(con)
        return oracles.same(got, self._want)


class CatalogInteractive:
    name = "catalog_interactive"
    round_ops = len(gen.REQUEST_CYCLE)

    def __init__(self, spark, inputs: str, manifest: dict, work: str):
        self.spark, self.manifest = spark, manifest
        self.tables = os.path.join(inputs, "tables")
        self.requests = manifest["requests"]
        self.images_per_op = manifest["n_images"]

    def setup(self, tracer) -> None:
        for r in self.manifest["warmup_requests"]:
            request(self.spark, self.tables, r, tracer)

    def op(self, i: int, tracer):
        r = self.requests[i % len(self.requests)]
        return _timed(lambda: request(self.spark, self.tables, r, tracer))

    def details(self, lat: list[float]) -> dict:
        """Median latency and count per request type."""
        by_type: dict[str, list[float]] = {}
        for i, d in enumerate(lat):
            by_type.setdefault(self.requests[i % len(self.requests)]["type"],
                               []).append(d)
        return {"p50_s_by_type": {k: statistics.median(v)
                                  for k, v in by_type.items()},
                "n_by_type": {k: len(v) for k, v in by_type.items()}}

    def check(self, con, i: int, got) -> bool:
        r = self.requests[i % len(self.requests)]
        return oracles.same(got, oracles.CATALOG[r["type"]](con, r))


def request(spark, t: str, r: dict, tracer) -> list[tuple]:
    """Run one catalog request against the tables under ``t``."""
    kind = r["type"]

    def img(**kw):
        return synth.synth_images(spark, t, **kw)

    def zones_df(rows):
        return spark.createDataFrame(rows, _ZONE_SCHEMA)

    if kind == "spatial_select":
        roi = zones_df([(0, r["xmin"], r["xmax"], r["ymin"], r["ymax"])])
        return collect(tracer, lambda: spatial_select(
            img(with_footprint=False), roi)
            .agg(F.count(F.lit(1)), F.sum("id")))
    if kind == "spatial_join":
        return collect(tracer, lambda: spatial_join(
            img(with_footprint=False),
            synth.synth_zones(spark, t).where(F.col("zone_id").isin(r["zones"])),
            how="inner", op="within")
            .groupBy("zone_id").agg(F.count(F.lit(1)), F.sum("id")))
    if kind == "knn":
        return collect(tracer, lambda: match_closest_points(
            synth.synth_qpoints(spark, t).where(F.col("qid").isin(r["qids"])),
            img(with_footprint=False))
            .select("qid", "match_image_id", "dist_match"))
    if kind == "npts_radius":
        return collect(tracer, lambda: npts_in_radius(
            img(with_footprint=False).where(_in_roi(r)), r["radius"])
            .select("image_id", F.col("n_pts_r").cast("long")))
    if kind == "tile_specs":
        return collect(tracer, lambda: tile_spec_df(
            img(with_footprint=False).where(
                F.col("id").between(r["id_lo"], r["id_hi"])), 48, 32)
            .agg(F.count(F.lit(1)),
                 F.sum((F.col("txmax") - F.col("txmin"))
                       * (F.col("tymax") - F.col("tymin"))),
                 F.sum("tile_idx")))
    if kind == "zonal":
        zones = zones_df([(z["zone_id"], z["zxmin"], z["zxmax"], z["zymin"],
                           z["zymax"]) for z in r["zones"]])
        return collect(tracer, lambda: zonal_stats(
            synth.attach_bytes(
                img(with_footprint=True).where(_overlaps_roi(r))
                .repartition(spark.sparkContext.defaultParallelism)),
            zones)
            .select("zone_id", "n_pix", "sum_pix", "min_pix",
                    "max_pix", "median_pix"))
    raise ValueError(f"unknown request type {kind!r}")


def _in_roi(r):
    return ((F.col("lon") >= r["xmin"]) & (F.col("lon") < r["xmax"])
            & (F.col("lat") >= r["ymin"]) & (F.col("lat") < r["ymax"]))


def _overlaps_roi(r):
    return ((F.col("xmax") > r["xmin"]) & (F.col("xmin") < r["xmax"])
            & (F.col("ymax") > r["ymin"]) & (F.col("ymin") < r["ymax"]))


def ingest_process(spark, zones):
    """The ``job.py`` per-cell process: zone match, tile, per-image rollup."""

    def process(pending):
        matched = spatial_join(pending.drop("cell"), zones,
                               how="inner", op="within")
        work = (matched.select("id", "image_id", "w", "h", "fmt")
                .dropDuplicates(["image_id"])
                .repartition(spark.sparkContext.defaultParallelism))
        tiles = tile_pixels(synth.attach_bytes(work), 48, 32, encode=False)
        per_img = tiles.groupBy("image_id").agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("checksum").alias("pix_sum"))
        out = matched.join(per_img, "image_id", "inner")
        return with_point_cell(out).select(
            "cell", "image_id", "zone_id", "zname", "n_tiles", "pix_sum")

    return process


def commit(spark, tables: str, out_dir: str, tracer) -> int:
    """``run_resumable`` over the image table synthesized from ``tables``."""
    with tracer.span("catalyst.build"):
        images = synth.synth_images(spark, tables, with_footprint=False)
        process = ingest_process(spark, synth.synth_zones(spark, tables))
    if tracer.enabled:
        with tracer.span("catalyst.plan"):
            images._jdf.queryExecution().executedPlan()
    with tracer.span("spark.exec"):
        return run_resumable(images, out_dir, process)


def listing(root: str) -> list[tuple]:
    """(relative path, size) of every file under ``root``."""
    out = []
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out.append((os.path.relpath(p, root), os.path.getsize(p)))
    return sorted(out)


class IncrementalIngest:
    name = "incremental_ingest"
    round_ops = 1

    def __init__(self, spark, inputs: str, manifest: dict, work: str):
        self.spark, self.manifest, self.inputs = spark, manifest, inputs
        self.tables = os.path.join(inputs, "base")
        self.committed = os.path.join(work, "ingest", "committed")
        self.live = os.path.join(work, "ingest", "live")
        self.images_per_op = manifest["n_base"] + manifest["n_delta"]
        self.ops: dict[int, dict] = {}

    def setup(self, tracer) -> None:
        shutil.rmtree(os.path.dirname(self.committed), ignore_errors=True)
        commit(self.spark, self.tables, self.committed, tracer)

    def op(self, i: int, tracer):
        """Restore the committed base, commit delta ``k`` over it, then resume
        with nothing left to do; only the two engine calls are timed."""
        k = i % self.manifest["n_deltas"]
        tables = os.path.join(self.inputs, f"delta_{k}")
        out = f"{self.live}_{i}"
        shutil.copytree(self.committed, out, copy_function=os.link)
        t_commit, n_cells = _timed(lambda: commit(self.spark, tables, out, tracer))
        before = listing(out)
        t_resume, n_again = _timed(lambda: commit(self.spark, tables, out, tracer))
        self.ops[i] = {"tables": tables, "out": out,
                       "idle_resume": n_again == 0 and listing(out) == before,
                       "commit_s": t_commit, "resume_s": t_resume}
        return t_commit + t_resume, n_cells

    def details(self, lat: list[float]) -> dict:
        """Commit and idle-resume times, commit rate and output size."""
        done = [op for op in self.ops.values() if "committed_rows" in op]
        if not done:
            return {}
        return {
            "commit_p50_s": statistics.median(op["commit_s"] for op in done),
            "resume_p50_s": statistics.median(op["resume_s"] for op in done),
            "committed_rows_per_s": statistics.median(
                op["committed_rows"] / op["commit_s"] for op in done),
            "out_bytes_per_row": statistics.median(
                op["out_bytes"] / self.images_per_op for op in done),
        }

    def check(self, con, i: int, got) -> bool:
        op = self.ops[i]
        want = oracles.ingest(con, op["tables"], self.tables)
        out = oracles.read_output(con, op["out"])
        op["committed_rows"] = want["committed_rows"]
        op["out_bytes"] = sum(size for path, size in listing(op["out"])
                              if not path.endswith(".crc"))
        return (op["idle_resume"] and got == want["committed_cells"]
                and oracles.same(out["lineage"], want["lineage"])
                and oracles.same(out["data"], want["data"]))


WORKLOADS = {w.name: w for w in (TileBatch, CatalogInteractive,
                                 IncrementalIngest)}
