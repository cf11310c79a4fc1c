"""Layer probes for the traced run.

After the workload's loop, the traced run calls each layer's public
function once on the workload's own generated tables and times the call
from outside.  Every probe runs on every workload, so every per-layer
metric is measured on every workload; which end-to-end metric a layer
should move, on which workload, is documented in ``README.md``.  Each
probe also checks its own answer, and a wrong answer counts as a failed
operation.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from rsgislib_spark import synth
from rsgislib_spark.functions import codec
from rsgislib_spark.geo import cellindex, tilegrid
from rsgislib_spark.operators.knn import match_closest_points
from rsgislib_spark.operators.spatial_join import (spatial_join, with_bbox_cells,
                                                   with_point_cell)
from rsgislib_spark.operators.tiling import tile_checksums_fused
from rsgislib_spark.plans.lineage import completed_cells

from benchmark import gen, oracles, workloads
from benchmark.trace import job_counters

N_SAMPLE = 200          # images in the in-driver codec/tilegrid sample
N_TILING = 16_000       # matched images the tiling probe tiles
N_LINEAGE = 2_000       # rows the lineage probe commits


class Probes:
    """Runs the probes; collects metrics and the (attempted, failed) tally."""

    def __init__(self, spark, con, tables: str, work: str, seed: int):
        self.spark, self.con, self.tables = spark, con, tables
        self.work, self.seed = work, seed
        self.metrics: dict[str, float] = {}
        self.attempted = self.failed = 0

    def _tally(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def _group(self, name: str) -> str:
        group = f"probe.{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        return group

    def run_all(self) -> dict[str, float]:
        for probe in (self.per_image, self.spatial_join, self.tiling,
                      self.knn, self.zonal, self.lineage):
            probe()
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return self.metrics

    def per_image(self) -> None:
        """synth / codec / tilegrid / cellindex per image, in the driver."""
        rows = self.con.execute(
            f"SELECT id, w, h, fmt, lon, lat, "
            f"{cellindex.cell_sql_expr('lon', 'lat')} FROM img "
            f"USING SAMPLE reservoir({N_SAMPLE} ROWS) REPEATABLE ({self.seed})"
        ).fetchall()
        t = {"pix": 0.0, "enc": 0.0, "dec": 0.0, "grid": 0.0}
        n_bytes, ok = 0, True
        for img_id, w, h, fmt, *_ in rows:
            t0 = time.perf_counter()
            arr = synth.pixel_array(img_id, w, h, fmt)
            t1 = time.perf_counter()
            buf = codec.encode_image(arr, fmt)
            t2 = time.perf_counter()
            back = codec.decode_image(buf, w, h, fmt)
            t3 = time.perf_counter()
            specs = tilegrid.tile_specs(w, h, oracles.TILE_W, oracles.TILE_H)
            t4 = time.perf_counter()
            t["pix"] += t1 - t0
            t["enc"] += t2 - t1
            t["dec"] += t3 - t2
            t["grid"] += t4 - t3
            n_bytes += len(buf)
            ok &= bool(np.array_equal(arr, back)) and len(specs) == (
                -(-w // oracles.TILE_W)) * (-(-h // oracles.TILE_H))
        lon = np.array([r[4] for r in rows])
        lat = np.array([r[5] for r in rows])
        reps = 200
        t0 = time.perf_counter()
        for _ in range(reps):
            cells = cellindex.cell_of_point(lon, lat)
        cell_s = time.perf_counter() - t0
        ok &= [int(c) for c in cells] == [r[6] for r in rows]
        n = max(len(rows), 1)
        self.metrics.update({
            "synth.pixel_array_us": 1e6 * t["pix"] / n,
            "codec.encode_us": 1e6 * t["enc"] / n,
            "codec.decode_us": 1e6 * t["dec"] / n,
            "codec.bytes_per_img": n_bytes / n,
            "tilegrid.tile_specs_us": 1e6 * t["grid"] / n,
            "cellindex.cell_of_point_ns": 1e9 * cell_s / (reps * n),
        })
        self._tally(ok)

    def spatial_join(self) -> None:
        spark, t = self.spark, self.tables
        img = synth.synth_images(spark, t, with_footprint=False)
        zones = synth.synth_zones(spark, t)
        self._group("spatial_join")
        t0 = time.perf_counter()
        matches = spatial_join(img, zones, how="inner", op="within").count()
        busy = time.perf_counter() - t0
        candidates = with_point_cell(img).join(F.broadcast(with_bbox_cells(
            zones, "zxmin", "zxmax", "zymin", "zymax")), "cell").count()
        want = self.con.execute(
            f"SELECT count(*) FROM img i JOIN zones z ON {oracles.PIP}"
        ).fetchone()[0]
        self.metrics.update({
            "spatial_join.busy_s": busy,
            "spatial_join.candidates": candidates,
            "spatial_join.matches": matches,
            "spatial_join.match_ratio": matches / max(candidates, 1),
        })
        self._tally(matches == want)

    def tiling(self) -> None:
        """``tile_checksums_fused`` over a pre-materialized matched set."""
        spark = self.spark
        matched = f"""SELECT DISTINCT i.id, i.image_id, i.w, i.h, i.fmt
                      FROM img i JOIN zones z ON {oracles.PIP}
                      ORDER BY i.id LIMIT {N_TILING}"""
        pdf = self.con.execute(matched).df()
        meta = spark.createDataFrame(pdf).repartition(
            spark.sparkContext.defaultParallelism).persist()
        meta.count()
        group = self._group("tiling")
        t0 = time.perf_counter()
        got = tile_checksums_fused(meta, oracles.TILE_W, oracles.TILE_H,
                                   rollup="image").agg(
            F.count(F.lit(1)), F.sum("n_tiles"), F.sum("pix_sum")).collect()[0]
        busy = time.perf_counter() - t0
        tasks = job_counters(spark, group)["tasks"]
        meta.unpersist()
        want = self.con.execute(f"""
WITH m AS ({matched}), {oracles.pix_sum_ctes("SELECT id, w, h, fmt FROM m")}
SELECT count(*),
       sum(CAST(ceil(m.w / {oracles.TILE_W}.0) * ceil(m.h / {oracles.TILE_H}.0)
                AS BIGINT)),
       sum(per_img.pix_sum)
FROM m JOIN per_img ON m.id = per_img.id""").fetchone()
        self.metrics.update({
            "tiling.busy_s": busy,
            "tiling.images": got[0],
            "tiling.tiles": got[1],
            "tiling.tasks": tasks,
        })
        self._tally(tuple(got) == tuple(want))

    def knn(self) -> None:
        rng = gen.rng_for(self.seed, "probe.knn")
        r = gen.draw_request(rng, "knn", 0)
        self._group("knn")
        t0 = time.perf_counter()
        got = match_closest_points(
            synth.synth_qpoints(self.spark, self.tables)
            .where(F.col("qid").isin(r["qids"])),
            synth.synth_images(self.spark, self.tables, with_footprint=False)
        ).select("qid", "match_image_id", "dist_match").collect()
        self.metrics["knn.busy_s"] = time.perf_counter() - t0
        self._tally(oracles.same([tuple(x) for x in got], oracles.knn(self.con, r)))

    def zonal(self) -> None:
        rng = gen.rng_for(self.seed, "probe.zonal")
        r = gen.draw_request(rng, "zonal", 0)
        self._group("zonal")
        t0 = time.perf_counter()
        got = workloads.request(self.spark, self.tables, r, workloads.NO_TRACE)
        self.metrics["zonal.busy_s"] = time.perf_counter() - t0
        self.metrics["zonal.images_decoded"] = oracles.zonal_images(self.con, r)
        self._tally(oracles.same(got, oracles.zonal(self.con, r)))

    def lineage(self) -> None:
        """``run_resumable`` commit of a table slice, then ``completed_cells``."""
        ids = self.con.execute(
            f"SELECT id FROM img ORDER BY id LIMIT {N_LINEAGE}").fetchnumpy()["id"]
        src = os.path.join(self.work, "probe_lineage", "in")
        out = os.path.join(self.work, "probe_lineage", "out")
        gen.write_tables(src, ids)
        self._group("lineage")
        t0 = time.perf_counter()
        cells = workloads.commit(self.spark, src, out, workloads.NO_TRACE)
        busy = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_done = completed_cells(self.spark, os.path.join(out, "lineage")).count()
        done_s = time.perf_counter() - t0
        files = [(p, s) for p, s in workloads.listing(out)
                 if not p.endswith(".crc")]
        written = sum(s for _, s in files)
        want = oracles.ingest(self.con, src)
        got = oracles.read_output(self.con, out)
        self.metrics.update({
            "lineage.busy_s": busy,
            "lineage.completed_cells_s": done_s,
            "lineage.cells_committed": cells,
            "lineage.files_written": len(files),
            "lineage.bytes_written": written,
            "lineage.bytes_per_row": written / max(len(ids), 1),
        })
        self._tally(cells == n_done == want["committed_cells"]
                    and oracles.same(got["lineage"], want["lineage"])
                    and oracles.same(got["data"], want["data"]))
