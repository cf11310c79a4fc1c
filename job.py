#!/usr/bin/env python
"""Cluster entry point for ``spark-submit --py-files dist/rsgislib_spark.zip``.

The north-rule deployment shape: run the flagship pipeline (cell encode
-> spatial join -> tiling with pixel decode) over an images table with
per-cell lineage so a killed run resumes idempotently.

    python make_pyfiles.py
    spark-submit --py-files dist/rsgislib_spark.zip \
        --num-executors $N --executor-cores 4 \
        job.py --sf-dir /root/testdata/sf0.1 --out /tmp/flagship_out

On a real cluster, swap the parquet read/write for the Iceberg catalog
(the lineage protocol is snapshot-aware either way).  Exits 0 printing
one JSON line with row counts and the number of newly processed cells.

The job always resumes: cells already recorded in ``{out}/lineage`` are
skipped, so re-running over the same ``--out`` after a crash finishes
only the missing cells.  For a fresh run, point ``--out`` at a new or
empty directory.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from rsgislib_spark import synth
    from rsgislib_spark.operators.spatial_join import spatial_join
    from rsgislib_spark.operators.tiling import tile_pixels
    from rsgislib_spark.plans.lineage import run_resumable
    from rsgislib_spark.session import get_spark

    spark = get_spark(app="rsgislib-spark-flagship")
    img = synth.synth_images(spark, args.sf_dir, with_footprint=False)
    zones = synth.synth_zones(spark, args.sf_dir)

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
        from rsgislib_spark.operators.spatial_join import with_point_cell
        return with_point_cell(out).select(
            "cell", "image_id", "zone_id", "zname", "n_tiles", "pix_sum")

    n_cells = run_resumable(img, args.out, process)
    data = spark.read.parquet(args.out + "/data")
    print(json.dumps({"new_cells": n_cells, "rows": data.count()}))
    spark.stop()


if __name__ == "__main__":
    main()
