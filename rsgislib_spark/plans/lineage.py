"""Per-partition lineage + idempotent checkpoint/resume.

The north rule requires the job to "checkpoint per-partition with lineage
(input snapshot-id, cell range, row counts, pixel checksums) so a killed
run resumes idempotently".  The reference has no streaming/resume at all
(SURVEY.md §2.10) — its closest analog is transactional batched vector
writes (zonalstats/__init__.py:326, 20k-feature transactions).

Design (works identically on Iceberg; parquet stands in here):

* work is partitioned by spatial ``cell`` (the engine's universal
  partition key);
* a *lineage table* holds one row per completed cell:
  ``(cell, snapshot_id, n_rows, sum_phash, min_id, max_id)`` —
  ``sum_phash`` is the content checksum (order-independent int64 sum);
* ``run_resumable`` diff-joins the lineage table against the input's
  cell list and processes ONLY missing cells, appending data +
  lineage atomically per cell batch.  Killing the job between batches
  loses nothing; re-running skips completed cells (idempotent).

On Iceberg the lineage append and the data append share one snapshot
commit; with plain parquet we order writes (data first, lineage last)
and write the data with DYNAMIC partition overwrite: a crash between the
two writes leaves un-recorded data for some cells, and the resume pass
re-processes exactly those cells, *replacing* their partitions rather
than appending a duplicate copy — at-least-once execution, exactly-once
data.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..geo.cellindex import DEFAULT_RES
from ..operators.spatial_join import with_point_cell

__all__ = ["lineage_records", "run_resumable", "completed_cells"]


def lineage_records(images: DataFrame, res: int = DEFAULT_RES,
                    snapshot_id: int = 0) -> DataFrame:
    """Per-cell lineage rows for an image table (order-independent).

    All aggregates are exact integers; ``sum_phash`` is the cheap
    content checksum (sums commute, so partitioning cannot change it).
    """
    return _cell_records(with_point_cell(images, res=res), snapshot_id)


def _cell_records(keyed: DataFrame, snapshot_id: int) -> DataFrame:
    """:func:`lineage_records` of rows already keyed by ``cell``.  The
    aggregate is SQL text: each Python-built Column costs a dozen or
    more py4j round trips, an ``F.expr`` three (NOTES.md)."""
    # modular sum: overflow-proof at any cell population (the hot
    # megacity cell would overflow a raw int64 phash sum), still an
    # order-independent content checksum.
    return keyed.groupBy("cell").agg(
        F.expr("count(1) AS n_rows"),
        F.expr("sum(pmod(phash, 1000003)) AS sum_phash"),
        F.expr("min(id) AS min_id"),
        F.expr("max(id) AS max_id"),
        F.expr(f"CAST({int(snapshot_id)} AS BIGINT) AS snapshot_id"))


#: the lineage table as ``lineage_records`` writes it; declared, so the
#: read launches no schema-inference job
_LINEAGE_SCHEMA = ("cell BIGINT, n_rows BIGINT, sum_phash BIGINT, "
                   "min_id BIGINT, max_id BIGINT, snapshot_id BIGINT")


def _hadoop_fs(spark: SparkSession, path: str):
    """``(jvm, FileSystem, Path)`` for ``path``: the store its URI names
    (file:, hdfs:, s3a:, ...), or the default one for a plain path."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _lineage_cells(spark: SparkSession, lineage_path: str) -> DataFrame:
    """The ``cell`` column of the lineage table, one row per lineage
    record (empty frame if no lineage yet).

    Existence is checked through the path's Hadoop ``FileSystem``, like
    the commit's delete: a local ``os.path`` check is False for any URI
    (``file://...`` too), so a resume would redo every cell."""
    _, fs, p = _hadoop_fs(spark, lineage_path)
    if fs.exists(p):
        return spark.read.schema(_LINEAGE_SCHEMA).parquet(lineage_path) \
            .select("cell")
    return spark.range(0).selectExpr("id AS cell")


def completed_cells(spark: SparkSession, lineage_path: str) -> DataFrame:
    """Cells already recorded as done, one row per cell (empty frame if
    no lineage yet)."""
    return _lineage_cells(spark, lineage_path).distinct()


def _cell_dirs(jvm, fs, data_p) -> set[int]:
    """The ``cell=<n>`` entries of ``data_p``, from one Hadoop
    ``listStatus``.  The listing crosses py4j as one newline-joined
    string of paths, not as a Java array read element by element: a
    committed table holds thousands of cell directories."""
    paths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(fs.listStatus(data_p))
    listing = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(
        paths).mkString("\n")
    return {int(c) for c in re.findall(r"/cell=(-?\d+)$", listing, re.M)}


def run_resumable(images: DataFrame, out_dir: str, process,
                  res: int = DEFAULT_RES, snapshot_id: int = 0) -> int:
    """Process only cells without a lineage record; returns #cells done.

    ``process(df) -> DataFrame`` maps the pending slice (rows whose cell
    has no lineage row) to its output, which is written under
    ``{out_dir}/data`` partitioned by cell with dynamic partition
    overwrite (only the pending cells' partitions are replaced — a
    crashed run's partial data for those cells is discarded, not
    duplicated); the matching lineage rows are appended under
    ``{out_dir}/lineage`` *after* the data commit.
    """
    # A left-anti join ignores duplicate keys on its right side, so the
    # lineage needs no ``distinct`` (and its shuffle).  ``pending`` is
    # computed once: a local checkpoint (NOTES.md lesson 9) feeds the
    # cell list, ``process`` and the lineage write, and never enters the
    # CacheManager.  Its blocks are freed on the way out, failed commit
    # or not, rather than at a JVM GC after the last reference goes, and
    # the call waits for their removal, so none of it runs on into the
    # next call.
    lineage_path = os.path.join(out_dir, "lineage")
    pending = with_point_cell(images, res=res).join(
        _lineage_cells(images.sparkSession, lineage_path), "cell",
        "left_anti").localCheckpoint(eager=False)
    try:
        return _commit(pending, out_dir, process, snapshot_id)
    finally:
        pending._jdf.queryExecution().logical().rdd().unpersist(True)


def _commit(pending: DataFrame, out_dir: str, process,
            snapshot_id: int) -> int:
    """Write ``process(pending)`` and then its lineage rows; returns the
    number of pending cells."""
    spark = pending.sparkSession
    lineage_path = os.path.join(out_dir, "lineage")
    data_path = os.path.join(out_dir, "data")
    todo = _cell_records(pending, snapshot_id)
    cells = {row.cell for row in todo.select("cell").collect()}
    if not cells:
        return 0

    # dynamic overwrite only replaces partitions PRESENT in this run's
    # output: if ``process`` changed between attempts (or is
    # non-deterministic) and now emits no rows for a crashed cell, that
    # cell's stale partial data would survive while lineage marks it
    # complete.  Deleting the pending cells' partition directories up
    # front makes the replacement unconditional; a crash between the
    # delete and the write just leaves the cells pending again (no
    # lineage row yet), so the resume contract is unchanged.  On
    # Iceberg this is a single atomic replacePartitions commit.
    # Routed through the Hadoop FileSystem API so the delete is real on
    # ANY store the cluster can write (file:, hdfs:, s3a:, ...) — a
    # local os.path/shutil delete would silently no-op for non-local
    # URIs and reintroduce the stale-partial hazard (ADVICE r3).  Cell
    # ids are plain integers, so the ``cell=<n>`` directory name never
    # needs Hive escaping.  One listing of ``data/`` finds the cells on
    # disk (almost always none of the pending ones), so the commit makes
    # a constant number of py4j calls rather than one per pending cell.
    jvm, fs, data_p = _hadoop_fs(spark, data_path)
    if fs.exists(data_p):
        stale = _cell_dirs(jvm, fs, data_p) & cells
        for cell in sorted(stale):
            fs.delete(jvm.org.apache.hadoop.fs.Path(data_path,
                                                    f"cell={cell}"), True)

    out = process(pending)
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        # dynamic overwrite = replace ONLY the partitions present in
        # `out` (the pending cells); completed cells are untouched.
        out.write.mode("overwrite").partitionBy("cell").parquet(data_path)
    finally:
        spark.conf.set(mode_key, prev)
    todo.write.mode("append").parquet(lineage_path)
    return len(cells)
