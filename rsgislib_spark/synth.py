"""Deterministic synthesis of the geotagged image+caption input table.

The engine's input contract (FIXTURES.md, "Input contract") is an Iceberg
table

    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long)

No such table ships with the sandbox, so this module synthesizes one
*deterministically* from the driver-provided ``part`` parquet table
(p_partkey is the seed — same rows on every run and on every cluster size,
as the scaling protocol requires).  Every metadata column — including the
geotag (lon/lat), the image footprint, and even the pixel values — is a
pure arithmetic function of the seed, expressed as SQL text that evaluates
bit-identically in Spark SQL and DuckDB.  That is what lets the driver's
DuckDB oracle independently verify cell assignment, spatial joins, tiling
and even decoded-pixel aggregates without sharing any code with the engine.

Layout of the synthetic world:

* ~80% of images scatter over lon [-180, 180) x lat [-60, 60) on a
  pseudo-random (but exactly reproducible) lattice;
* ~20% (every 5th id) cluster inside a ~0.05 deg "megacity" at
  (10.0E, 45.0N) — a deliberately *hot* spatial cell so skew handling
  (salting / AQE skew join) is exercised and measurable;
* every coordinate carries a per-id fine jitter (id/1e8 lon, id/1.6e8
  lat) so no two images share a location and no query point is exactly
  equidistant to two images — the reference's 1-NN raises on ties
  (vectorutils/__init__.py:3430-3434), so the synthetic world must be
  tie-free for the oracle comparison to be well-defined;
* pixel values are v(x, y) = (id*31 + x*7 + y*13) mod pmax, pmax = 256
  for 8-bit formats and 1024 for 16-bit — so any pixel aggregate has a
  closed-form SQL oracle;
* formats cycle raw16/raw8/png/raw16 — the png third exercises a real
  compressed codec (zlib) in the decode path.

Zone (polygon) layer: 25 rectangular zones derived from ``nation``
(n_nationkey 0..24); zone 0 is a 1x1 deg box over the megacity (hot zone).
"""

from __future__ import annotations

import functools
import os

import numpy as np

from .functions import codec

__all__ = [
    "IMG_RES_DEG",
    "images_sql",
    "zones_sql",
    "read_views",
    "synth_images",
    "synth_zones",
    "pixel_array",
    "pixel_planes",
    "pmax",
    "pmax_sql",
    "pixel_value_sql",
]

#: ground resolution of every synthetic image, degrees per pixel
IMG_RES_DEG = 0.001

def _str_type(dialect: str) -> str:
    return "STRING" if dialect == "spark" else "VARCHAR"


def images_sql(dialect: str = "spark", part: str = "part") -> str:
    """Portable SELECT producing all image *metadata* columns from ``part``.

    Columns: id, image_id, w, h, fmt, caption, phash, lon, lat plus the
    derived footprint (res, tlx, tly, xmin, xmax, ymin, ymax).  ``bytes``
    is Spark-side only (see :func:`synth_images`); pixel oracles use
    :func:`pixel_value_sql` instead of decoding.
    """
    s = _str_type(dialect)
    return f"""
SELECT
  id,
  concat('img_', CAST(id AS {s}))                             AS image_id,
  CAST(32 + (id * 7) % 97 AS INT)                             AS w,
  CAST(32 + (id * 13) % 97 AS INT)                            AS h,
  CASE CAST(id % 4 AS INT) WHEN 1 THEN 'raw8' WHEN 2 THEN 'png'
       ELSE 'raw16' END                                       AS fmt,
  concat('synthetic scene ', CAST(id % 50 AS {s}),
         ' image ', CAST(id AS {s}),
         CASE WHEN id % 5 = 0 THEN ' megacity rooftop view'
              ELSE ' open landscape view' END)                AS caption,
  (id * 2654435761) % 1152921504606846976 + (id % 3)          AS phash,
  CASE WHEN id % 5 = 0
       THEN 10.0 + CAST((id * 7) % 1000 AS DOUBLE) / 20000.0
       ELSE -180.0 + CAST((id * 9973) % 360000 AS DOUBLE) / 1000.0
  END + CAST(id AS DOUBLE) / 100000000.0                      AS lon,
  CASE WHEN id % 5 = 0
       THEN 45.0 + CAST((id * 11) % 1000 AS DOUBLE) / 20000.0
       ELSE -60.0 + CAST((id * 7919) % 120000 AS DOUBLE) / 1000.0
  END + CAST(id AS DOUBLE) / 160000000.0                      AS lat
FROM (SELECT CAST(p_partkey AS BIGINT) AS id FROM {part})
""".strip()


def footprint_sql(inner: str) -> str:
    """Wrap an images-meta SELECT with footprint bbox columns (portable)."""
    return f"""
SELECT *,
  lon - CAST(w AS DOUBLE) * {IMG_RES_DEG} / 2.0               AS xmin,
  lon + CAST(w AS DOUBLE) * {IMG_RES_DEG} / 2.0               AS xmax,
  lat - CAST(h AS DOUBLE) * {IMG_RES_DEG} / 2.0               AS ymin,
  lat + CAST(h AS DOUBLE) * {IMG_RES_DEG} / 2.0               AS ymax
FROM ({inner})
""".strip()


def zones_sql(dialect: str = "spark", nation: str = "nation") -> str:
    """Portable SELECT producing the rectangular zone layer from ``nation``.

    zone 0 = hot 1x1 deg box over the megacity; the rest pseudo-scatter.
    """
    return f"""
SELECT
  k                                                           AS zone_id,
  zname,
  CASE WHEN k = 0 THEN 9.5
       ELSE -178.0 + CAST((k * 131) % 340 AS DOUBLE) END      AS zxmin,
  CASE WHEN k = 0 THEN 10.5
       ELSE -178.0 + CAST((k * 131) % 340 AS DOUBLE)
            + 4.0 + CAST(k % 7 AS DOUBLE) END                 AS zxmax,
  CASE WHEN k = 0 THEN 44.5
       ELSE -78.0 + CAST((k * 97) % 150 AS DOUBLE) END        AS zymin,
  CASE WHEN k = 0 THEN 45.5
       ELSE -78.0 + CAST((k * 97) % 150 AS DOUBLE)
            + 3.0 + CAST(k % 5 AS DOUBLE) END                 AS zymax
FROM (SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS zname FROM {nation})
""".strip()


def qpoints_sql(dialect: str = "spark", supplier: str = "supplier") -> str:
    """Portable SELECT producing a small query-point layer from ``supplier``.

    Used as the base side of kNN / radius queries; every 3rd point sits in
    the megacity so the hot cell is probed too.
    """
    return f"""
SELECT
  qid,
  CASE WHEN qid % 3 = 0
       THEN 10.0 + CAST((qid * 13) % 1000 AS DOUBLE) / 10000.0
       ELSE -180.0 + CAST((qid * 8117) % 360000 AS DOUBLE) / 1000.0
  END                                                         AS qlon,
  CASE WHEN qid % 3 = 0
       THEN 45.0 + CAST((qid * 17) % 1000 AS DOUBLE) / 10000.0
       ELSE -60.0 + CAST((qid * 6689) % 120000 AS DOUBLE) / 1000.0
  END                                                         AS qlat
FROM (SELECT CAST(s_suppkey AS BIGINT) AS qid FROM {supplier})
""".strip()


#: the columns the synth SQL reads from each input table
_TABLE_SCHEMAS = {"part": "p_partkey BIGINT",
                  "nation": "n_nationkey BIGINT, n_name STRING",
                  "supplier": "s_suppkey BIGINT"}


def read_views(spark, sf_dir: str, *tables: str) -> None:
    """Register each ``{sf_dir}/{table}.parquet`` as a temp view named
    ``table`` with a declared schema (the columns the synth SQL reads),
    so the read launches no schema-inference job.  A narrower integer
    file column (e.g. an INT32 ``n_nationkey``) is widened to a declared
    BIGINT."""
    for table in tables:
        spark.read.schema(_TABLE_SCHEMAS[table]) \
            .parquet(os.path.join(sf_dir, f"{table}.parquet")) \
            .createOrReplaceTempView(table)


def synth_qpoints(spark, sf_dir: str):
    read_views(spark, sf_dir, "supplier")
    return spark.sql(qpoints_sql("spark"))


def pmax(fmt: str) -> int:
    """Per-format pixel max+1 (modulus of the value formula)."""
    return 256 if str(fmt) in ("raw8", "png") else 1024


def pmax_sql(fmt_expr: str = "fmt") -> str:
    """Portable per-format pixel max+1 (modulus of the value formula)."""
    return f"(CASE WHEN {fmt_expr} IN ('raw8', 'png') THEN 256 ELSE 1024 END)"


def pixel_value_sql(id_expr: str = "id", x: str = "x", y: str = "y",
                    fmt_expr: str = "fmt") -> str:
    """Closed-form pixel value v(id, x, y) as portable SQL."""
    return f"(({id_expr} * 31 + {x} * 7 + {y} * 13) % {pmax_sql(fmt_expr)})"


def pixel_array(img_id: int, w: int, h: int, fmt: str) -> np.ndarray:
    """numpy oracle for the synthetic pixel plane (h, w)."""
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    v = (img_id * 31 + x * 7 + y * 13) % pmax(fmt)
    return v.astype(np.uint8 if fmt == "raw8" else np.uint16)


@functools.lru_cache(maxsize=1024)
def _base_plane(w: int, h: int, pmax: int, dtype: type) -> np.ndarray:
    """The id-free part of the pixel formula, ``(7x + 13y) mod pmax``, as
    a read-only (h, w) plane of ``dtype`` -- one per shape and format."""
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    base = ((x * 7 + y * 13) % pmax).astype(dtype)
    base.flags.writeable = False
    return base


def pixel_planes(ids, w: int, h: int, fmt: str) -> np.ndarray:
    """Fast twin of :func:`pixel_array`: the (n, h, w) stack of the
    planes of ``n`` ids that share one shape and format.

    Each plane is the cached base plane plus the per-id offset
    ``(31 id) mod pmax``, reduced with ``& (pmax - 1)`` in the target
    dtype (both moduli are powers of two, and ``&`` is the floor modulo
    for negative ids too).  Tests hold it equal to ``pixel_array``.
    """
    mod = pmax(fmt)
    dtype = np.uint8 if fmt == "raw8" else np.uint16
    off = ((np.asarray(ids, np.int64) * 31) & (mod - 1)).astype(dtype)
    stack = _base_plane(int(w), int(h), mod, dtype)[None] \
        + off[:, None, None]
    stack &= dtype(mod - 1)
    return stack


def synth_attach_bytes(batches):
    """mapInArrow kernel appending the encoded ``bytes`` payload."""
    import pyarrow as pa

    for batch in batches:
        cols = (batch.column(c).to_pylist() for c in ("id", "w", "h", "fmt"))
        payloads = [codec.encode_image(pixel_planes((img_id,), w, h, fmt)[0],
                                       fmt)
                    for img_id, w, h, fmt in zip(*cols)]
        yield batch.append_column("bytes", pa.array(payloads, pa.binary()))


def attach_bytes(df):
    """Add the encoded ``bytes`` payload to any image-metadata frame.

    Needs (id, w, h, fmt) columns.  Callers repartition first if the
    frame isn't already laid out at core count — payload rows are wide,
    so generate them as late as possible (after filters/joins) and never
    shuffle them: the late-materialization analog of a column-pruned
    Iceberg scan.
    """
    from pyspark.sql.types import BinaryType, StructField, StructType

    schema = StructType(list(df.schema.fields)
                        + [StructField("bytes", BinaryType())])
    return df.mapInArrow(synth_attach_bytes, schema=schema)


def synth_images(spark, sf_dir: str, with_bytes: bool = False,
                 with_footprint: bool = True):
    """Synthesize the images DataFrame from ``{sf_dir}/part.parquet``.

    ``with_bytes=False`` (default) keeps the table metadata-only — the
    right plan shape for queries that never touch pixels (column pruning
    for free).  ``with_bytes=True`` runs the Arrow codec stage.
    """
    read_views(spark, sf_dir, "part")
    sql = images_sql("spark")
    if with_footprint:
        sql = footprint_sql(sql)
    df = spark.sql(sql)
    if with_bytes:
        from pyspark.sql.types import BinaryType, StructField, StructType

        # the driver tables are single parquet files -> one scan
        # partition; without this repartition the Arrow codec stage
        # (the expensive part) would run on ONE task no matter how many
        # executors exist.  Shuffling metadata-only rows is cheap; the
        # heavy bytes column is born already-parallel.  Exactly core
        # count: more tasks than cores only adds per-task cost (~50 ms
        # of pythonTotalTime each, down from ~0.25 s before workerinit
        # stopped the per-task zip re-reads; NOTES.md).
        df = df.repartition(spark.sparkContext.defaultParallelism)
        df = attach_bytes(df)
    return df


def synth_zones(spark, sf_dir: str):
    read_views(spark, sf_dir, "nation")
    return spark.sql(zones_sql("spark"))
