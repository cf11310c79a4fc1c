"""Rasterize (vector -> raster) and polygonize/clump (raster -> vector).

* ``rasterize_window`` — burn a zone layer onto an output pixel grid
  (reference: gdal.RasterizeLayer burn-value semantics used throughout
  zonal stats, python/rsgislib/zonalstats/__init__.py:424-432, and
  ``create_poly_vec_bboxs``-style vector->raster tools in
  vectorutils/createrasters.py).  Pixel-center-in-geometry, last-feature
  (max zone_id) wins on overlap — expressed ENTIRELY in Catalyst: the
  grid is ``spark.range``, burning is a join + max aggregate.  No UDF,
  no decode; at scale the grid shards by range partition and the zone
  side broadcasts.

* ``clump_stats`` / ``polygonize_bboxes`` — connected-component labeling
  (reference: ``segmentation.clump`` / ``vectorutils.polygonise_raster``
  family; clump engine src/segmentation/RSGISClumpPxls.cpp).  Per-image
  4-connected components over the thresholded plane in one Arrow pass
  (two-pass union-find, fully vectorized numpy), emitting per-clump
  rows: size + bbox (the polygonize output in bbox geometry).  Genuinely
  iterative -> no SQL oracle; verified against an independent BFS
  implementation in tests (tests/test_segmentation.py).

Cross-tile clumping note (scale design): per-tile labels + a boundary-
edge union (label equivalences across tile seams resolved by an
iterative smallest-label propagation join) is the standard distributed
extension; within this engine images are the natural partition unit so
per-image labeling is exact, not approximate.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions import codec

__all__ = ["rasterize_window", "label_components", "clump_stats",
           "polygonize_bboxes"]


def rasterize_window(spark: SparkSession, zones: DataFrame,
                     x0: float, y0: float, npx: int, npy: int,
                     res: float, background: int = -1) -> DataFrame:
    """Burn zones onto an (npx x npy) grid; one row per output pixel.

    Output: (px, py, burn) with burn = max matching zone_id or
    ``background``.  Grid generation + join + agg — all JVM-side.
    """
    grid = (
        spark.range(npx * npy)
        .select((F.col("id") % npx).alias("px"),
                (F.col("id") / npx).cast("long").alias("py"))
        .withColumn("cx", F.lit(x0) + (F.col("px") + 0.5) * F.lit(res))
        .withColumn("cy", F.lit(y0) + (F.col("py") + 0.5) * F.lit(res))
    )
    hit = (
        grid.join(
            F.broadcast(zones.select("zone_id", "zxmin", "zxmax",
                                     "zymin", "zymax")),
            (F.col("cx") >= F.col("zxmin")) & (F.col("cx") < F.col("zxmax"))
            & (F.col("cy") >= F.col("zymin")) & (F.col("cy") < F.col("zymax")),
            "left")
        .groupBy("px", "py")
        .agg(F.coalesce(F.max("zone_id"), F.lit(background))
             .cast("long").alias("burn"))
    )
    return hit


def label_components(mask: np.ndarray) -> np.ndarray:
    """4-connected component labels of a boolean mask (0 = background).

    Vectorized min-label propagation to fixpoint: every foreground pixel
    starts at its flat index and repeatedly takes the minimum over its
    foreground 4-neighbourhood.  At convergence each component carries
    its minimum pixel index — deterministic; dense relabel (1..n) is in
    ascending first-pixel order.  Iterations = max geodesic diameter of
    a component (small for threshold masks); monotone decreasing, so
    convergence is guaranteed and checked.
    """
    h, w = mask.shape
    big = np.int64(h * w + 1)
    lab = np.where(mask, np.arange(h * w, dtype=np.int64).reshape(h, w), big)
    for _ in range(h * w + 1):
        nxt = lab.copy()
        nxt[:, 1:] = np.minimum(nxt[:, 1:], lab[:, :-1])
        nxt[:, :-1] = np.minimum(nxt[:, :-1], lab[:, 1:])
        nxt[1:, :] = np.minimum(nxt[1:, :], lab[:-1, :])
        nxt[:-1, :] = np.minimum(nxt[:-1, :], lab[1:, :])
        nxt = np.where(mask, nxt, big)
        if (nxt == lab).all():
            break
        lab = nxt

    out = np.zeros(h * w, dtype=np.int64)
    flat = lab.ravel()
    fg = mask.ravel()
    if fg.any():
        _uniq, inv = np.unique(flat[fg], return_inverse=True)
        out[fg] = inv + 1
    return out.reshape(h, w)


_CLUMP_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("bxmin", LongType()),
    StructField("bxmax", LongType()),
    StructField("bymin", LongType()),
    StructField("bymax", LongType()),
])


def polygonize_bboxes(images: DataFrame, threshold: int) -> DataFrame:
    """Clump the thresholded plane; one row per clump with size + bbox.

    The polygonize output in bbox-geometry form (clump extents), also
    the RAT seed: ``groupBy(image_id, clump_id)`` rows are exactly the
    reference's raster-attribute-table rows (rastergis §2.5).
    """

    def per_image(out, image_id, arr):
        lab = label_components(arr.astype(np.int64) >= threshold)
        n = int(lab.max())
        if n == 0:
            return
        ys, xs = np.nonzero(lab)
        ls = lab[ys, xs]
        npix = np.bincount(ls, minlength=n + 1)[1:]
        bxmin = np.full(n + 1, 1 << 30, np.int64)
        bymin = np.full(n + 1, 1 << 30, np.int64)
        bxmax = np.full(n + 1, -1, np.int64)
        bymax = np.full(n + 1, -1, np.int64)
        np.minimum.at(bxmin, ls, xs)
        np.minimum.at(bymin, ls, ys)
        np.maximum.at(bxmax, ls, xs)
        np.maximum.at(bymax, ls, ys)
        out["image_id"].extend([image_id] * n)
        out["clump_id"].extend(range(1, n + 1))
        out["n_pix"].extend(int(v) for v in npix)
        out["bxmin"].extend(int(v) for v in bxmin[1:])
        out["bxmax"].extend(int(v) + 1 for v in bxmax[1:])
        out["bymin"].extend(int(v) for v in bymin[1:])
        out["bymax"].extend(int(v) + 1 for v in bymax[1:])

    return codec.map_images(images, per_image, _CLUMP_SCHEMA)


def clump_stats(images: DataFrame, threshold: int) -> DataFrame:
    """Per-image clump summary: count, largest, foreground total.

    ``identify_small_units`` / ``collapse_rat`` style rollup over the
    polygonize rows — plain Catalyst aggregation.
    """
    clumps = polygonize_bboxes(images, threshold)
    return clumps.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n_clumps"),
        F.max("n_pix").alias("max_clump"),
        F.sum("n_pix").alias("n_fg"))
