"""Whole-image pixel statistics (``pop_img_stats`` family).

Reference: ``pop_img_stats`` / ``RSGISPopWithStats`` computes per-band
min/max/mean/stddev honouring nodata (src/cmds/RSGISCmdImageUtils.cpp:
838-864); ``get_img_band_stats`` wraps GDAL ComputeStatistics
(imageutils/__init__.py:973); ``count_pxls_of_val`` / ``get_unique_values``
(imagecalc/__init__.py:517,568) and ``histogram`` (python/src/imagecalc.cpp:
2056) are per-value aggregations.

Spark shape: one Arrow pass decodes each image and emits scalar partials —
integer-exact count/sum/sumsq/min/max — or, for histograms, sparse
``(key, cnt)`` value counts per batch with no limit on the pixel value.
Nothing per-pixel ever becomes a row; downstream aggregation (global stats,
per-format stats, histograms) is ordinary Catalyst over the partials.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions import codec

__all__ = ["pixel_stats", "pixel_counts", "pixel_histogram",
           "imgs_equal_stats"]

_STATS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("sum_pix", LongType()),
    StructField("sumsq_pix", LongType()),
    StructField("min_pix", LongType()),
    StructField("max_pix", LongType()),
])


def pixel_stats(images: DataFrame, nodata=None) -> DataFrame:
    """Per-image integer-exact pixel stats + derived mean (double).

    ``images`` needs (image_id, bytes, w, h, fmt).  The mean divides two
    exact integers, so results are deterministic regardless of partition
    order (no float accumulation).
    """

    def per_image(out, image_id, arr):
        arr = arr.ravel()
        if nodata is not None:
            arr = arr[arr != nodata]
        out["image_id"].append(image_id)
        out["n_pix"].append(int(arr.size))
        out["sum_pix"].append(int(arr.sum()))
        out["sumsq_pix"].append(int((arr * arr).sum()))
        out["min_pix"].append(int(arr.min()) if arr.size else 0)
        out["max_pix"].append(int(arr.max()) if arr.size else 0)

    stats = codec.map_images(images, per_image, _STATS_SCHEMA,
                             dtype=np.int64)
    return stats.withColumn(
        "mean_pix",
        F.col("sum_pix").cast("double") / F.col("n_pix").cast("double"),
    )


def pixel_counts(images: DataFrame, keys_of, name: str) -> DataFrame:
    """``(name, n)``: how many pixels of all ``images`` have each key,
    where ``keys_of(plane)`` maps a decoded int64 plane to one int64 key
    per pixel.

    The kernel emits each batch's ``np.unique`` ``(key, cnt)`` rows and a
    Catalyst groupBy sums them — the classic partial+final design
    (``histogram``, imagecalc.cpp:2056), exact for any key range.
    """
    schema = StructType([StructField(name, LongType()),
                         StructField("cnt", LongType())])

    def kernel(batches):
        for batch in batches:
            keys = [np.zeros(0, np.int64)]
            for _, arr in codec.planes(batch, dtype=np.int64):
                keys.append(np.ravel(keys_of(arr)))
            uniq, cnt = np.unique(np.concatenate(keys), return_counts=True)
            yield codec.to_batch({name: uniq, "cnt": cnt}, schema)

    kernel.__name__ = kernel.__qualname__ = f"imagestats_{name}_counts"
    return (images.select(*codec.IMAGE_COLS)
            .mapInArrow(kernel, schema=schema)
            .groupBy(name).agg(F.sum("cnt").alias("n")))


def pixel_histogram(images: DataFrame, bins: int,
                    bin_width: int = 1) -> DataFrame:
    """``(bin, n)`` histogram over all images: bin = value // bin_width,
    clipped into ``[0, bins)`` (the reference's ``histogram`` binning,
    imagecalc.cpp:2056)."""
    return pixel_counts(
        images, lambda arr: (arr // bin_width).clip(0, bins - 1), "bin")


_EQ_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("cmp_image_id", StringType()),
    StructField("n_px", LongType()),
    StructField("n_eq", LongType()),
])


def imgs_equal_stats(pairs: DataFrame, flt_dif: float = 0.0001) -> DataFrame:
    """are_imgs_equal (imagecalc/__init__.py:1408): proportion of pixels
    of two same-grid images whose absolute difference is < ``flt_dif``.

    ``pairs`` needs (image_id, bytes, fmt, cmp_image_id, cmp_bytes,
    cmp_fmt, w, h) — one row per image pair, both payloads already
    joined (the metadata equi-join happens BEFORE payload
    materialization; the only shuffle carries ids, exactly like the
    reference reading two files side by side).  Output keeps the exact
    integer counts; ``prop`` (one IEEE division, correctly rounded in
    every engine) and the ``prop >= prop_eql`` verdict derive in
    Catalyst.
    """

    def per_image(out, image_id, a, cid, cbuf, cfmt):
        h, w = a.shape
        # the pair's second payload rides in its own columns
        b = codec.decode_image(bytes(cbuf), w, h, str(cfmt)).astype(np.int64)
        out["image_id"].append(image_id)
        out["cmp_image_id"].append(cid)
        out["n_px"].append(int(a.size))
        out["n_eq"].append(int((np.abs(a - b) < flt_dif).sum()))

    return codec.map_images(
        pairs, per_image, _EQ_SCHEMA,
        extra_cols=("cmp_image_id", "cmp_bytes", "cmp_fmt"), dtype=np.int64)
