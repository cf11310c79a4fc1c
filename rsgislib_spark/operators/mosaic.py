"""Mosaicking / compositing: paste N overlapping images onto one grid.

Reference semantics:

* ``create_img_mosaic`` overlap behaviours (src/img/RSGISImageMosaic.h:
  74-79; behaviour switch src/img/RSGISImageMosaic.cpp:401-430):
  0 = last-image-wins (input order), 1 = keep minimum, 2 = keep maximum;
* ``include_imgs`` burns later images into an existing base the same way
  (RSGISImageMosaic.cpp:1000);
* ``get_img_idx_for_stat`` per-pixel argmin/argmax across inputs
  (src/cmds/RSGISCmdImageCalc.cpp:2607) — here ``idx_max``;
* ``create_ref_img_composite_img`` gathers pixels by that index raster
  (python/src/imageutils.cpp method table).

Spark shape — partial+final composite, never per-pixel rows:

1. each Arrow batch decodes its images once and *locally combines* them
   into fixed-size accumulator arrays over the output window (one partial
   row per batch, not per image, not per pixel);
2. a single tiny ``applyInPandas`` merge folds the <=#partitions partials.

Every behaviour is encoded as an order-preserving int64 so all merges are
plain max/min — associative, commutative, partition-order independent:

    last-wins  : max(id * 2048 + v)        (input order = id, v < 2048)
    keep-min   : min(v)
    keep-max   : max(v)
    argmax idx : max(v * 2^40 + id)        (value first, id tiebreak)

At cluster scale the output window is tiled (one accumulator per output
tile — the ``groupBy(tile_id)`` in SURVEY.md §2.4) so no single reducer
holds the whole mosaic; the window here is one tile of that scheme.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StructField,
                               StructType)

from ..functions import codec

__all__ = ["mosaic_window", "mosaic_thresh_window", "mosaic_mode_window",
           "composite_max_index_window", "pixel_trend_window"]

_ENC_LAST = 2048                 # id * 2048 + v
_ENC_IDX = 1 << 40               # v * 2^40 + id

_PARTIAL_SCHEMA = StructType([
    StructField("window_id", LongType()),
    StructField("cnt", ArrayType(LongType())),
    StructField("enc_last", ArrayType(LongType())),
    StructField("v_min", ArrayType(LongType())),
    StructField("v_max", ArrayType(LongType())),
    StructField("enc_idx", ArrayType(LongType())),
])

_OUT_SCHEMA = StructType([
    StructField("px", LongType()),
    StructField("py", LongType()),
    StructField("n_imgs", LongType()),
    StructField("v_last", LongType()),
    StructField("v_min", LongType()),
    StructField("v_max", LongType()),
    StructField("idx_max", LongType()),
])


#: columns of a candidate image: the payload plus its id and bbox
_CAND_COLS = codec.IMAGE_COLS + ("id", "xmin", "xmax", "ymin", "ymax")


def _window_hits(pdf, cxs, cys, res):
    """``(id, plane, sel_y, sel_x, sy, sx)`` for each image of ``pdf``
    that covers an output pixel centre: the covered output rows/columns
    and their nearest source rows/columns on the image's own grid."""
    for _, arr, iid, xmin, xmax, ymin, ymax in codec.planes(
            pdf, "id", "xmin", "xmax", "ymin", "ymax"):
        sel_x = np.nonzero((cxs >= xmin) & (cxs < xmax))[0]
        sel_y = np.nonzero((cys > ymin) & (cys <= ymax))[0]
        if sel_x.size == 0 or sel_y.size == 0:
            continue
        h, w = arr.shape
        sx = np.minimum(np.floor((cxs[sel_x] - xmin) / res)
                        .astype(np.int64), w - 1)
        sy = np.minimum(np.floor((ymax - cys[sel_y]) / res)
                        .astype(np.int64), h - 1)
        yield int(iid), arr, sel_y, sel_x, sy, sx


def mosaic_window(images: DataFrame, x0: float, y0: float,
                  npx: int, npy: int, res: float) -> DataFrame:
    """Composite all overlapping images onto an output window grid.

    ``images`` needs (id, image_id, bytes, w, h, fmt, xmin, xmax, ymin,
    ymax).  Output: one row per covered output pixel with every overlap
    behaviour resolved.  Output pixel centers: ``cx = x0 + (px+0.5)*res``
    (px east, py north); source sampling is nearest-pixel on each image's
    own grid (inputs share the output resolution, the reference mosaic
    precondition).
    """
    xw, yh = x0 + npx * res, y0 + npy * res

    # prune non-overlapping images before any decode (bbox pushdown)
    cand = images.where(
        (F.col("xmax") > F.lit(x0)) & (F.col("xmin") < F.lit(xw))
        & (F.col("ymax") > F.lit(y0)) & (F.col("ymin") < F.lit(yh))
    ).select(*_CAND_COLS)

    cxs = x0 + (np.arange(npx, dtype=np.float64) + 0.5) * res
    cys = y0 + (np.arange(npy, dtype=np.float64) + 0.5) * res

    def mosaic_window_partials(it):
        for pdf in it:
            n = npx * npy
            cnt = np.zeros(n, np.int64)
            enc_last = np.full(n, -1, np.int64)
            vmin = np.full(n, np.iinfo(np.int64).max, np.int64)
            vmax = np.full(n, -1, np.int64)
            enc_idx = np.full(n, -1, np.int64)
            c2 = cnt.reshape(npy, npx)
            el2 = enc_last.reshape(npy, npx)
            mn2 = vmin.reshape(npy, npx)
            mx2 = vmax.reshape(npy, npx)
            ei2 = enc_idx.reshape(npy, npx)
            for iid, arr, sel_y, sel_x, sy, sx in _window_hits(
                    pdf, cxs, cys, res):
                v = arr[np.ix_(sy, sx)].astype(np.int64)
                ix = np.ix_(sel_y, sel_x)
                c2[ix] += 1
                el2[ix] = np.maximum(el2[ix], iid * _ENC_LAST + v)
                mn2[ix] = np.minimum(mn2[ix], v)
                mx2[ix] = np.maximum(mx2[ix], v)
                ei2[ix] = np.maximum(ei2[ix], v * _ENC_IDX + iid)
            yield pd.DataFrame({"window_id": [0], "cnt": [cnt],
                                "enc_last": [enc_last], "v_min": [vmin],
                                "v_max": [vmax], "enc_idx": [enc_idx]})

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        n = npx * npy
        cnt = np.zeros(n, np.int64)
        enc_last = np.full(n, -1, np.int64)
        vmin = np.full(n, np.iinfo(np.int64).max, np.int64)
        vmax = np.full(n, -1, np.int64)
        enc_idx = np.full(n, -1, np.int64)
        for r in pdf.itertuples(index=False):
            cnt += np.asarray(r.cnt, np.int64)
            enc_last = np.maximum(enc_last, np.asarray(r.enc_last, np.int64))
            vmin = np.minimum(vmin, np.asarray(r.v_min, np.int64))
            vmax = np.maximum(vmax, np.asarray(r.v_max, np.int64))
            enc_idx = np.maximum(enc_idx, np.asarray(r.enc_idx, np.int64))
        covered = np.nonzero(cnt > 0)[0]
        return pd.DataFrame({
            "px": covered % npx,
            "py": covered // npx,
            "n_imgs": cnt[covered],
            "v_last": enc_last[covered] % _ENC_LAST,
            "v_min": vmin[covered],
            "v_max": vmax[covered],
            "idx_max": enc_idx[covered] % _ENC_IDX,
        })

    return cand.mapInPandas(mosaic_window_partials, schema=_PARTIAL_SCHEMA) \
        .groupBy("window_id").applyInPandas(merge, schema=_OUT_SCHEMA)


_THRESH_PARTIAL_SCHEMA = StructType([
    StructField("window_id", LongType()),
    StructField("cnt", ArrayType(LongType())),
    StructField("enc_last", ArrayType(LongType())),
    StructField("v_min", ArrayType(LongType())),
    StructField("v_max", ArrayType(LongType())),
])

_THRESH_OUT_SCHEMA = StructType([
    StructField("px", LongType()),
    StructField("py", LongType()),
    StructField("n_imgs", LongType()),
    StructField("v_last", LongType()),
    StructField("v_min", LongType()),
    StructField("v_max", LongType()),
])


def mosaic_thresh_window(images: DataFrame, x0: float, y0: float,
                         npx: int, npy: int, res: float,
                         lower: float, upper: float) -> DataFrame:
    """``mosaicSkipThresh``: composite ONLY pixels inside a validity
    window.

    Reference: src/img/RSGISImageMosaic.cpp:627-735 — a source pixel
    contributes iff ``lower < v < upper`` (STRICT both sides, :772);
    within the valid set the overlap behaviours are the usual 0/1/2
    (last-wins / min / max), all resolved here in one pass with the
    same order-encoded integer partials as :func:`mosaic_window`.
    Output pixels with no valid contribution are absent (the reference
    leaves the background value there).
    """
    xw, yh = x0 + npx * res, y0 + npy * res
    cand = images.where(
        (F.col("xmax") > F.lit(x0)) & (F.col("xmin") < F.lit(xw))
        & (F.col("ymax") > F.lit(y0)) & (F.col("ymin") < F.lit(yh))
    ).select(*_CAND_COLS)

    cxs = x0 + (np.arange(npx, dtype=np.float64) + 0.5) * res
    cys = y0 + (np.arange(npy, dtype=np.float64) + 0.5) * res
    big = np.iinfo(np.int64).max

    def mosaic_thresh_window_partials(it):
        for pdf in it:
            n = npx * npy
            cnt = np.zeros(n, np.int64)
            enc_last = np.full(n, -1, np.int64)
            vmin = np.full(n, big, np.int64)
            vmax = np.full(n, -1, np.int64)
            c2 = cnt.reshape(npy, npx)
            el2 = enc_last.reshape(npy, npx)
            mn2 = vmin.reshape(npy, npx)
            mx2 = vmax.reshape(npy, npx)
            for iid, arr, sel_y, sel_x, sy, sx in _window_hits(
                    pdf, cxs, cys, res):
                v = arr[np.ix_(sy, sx)].astype(np.int64)
                ok = (v > lower) & (v < upper)   # strict, the reference rule
                ix = np.ix_(sel_y, sel_x)
                c2[ix] += ok
                el2[ix] = np.maximum(el2[ix],
                                     np.where(ok, iid * _ENC_LAST + v, -1))
                mn2[ix] = np.minimum(mn2[ix], np.where(ok, v, big))
                mx2[ix] = np.maximum(mx2[ix], np.where(ok, v, -1))
            yield pd.DataFrame({"window_id": [0], "cnt": [cnt],
                                "enc_last": [enc_last], "v_min": [vmin],
                                "v_max": [vmax]})

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        n = npx * npy
        cnt = np.zeros(n, np.int64)
        enc_last = np.full(n, -1, np.int64)
        vmin = np.full(n, big, np.int64)
        vmax = np.full(n, -1, np.int64)
        for r in pdf.itertuples(index=False):
            cnt += np.asarray(r.cnt, np.int64)
            enc_last = np.maximum(enc_last, np.asarray(r.enc_last, np.int64))
            vmin = np.minimum(vmin, np.asarray(r.v_min, np.int64))
            vmax = np.maximum(vmax, np.asarray(r.v_max, np.int64))
        covered = np.nonzero(cnt > 0)[0]
        return pd.DataFrame({
            "px": covered % npx,
            "py": covered // npx,
            "n_imgs": cnt[covered],
            "v_last": enc_last[covered] % _ENC_LAST,
            "v_min": vmin[covered],
            "v_max": vmax[covered],
        })

    return cand.mapInPandas(
        mosaic_thresh_window_partials, schema=_THRESH_PARTIAL_SCHEMA) \
        .groupBy("window_id").applyInPandas(merge, schema=_THRESH_OUT_SCHEMA)


_TREND_PARTIAL_SCHEMA = StructType([
    StructField("window_id", LongType()),
    StructField("n", ArrayType(LongType())),
    StructField("st", ArrayType(LongType())),
    StructField("stt", ArrayType(LongType())),
    StructField("sv", ArrayType(LongType())),
    StructField("stv", ArrayType(LongType())),
])

_TREND_OUT_SCHEMA = StructType([
    StructField("px", LongType()),
    StructField("py", LongType()),
    StructField("n_imgs", LongType()),
    StructField("slope", DoubleType()),
    StructField("intercept", DoubleType()),
])


def pixel_trend_window(images: DataFrame, x0: float, y0: float,
                       npx: int, npy: int, res: float) -> DataFrame:
    """Per-pixel least-squares trend v ~ a + b*t across the image stack.

    The reference's per-pixel regression family (``image_pixel_linear_fit``,
    python/src/imagecalc.cpp method table; ``timeseries.modelfitting``)
    with t = image ``id`` (the stack's time axis).  All five sufficient
    statistics accumulate as exact int64 per output pixel (the same
    batch-partial/final-merge shape as the mosaic); slope/intercept are
    two final IEEE divisions — bit-stable under any partitioning.
    Pixels seen by >= 2 images get a fit; others drop.
    """
    xw, yh = x0 + npx * res, y0 + npy * res
    cand = images.where(
        (F.col("xmax") > F.lit(x0)) & (F.col("xmin") < F.lit(xw))
        & (F.col("ymax") > F.lit(y0)) & (F.col("ymin") < F.lit(yh))
    ).select(*_CAND_COLS)

    cxs = x0 + (np.arange(npx, dtype=np.float64) + 0.5) * res
    cys = y0 + (np.arange(npy, dtype=np.float64) + 0.5) * res

    def mosaic_pixel_trend_window_partials(it):
        for pdf in it:
            size = npx * npy
            acc = {k: np.zeros(size, np.int64)
                   for k in ("n", "st", "stt", "sv", "stv")}
            a2 = {k: v.reshape(npy, npx) for k, v in acc.items()}
            for iid, arr, sel_y, sel_x, sy, sx in _window_hits(
                    pdf, cxs, cys, res):
                v = arr[np.ix_(sy, sx)].astype(np.int64)
                t = np.int64(iid)
                ix = np.ix_(sel_y, sel_x)
                a2["n"][ix] += 1
                a2["st"][ix] += t
                a2["stt"][ix] += t * t
                a2["sv"][ix] += v
                a2["stv"][ix] += t * v
            yield pd.DataFrame({"window_id": [0],
                                **{k: [acc[k]] for k in acc}})

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        size = npx * npy
        tot = {k: np.zeros(size, np.int64)
               for k in ("n", "st", "stt", "sv", "stv")}
        for r in pdf.itertuples(index=False):
            for k in tot:
                tot[k] += np.asarray(getattr(r, k), np.int64)
        ok = np.nonzero(tot["n"] >= 2)[0]
        n = tot["n"][ok].astype(np.float64)
        st = tot["st"][ok].astype(np.float64)
        stt = tot["stt"][ok].astype(np.float64)
        sv = tot["sv"][ok].astype(np.float64)
        stv = tot["stv"][ok].astype(np.float64)
        num = (tot["n"][ok] * tot["stv"][ok]
               - tot["st"][ok] * tot["sv"][ok]).astype(np.float64)
        den = (tot["n"][ok] * tot["stt"][ok]
               - tot["st"][ok] * tot["st"][ok]).astype(np.float64)
        slope = num / den
        intercept = (sv - slope * st) / n
        return pd.DataFrame({
            "px": ok % npx, "py": ok // npx, "n_imgs": tot["n"][ok],
            "slope": slope, "intercept": intercept,
        })

    return cand.mapInPandas(
        mosaic_pixel_trend_window_partials, schema=_TREND_PARTIAL_SCHEMA) \
        .groupBy("window_id").applyInPandas(merge, schema=_TREND_OUT_SCHEMA)


_CMI_PARTIAL_SCHEMA = StructType([
    StructField("window_id", LongType()),
    StructField("cnt", ArrayType(LongType())),
    StructField("enc", ArrayType(LongType())),
])

_CMI_OUT_SCHEMA = StructType([
    StructField("px", LongType()),
    StructField("py", LongType()),
    StructField("n_imgs", LongType()),
    StructField("best_idx", LongType()),
    StructField("best_id", LongType()),
    StructField("best_v", LongType()),
])

#: composite encoding limits: |index| < 2^21, id < 2^21, v < 2^11
_CMI_IDX_OFF = 1 << 21
_CMI_ID_SHIFT = 1 << 32
_CMI_V_SHIFT = 1 << 11


def composite_max_index_window(images: DataFrame, x0: float, y0: float,
                               npx: int, npy: int, res: float) -> DataFrame:
    """Max-index composite: per output pixel, keep the source pixel whose
    NDVI-shaped index is largest (ties -> larger image id), in ONE pass.

    The reference's two-stage pipeline — ``get_img_idx_for_stat`` to
    build the index raster, then ``create_ref_img_composite_img`` to
    gather pixels by it (python/src/imageutils.cpp method table; the
    classic max-NDVI compositing workflow) — fuses into a single
    order-encoded max:

        enc = (idx + 2^21) * 2^32 + id * 2^11 + v

    which is associative/commutative, so partials merge exactly like
    :func:`mosaic_window`'s.  Index = ``floor((b2-b1)*1e6/(b2+b1+1))``
    (|idx| <= 1e6 < 2^21; b2 = mirrored plane — the engine's standing
    two-band stand-in, see imagemath.index_scaled_stats).
    Encoding limits: ~2M distinct image ids and 11-bit pixel values;
    beyond that, widen to a struct max (documented, not needed here).
    """
    xw, yh = x0 + npx * res, y0 + npy * res
    cand = images.where(
        (F.col("xmax") > F.lit(x0)) & (F.col("xmin") < F.lit(xw))
        & (F.col("ymax") > F.lit(y0)) & (F.col("ymin") < F.lit(yh))
    ).select(*_CAND_COLS)

    cxs = x0 + (np.arange(npx, dtype=np.float64) + 0.5) * res
    cys = y0 + (np.arange(npy, dtype=np.float64) + 0.5) * res

    def mosaic_composite_max_index_window_partials(it):
        for pdf in it:
            n = npx * npy
            cnt = np.zeros(n, np.int64)
            enc = np.full(n, -1, np.int64)
            c2 = cnt.reshape(npy, npx)
            e2 = enc.reshape(npy, npx)
            for iid, arr, sel_y, sel_x, sy, sx in _window_hits(
                    pdf, cxs, cys, res):
                b1 = arr.astype(np.int64)
                b2 = b1[:, ::-1]
                idx_plane = np.floor(
                    (b2 - b1) * 1000000.0 / (b2 + b1 + 1)).astype(np.int64)
                v = b1[np.ix_(sy, sx)]
                ix_v = idx_plane[np.ix_(sy, sx)]
                e_new = ((ix_v + _CMI_IDX_OFF) * _CMI_ID_SHIFT
                         + iid * _CMI_V_SHIFT + v)
                ix = np.ix_(sel_y, sel_x)
                c2[ix] += 1
                e2[ix] = np.maximum(e2[ix], e_new)
            yield pd.DataFrame({"window_id": [0], "cnt": [cnt],
                                "enc": [enc]})

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        n = npx * npy
        cnt = np.zeros(n, np.int64)
        enc = np.full(n, -1, np.int64)
        for r in pdf.itertuples(index=False):
            cnt += np.asarray(r.cnt, np.int64)
            enc = np.maximum(enc, np.asarray(r.enc, np.int64))
        covered = np.nonzero(cnt > 0)[0]
        e = enc[covered]
        return pd.DataFrame({
            "px": covered % npx,
            "py": covered // npx,
            "n_imgs": cnt[covered],
            "best_idx": e // _CMI_ID_SHIFT - _CMI_IDX_OFF,
            "best_id": (e % _CMI_ID_SHIFT) // _CMI_V_SHIFT,
            "best_v": e % _CMI_V_SHIFT,
        })

    return cand.mapInPandas(
        mosaic_composite_max_index_window_partials,
        schema=_CMI_PARTIAL_SCHEMA) \
        .groupBy("window_id").applyInPandas(merge, schema=_CMI_OUT_SCHEMA)


_MODE_PARTIAL_SCHEMA = StructType([
    StructField("code", LongType()),     # flat_pixel * 2048 + value
    StructField("cnt", LongType()),
])

_MODE_OUT_SCHEMA = ["px", "py", "n_imgs", "mode_v"]


def mosaic_mode_window(images: DataFrame, x0: float, y0: float,
                       npx: int, npy: int, res: float) -> DataFrame:
    """Per-pixel MODE across overlapping images (``calc_imgs_pxl_mode``).

    Reference: imagecalc/__init__.py:966 (scipy mode across stacked
    arrays — ties resolve to the smallest value).  Mode needs per-pixel
    value counts, so each Arrow batch pre-aggregates its images into
    sparse ``(pixel, value) -> count`` partials (np.unique — one row per
    distinct pair per batch, NOT per pixel-sample); Catalyst sums the
    partials and an order-encoding max picks the mode:

        argmax(count, tie -> min value) = max(cnt * 2048 + (2047 - v))
    """
    xw, yh = x0 + npx * res, y0 + npy * res
    cand = images.where(
        (F.col("xmax") > F.lit(x0)) & (F.col("xmin") < F.lit(xw))
        & (F.col("ymax") > F.lit(y0)) & (F.col("ymin") < F.lit(yh))
    ).select(*_CAND_COLS)

    cxs = x0 + (np.arange(npx, dtype=np.float64) + 0.5) * res
    cys = y0 + (np.arange(npy, dtype=np.float64) + 0.5) * res

    def mosaic_mode_window_partials(it):
        for pdf in it:
            codes = []
            for iid, arr, sel_y, sel_x, sy, sx in _window_hits(
                    pdf, cxs, cys, res):
                v = arr[np.ix_(sy, sx)].astype(np.int64)
                flat = (sel_y[:, None] * npx + sel_x[None, :]).astype(np.int64)
                codes.append((flat * 2048 + v).ravel())
            if codes:
                uniq, cnt = np.unique(np.concatenate(codes),
                                      return_counts=True)
                yield pd.DataFrame({"code": uniq,
                                    "cnt": cnt.astype(np.int64)})
            else:
                yield pd.DataFrame({"code": np.zeros(0, np.int64),
                                    "cnt": np.zeros(0, np.int64)})

    counts = (
        cand.mapInPandas(mosaic_mode_window_partials,
                         schema=_MODE_PARTIAL_SCHEMA)
        .groupBy("code").agg(F.sum("cnt").alias("n"))
        .withColumn("flat", (F.col("code") / 2048).cast("long"))
        .withColumn("v", F.col("code") % 2048)
    )
    return (
        counts.groupBy("flat")
        .agg(F.sum("n").alias("n_imgs"),
             F.max(F.col("n") * 2048 + (F.lit(2047) - F.col("v")))
             .alias("_enc"))
        .select((F.col("flat") % npx).alias("px"),
                (F.col("flat") / npx).cast("long").alias("py"),
                "n_imgs",
                (F.lit(2047) - F.pmod(F.col("_enc"), F.lit(2048)))
                .alias("mode_v"))
    )


_CNW_PARTIAL_SCHEMA = StructType([
    StructField("window_id", LongType()),
    StructField("cnt", ArrayType(LongType())),
    StructField("votes", ArrayType(LongType())),
    StructField("encv", ArrayType(LongType())),
    StructField("encw", ArrayType(LongType())),
])

_CNW_OUT_SCHEMA = ("px long, py long, n_imgs long, lw_mask long, "
                   "best_idx long, best_id long, best_v long")


def composite_ndvi_ndwi_window(images: DataFrame, x0: float, y0: float,
                               npx: int, npy: int, res: float) -> DataFrame:
    """imageutils.imagecomp.create_max_ndvi_ndwi_composite
    (imagecomp.py:212): per output pixel, the source pixel with the
    max NDVI over LAND and max NDWI over WATER, plus the land/water
    mask (0 nodata / 1 land / 2 water) combined across images with the
    MODE (use_mode=True; binary mode = majority, tie -> land).

    Engine shape: the same one-pass order-encoded max as
    :func:`composite_max_index_window`, with THREE associative
    accumulators per pixel — max NDVI encoding, max NDWI encoding and
    the water vote count (NDWI > 0 per source image).  Band stand-ins:
    red = plane, nir = horizontal mirror, green = vertical flip (the
    indices-family convention)."""
    xw, yh = x0 + npx * res, y0 + npy * res
    cand = images.where(
        (F.col("xmax") > F.lit(x0)) & (F.col("xmin") < F.lit(xw))
        & (F.col("ymax") > F.lit(y0)) & (F.col("ymin") < F.lit(yh))
    ).select(*_CAND_COLS)

    cxs = x0 + (np.arange(npx, dtype=np.float64) + 0.5) * res
    cys = y0 + (np.arange(npy, dtype=np.float64) + 0.5) * res

    def mosaic_composite_ndvi_ndwi_window_partials(it):
        for pdf in it:
            n = npx * npy
            cnt = np.zeros(n, np.int64)
            votes = np.zeros(n, np.int64)
            encv = np.full(n, -1, np.int64)
            encw = np.full(n, -1, np.int64)
            c2 = cnt.reshape(npy, npx)
            t2 = votes.reshape(npy, npx)
            ev2 = encv.reshape(npy, npx)
            ew2 = encw.reshape(npy, npx)
            for iid, arr, sel_y, sel_x, sy, sx in _window_hits(
                    pdf, cxs, cys, res):
                red = arr.astype(np.int64)
                nir = red[:, ::-1]
                green = red[::-1, :]
                ndvi = np.floor((nir - red) * 1000000.0
                                / (nir + red + 1)).astype(np.int64)
                ndwi = np.floor((green - nir) * 1000000.0
                                / (green + nir + 1)).astype(np.int64)
                pick = np.ix_(sy, sx)
                v = red[pick]
                ev_new = ((ndvi[pick] + _CMI_IDX_OFF) * _CMI_ID_SHIFT
                          + iid * _CMI_V_SHIFT + v)
                ew_new = ((ndwi[pick] + _CMI_IDX_OFF) * _CMI_ID_SHIFT
                          + iid * _CMI_V_SHIFT + v)
                ix = np.ix_(sel_y, sel_x)
                c2[ix] += 1
                t2[ix] += (ndwi[pick] > 0).astype(np.int64)
                ev2[ix] = np.maximum(ev2[ix], ev_new)
                ew2[ix] = np.maximum(ew2[ix], ew_new)
            yield pd.DataFrame({"window_id": [0], "cnt": [cnt],
                                "votes": [votes], "encv": [encv],
                                "encw": [encw]})

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        n = npx * npy
        cnt = np.zeros(n, np.int64)
        votes = np.zeros(n, np.int64)
        encv = np.full(n, -1, np.int64)
        encw = np.full(n, -1, np.int64)
        for r in pdf.itertuples(index=False):
            cnt += np.asarray(r.cnt, np.int64)
            votes += np.asarray(r.votes, np.int64)
            encv = np.maximum(encv, np.asarray(r.encv, np.int64))
            encw = np.maximum(encw, np.asarray(r.encw, np.int64))
        covered = np.nonzero(cnt > 0)[0]
        water = 2 * votes[covered] > cnt[covered]
        e = np.where(water, encw[covered], encv[covered])
        return pd.DataFrame({
            "px": covered % npx,
            "py": covered // npx,
            "n_imgs": cnt[covered],
            "lw_mask": np.where(water, 2, 1).astype(np.int64),
            "best_idx": e // _CMI_ID_SHIFT - _CMI_IDX_OFF,
            "best_id": (e % _CMI_ID_SHIFT) // _CMI_V_SHIFT,
            "best_v": e % _CMI_V_SHIFT,
        })

    return cand.mapInPandas(
        mosaic_composite_ndvi_ndwi_window_partials,
        schema=_CNW_PARTIAL_SCHEMA) \
        .groupBy("window_id").applyInPandas(merge, schema=_CNW_OUT_SCHEMA)
