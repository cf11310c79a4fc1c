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
2. a single tiny ``applyInArrow`` merge folds the <=#partitions partials.

Every behaviour is a plain max/min or a lexicographic max over a tuple
of int64 fields, so every merge is associative, commutative and
partition-order independent, and no pixel value or image id has an
encoding limit:

    last-wins  : max((id, v))              (input order = id)
    keep-min   : min(v)
    keep-max   : max((v, id))[0]
    argmax idx : max((v, id))[1]           (value first, id tiebreak)

At cluster scale the output window is tiled (one accumulator per output
tile — the ``groupBy(tile_id)`` in SURVEY.md §2.4) so no single reducer
holds the whole mosaic; the window here is one tile of that scheme.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StructField,
                               StructType)

from ..functions import codec
from ..functions.groupmode import pair_counts

__all__ = ["mosaic_window", "mosaic_thresh_window", "mosaic_mode_window",
           "composite_max_index_window", "pixel_trend_window"]

_BIG = np.iinfo(np.int64).max
_LOW = np.iinfo(np.int64).min
#: the fields of a composite's ``(idx, id, v)`` winner
_BEST = ("best_idx", "best_id", "best_v")

#: columns of a candidate image: the payload plus its id and bbox
_CAND_COLS = codec.IMAGE_COLS + ("id", "xmin", "xmax", "ymin", "ymax")


def _schema(*fields) -> StructType:
    """``(name, type)`` pairs -> StructType; a bare name is a long."""
    return StructType([StructField(*f) if isinstance(f, tuple)
                       else StructField(f, LongType()) for f in fields])


def _window_images(images, x0, y0, npx, npy, res):
    """``(images, hits)``: the images overlapping the output window
    (bbox pushdown, before any decode), and ``hits(batch)`` yielding
    ``(id, plane, ix, pick)`` for each image of an Arrow batch that
    covers an output pixel centre: ``plane[pick]`` are the nearest
    source pixels, on the image's own grid, of the output cells
    ``[ix]``."""
    xw, yh = x0 + npx * res, y0 + npy * res
    cand = images.where(
        (F.col("xmax") > F.lit(x0)) & (F.col("xmin") < F.lit(xw))
        & (F.col("ymax") > F.lit(y0)) & (F.col("ymin") < F.lit(yh))
    ).select(*_CAND_COLS)
    cxs = x0 + (np.arange(npx, dtype=np.float64) + 0.5) * res
    cys = y0 + (np.arange(npy, dtype=np.float64) + 0.5) * res

    def hits(batch):
        for _, arr, iid, xmin, xmax, ymin, ymax in codec.planes(
                batch, "id", "xmin", "xmax", "ymin", "ymax"):
            sel_x = np.nonzero((cxs >= xmin) & (cxs < xmax))[0]
            sel_y = np.nonzero((cys > ymin) & (cys <= ymax))[0]
            if sel_x.size == 0 or sel_y.size == 0:
                continue
            h, w = arr.shape
            sx = np.minimum(np.floor((cxs[sel_x] - xmin) / res)
                            .astype(np.int64), w - 1)
            sy = np.minimum(np.floor((ymax - cys[sel_y]) / res)
                            .astype(np.int64), h - 1)
            yield int(iid), arr, np.ix_(sel_y, sel_x), np.ix_(sy, sx)

    return cand, hits


def _lexmax(a, b):
    """Lexicographic max of two field stacks, per element: ``a`` is an
    ``(nfields, ...)`` int64 array, ``b`` that many arrays or scalars;
    where ``b`` is larger on the first field that differs, every field
    comes from ``b``."""
    win = np.zeros(a.shape[1:], dtype=bool)
    tie = np.ones(a.shape[1:], dtype=bool)
    for x, y in zip(a, b):
        win |= tie & (y > x)
        tie &= y == x
    return np.stack([np.where(win, y, x) for x, y in zip(a, b)])


def _keep_max(acc, ix, *fields):
    """Fold one image's ``fields`` into the tuple accumulator ``acc`` at
    the output cells ``ix``."""
    at = (slice(None), *ix)
    acc[at] = _lexmax(acc[at], fields)


def _composite(images, x0, y0, npx, npy, res, accs, update, finish,
               out_schema):
    """The window composite plan shared by every mosaic but the mode.

    ``accs`` maps each int64 per-pixel accumulator to ``(fill, fold)``,
    where ``fold`` is associative and commutative: ``np.add``,
    ``np.maximum`` or ``np.minimum`` for a scalar fill, :func:`_lexmax`
    for a tuple fill, whose accumulator holds one ``(npx * npy)`` array
    per field, stacked.  Each Arrow batch starts from the fills, calls
    ``update(acc, iid, plane, ix, pick)`` per image hit (``acc`` holds
    ``(npy, npx)`` views, after the field axis of a tuple accumulator)
    and yields ONE partial row; one grouped ``applyInArrow`` folds the
    partials the same way and returns ``finish(tot)``, a dict of
    ``out_schema`` columns.  The Arrow stage is named
    ``mosaic_<update>_partials``."""
    cand, hits = _window_images(images, x0, y0, npx, npy, res)
    n = npx * npy
    partial_schema = _schema(
        "window_id", *((k, ArrayType(LongType())) for k in accs))

    def fresh():
        return {k: np.repeat(np.asarray(fill, np.int64)[..., None], n, -1)
                for k, (fill, _) in accs.items()}

    def partials(batches):
        for batch in batches:
            acc = fresh()
            views = {k: v.reshape(*v.shape[:-1], npy, npx)
                     for k, v in acc.items()}
            for hit in hits(batch):
                update(views, *hit)
            yield codec.to_batch(
                {"window_id": [0],
                 **{k: [v.ravel()] for k, v in acc.items()}},
                partial_schema)

    def merge(table):
        tot = fresh()
        for k, (_, fold) in accs.items():
            for part in table.column(k).to_numpy(zero_copy_only=False):
                tot[k] = fold(tot[k], part.reshape(tot[k].shape))
        return codec.to_table(finish(tot), out_schema)

    partials.__name__ = partials.__qualname__ = \
        f"mosaic_{update.__name__}_partials"
    return cand.mapInArrow(partials, schema=partial_schema) \
        .groupBy("window_id").applyInArrow(merge, schema=out_schema)


def _pixels(covered, npx, cnt):
    """The (px, py, n_imgs) columns of the ``covered`` flat pixels."""
    return {"px": covered % npx, "py": covered // npx,
            "n_imgs": cnt[covered]}


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

    def window(acc, iid, arr, ix, pick):
        v = arr[pick].astype(np.int64)
        acc["cnt"][ix] += 1
        _keep_max(acc["last"], ix, iid, v)
        acc["v_min"][ix] = np.minimum(acc["v_min"][ix], v)
        _keep_max(acc["top"], ix, v, iid)

    def finish(tot):
        covered = np.nonzero(tot["cnt"] > 0)[0]
        return {**_pixels(covered, npx, tot["cnt"]),
                "v_last": tot["last"][1, covered],
                "v_min": tot["v_min"][covered],
                "v_max": tot["top"][0, covered],
                "idx_max": tot["top"][1, covered]}

    accs = {"cnt": (0, np.add), "last": ((_LOW, _LOW), _lexmax),
            "v_min": (_BIG, np.minimum), "top": ((_LOW, _LOW), _lexmax)}
    return _composite(images, x0, y0, npx, npy, res, accs, window, finish,
                      _schema("px", "py", "n_imgs", "v_last", "v_min",
                              "v_max", "idx_max"))


def mosaic_thresh_window(images: DataFrame, x0: float, y0: float,
                         npx: int, npy: int, res: float,
                         lower: float, upper: float) -> DataFrame:
    """``mosaicSkipThresh``: composite ONLY pixels inside a validity
    window.

    Reference: src/img/RSGISImageMosaic.cpp:627-735 — a source pixel
    contributes iff ``lower < v < upper`` (STRICT both sides, :772);
    within the valid set the overlap behaviours are the usual 0/1/2
    (last-wins / min / max), all resolved here in one pass with the
    same lexicographic-max partials as :func:`mosaic_window`.
    Output pixels with no valid contribution are absent (the reference
    leaves the background value there).
    """

    def thresh_window(acc, iid, arr, ix, pick):
        v = arr[pick].astype(np.int64)
        ok = (v > lower) & (v < upper)   # strict, the reference rule
        acc["cnt"][ix] += ok
        _keep_max(acc["last"], ix, np.where(ok, iid, _LOW),
                  np.where(ok, v, _LOW))
        acc["v_min"][ix] = np.minimum(acc["v_min"][ix],
                                      np.where(ok, v, _BIG))
        acc["v_max"][ix] = np.maximum(acc["v_max"][ix],
                                      np.where(ok, v, -1))

    def finish(tot):
        covered = np.nonzero(tot["cnt"] > 0)[0]
        return {**_pixels(covered, npx, tot["cnt"]),
                "v_last": tot["last"][1, covered],
                "v_min": tot["v_min"][covered],
                "v_max": tot["v_max"][covered]}

    accs = {"cnt": (0, np.add), "last": ((_LOW, _LOW), _lexmax),
            "v_min": (_BIG, np.minimum), "v_max": (-1, np.maximum)}
    return _composite(images, x0, y0, npx, npy, res, accs, thresh_window,
                      finish, _schema("px", "py", "n_imgs", "v_last",
                                      "v_min", "v_max"))


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

    def pixel_trend_window(acc, iid, arr, ix, pick):
        v = arr[pick].astype(np.int64)
        t = np.int64(iid)
        acc["n"][ix] += 1
        acc["st"][ix] += t
        acc["stt"][ix] += t * t
        acc["sv"][ix] += v
        acc["stv"][ix] += t * v

    def finish(tot):
        ok = np.nonzero(tot["n"] >= 2)[0]
        n = tot["n"][ok].astype(np.float64)
        st = tot["st"][ok].astype(np.float64)
        sv = tot["sv"][ok].astype(np.float64)
        num = (tot["n"][ok] * tot["stv"][ok]
               - tot["st"][ok] * tot["sv"][ok]).astype(np.float64)
        den = (tot["n"][ok] * tot["stt"][ok]
               - tot["st"][ok] * tot["st"][ok]).astype(np.float64)
        slope = num / den
        intercept = (sv - slope * st) / n
        return {**_pixels(ok, npx, tot["n"]),
                "slope": slope, "intercept": intercept}

    accs = {k: (0, np.add) for k in ("n", "st", "stt", "sv", "stv")}
    return _composite(images, x0, y0, npx, npy, res, accs,
                      pixel_trend_window, finish,
                      _schema("px", "py", "n_imgs", ("slope", DoubleType()),
                              ("intercept", DoubleType())))


def composite_max_index_window(images: DataFrame, x0: float, y0: float,
                               npx: int, npy: int, res: float) -> DataFrame:
    """Max-index composite: per output pixel, keep the source pixel whose
    NDVI-shaped index is largest (ties -> larger image id), in ONE pass.

    The reference's two-stage pipeline — ``get_img_idx_for_stat`` to
    build the index raster, then ``create_ref_img_composite_img`` to
    gather pixels by it (python/src/imageutils.cpp method table; the
    classic max-NDVI compositing workflow) — fuses into a single
    lexicographic max over ``(idx, id, v)``, which is associative and
    commutative, so partials merge exactly like :func:`mosaic_window`'s.
    Index = ``floor((b2-b1)*1e6/(b2+b1+1))`` (b2 = mirrored plane — the
    engine's standing two-band stand-in, see
    imagemath.index_scaled_stats).
    """

    def composite_max_index_window(acc, iid, arr, ix, pick):
        b1 = arr.astype(np.int64)
        b2 = b1[:, ::-1]
        idx_plane = np.floor(
            (b2 - b1) * 1000000.0 / (b2 + b1 + 1)).astype(np.int64)
        acc["cnt"][ix] += 1
        _keep_max(acc["best"], ix, idx_plane[pick], iid, b1[pick])

    def finish(tot):
        covered = np.nonzero(tot["cnt"] > 0)[0]
        return {**_pixels(covered, npx, tot["cnt"]),
                **dict(zip(_BEST, tot["best"][:, covered]))}

    accs = {"cnt": (0, np.add), "best": ((_LOW,) * 3, _lexmax)}
    return _composite(images, x0, y0, npx, npy, res, accs,
                      composite_max_index_window, finish,
                      _schema("px", "py", "n_imgs", *_BEST))


_MODE_PARTIAL_SCHEMA = _schema("flat", "v", "cnt")


def mosaic_mode_window(images: DataFrame, x0: float, y0: float,
                       npx: int, npy: int, res: float) -> DataFrame:
    """Per-pixel MODE across overlapping images (``calc_imgs_pxl_mode``).

    Reference: imagecalc/__init__.py:966 (scipy mode across stacked
    arrays — ties resolve to the smallest value).  Mode needs per-pixel
    value counts, so each Arrow batch pre-aggregates its images into
    sparse ``(pixel, value) -> count`` partials (``pair_counts`` — one
    row per distinct pair per batch, NOT per pixel-sample); Catalyst
    sums the partials and the struct max ``max((count, -v))`` picks the
    mode, the smallest value on count ties (as ``utm_zone_mode``).
    """
    cand, hits = _window_images(images, x0, y0, npx, npy, res)

    def mosaic_mode_window_partials(batches):
        for batch in batches:
            flats, vals = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
            for _, arr, (sel_y, sel_x), pick in hits(batch):
                flats.append((sel_y * npx + sel_x).ravel())
                vals.append(arr[pick].astype(np.int64).ravel())
            flat, v, cnt = pair_counts(np.concatenate(flats),
                                       np.concatenate(vals))
            yield codec.to_batch({"flat": flat, "v": v, "cnt": cnt},
                                 _MODE_PARTIAL_SCHEMA)

    counts = cand.mapInArrow(mosaic_mode_window_partials,
                             schema=_MODE_PARTIAL_SCHEMA) \
        .groupBy("flat", "v").agg(F.sum("cnt").alias("n"))
    return (
        counts.groupBy("flat")
        .agg(F.sum("n").alias("n_imgs"),
             F.max(F.struct("n", (-F.col("v")).alias("nv"))).alias("b"))
        .select((F.col("flat") % npx).alias("px"),
                (F.col("flat") / npx).cast("long").alias("py"),
                "n_imgs", (-F.col("b.nv")).alias("mode_v"))
    )


def composite_ndvi_ndwi_window(images: DataFrame, x0: float, y0: float,
                               npx: int, npy: int, res: float) -> DataFrame:
    """imageutils.imagecomp.create_max_ndvi_ndwi_composite
    (imagecomp.py:212): per output pixel, the source pixel with the
    max NDVI over LAND and max NDWI over WATER, plus the land/water
    mask (0 nodata / 1 land / 2 water) combined across images with the
    MODE (use_mode=True; binary mode = majority, tie -> land).

    Engine shape: the same one-pass lexicographic max as
    :func:`composite_max_index_window`, with THREE associative
    accumulators per pixel — the ``(ndvi, id, v)`` and ``(ndwi, id, v)``
    winners and the water vote count (NDWI > 0 per source image).  Band
    stand-ins: red = plane, nir = horizontal mirror, green = vertical
    flip (the indices-family convention)."""

    def composite_ndvi_ndwi_window(acc, iid, arr, ix, pick):
        red = arr.astype(np.int64)
        nir = red[:, ::-1]
        green = red[::-1, :]
        ndvi = np.floor((nir - red) * 1000000.0
                        / (nir + red + 1)).astype(np.int64)
        ndwi = np.floor((green - nir) * 1000000.0
                        / (green + nir + 1)).astype(np.int64)
        v = red[pick]
        acc["cnt"][ix] += 1
        acc["votes"][ix] += (ndwi[pick] > 0).astype(np.int64)
        _keep_max(acc["ndvi"], ix, ndvi[pick], iid, v)
        _keep_max(acc["ndwi"], ix, ndwi[pick], iid, v)

    def finish(tot):
        covered = np.nonzero(tot["cnt"] > 0)[0]
        cnt = tot["cnt"]
        water = 2 * tot["votes"][covered] > cnt[covered]
        best = np.where(water, tot["ndwi"][:, covered],
                        tot["ndvi"][:, covered])
        return {**_pixels(covered, npx, cnt),
                "lw_mask": np.where(water, 2, 1).astype(np.int64),
                **dict(zip(_BEST, best))}

    accs = {"cnt": (0, np.add), "votes": (0, np.add),
            "ndvi": ((_LOW,) * 3, _lexmax), "ndwi": ((_LOW,) * 3, _lexmax)}
    return _composite(images, x0, y0, npx, npy, res, accs,
                      composite_ndvi_ndwi_window, finish,
                      _schema("px", "py", "n_imgs", "lw_mask", *_BEST))
