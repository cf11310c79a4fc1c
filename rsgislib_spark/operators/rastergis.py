"""Raster attribute table (RAT) operators over clumped rasters.

The reference's ``rastergis`` subpackage maintains a columnar attribute
table keyed by clump (segment) id inside the raster and populates it
from pixel data:

* ``find_neighbours`` — per clump, the list of DISTINCT clump ids
  adjacent in the 4-neighbourhood (reference
  python/src/rastergis.cpp:1907; kernel
  src/rastergis/RSGISFindClumpNeighbours.cpp:331-585 reads the
  left/up/right/down window cells and appends unseen ids).
* ``populate_rat_with_mode`` — per-clump modal pixel value of an
  integer band (python/src/rastergis.cpp:488; "only makes sense if the
  input pixel values are integers").  Ties resolve to the SMALLEST
  value (the reference scans an ascending-value histogram and keeps
  the first maximum).
* ``populate_rat_with_percentiles`` — per-clump percentiles of a band
  (python/src/rastergis.cpp:352).  The reference approximates via an
  ``n_hist_bins`` histogram; here each clump's integer pixel values are
  sorted, so the percentile is the exact nearest-rank one (rank =
  ceil(p/100 * n), 1-based) — the binned value at full value
  resolution, for any pixel value.
* ``collapse_rat`` — re-key SELECTED rows to consecutive ids
  (python/src/rastergis.cpp:1214): rows passing ``select_col`` keep
  their relative order but get dense new ids 1..k.

The reference's clump image is a SEGMENTATION output (every pixel
carries a segment id and 4-adjacent segments differ — e.g.
``segmentation.shepherdseg`` then ``clump``): under plain binary-mask
4-connected labeling two distinct components can never be 4-adjacent,
so neighbour/merge operators would be vacuously empty.  This engine
reproduces the segmentation shape deterministically: quantize the
pixel value (``value // quant``) and label the 4-connected
EQUAL-VALUE regions (``_label_regions``) — every pixel is labeled,
region ids are dense in ascending first-pixel order, and adjacent
regions differ by construction, exactly the lattice
``RSGISFindClumpNeighbours`` walks.

Spark-first shape: clumping is per-image (the image is the natural
partition unit — see operators/rasterize.py), so the WHOLE enriched RAT
is built in ONE ``mapInArrow`` pass: label once, then compute sizes,
bboxes, mode, percentiles and the neighbour aggregates with vectorized
numpy on the labeled plane.  No pixel ever enters a shuffle; the output
is one small row per clump.  ``collapse_rat`` is pure Catalyst (window
``row_number`` over the RAT rows).

At 100 TB the pass is embarrassingly parallel over images; the only
wide exchange any consumer pays is over per-clump rows (~10^3 fewer
than pixels).  Cross-tile images would need a seam merge of per-tile
labels first (the scale note in ``operators.rasterize``), then the same
per-clump math.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from .. import synth
from ..functions import codec
from ..functions.groupmode import group_mode

__all__ = ["rat_table", "collapse_rat", "merge_small_clumps",
           "clump_geo_stats", "clump_border_stats", "clump_cat_stats",
           "clump_cat_majority", "rel_diff_neigh_stats",
           "clump_meanlit_stats", "dist_to_large_clumps",
           "clump_tile_positions", "find_change_clumps",
           "select_clumps_on_grid"]

_RAT_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("mode_val", LongType()),
    StructField("p25", LongType()),
    StructField("p50", LongType()),
    StructField("p75", LongType()),
    StructField("n_neigh", LongType()),
    StructField("min_neigh", LongType()),
    StructField("max_neigh", LongType()),
])


def _clump_percentiles(ls: np.ndarray, vs: np.ndarray, n: int,
                       pcts=(25, 50, 75)) -> list[np.ndarray]:
    """Nearest-rank percentiles per clump: rank = ceil(p*n/100), 1-based."""
    order = np.lexsort((vs, ls))
    sv = vs[order]
    counts = np.bincount(ls, minlength=n + 1)[1:]
    offs = np.concatenate(([0], np.cumsum(counts)))
    out = []
    for p in pcts:
        rank = (counts * p + 99) // 100          # ceil, integer-exact
        idx = offs[:-1] + np.maximum(rank, 1) - 1
        out.append(sv[idx].astype(np.int64))
    return out


def _clump_neighbours(lab: np.ndarray, n: int):
    """4-neighbourhood distinct-neighbour aggregates per clump.

    Returns (n_neigh, min_neigh, max_neigh) arrays indexed 1..n; clumps
    with no neighbour report (0, 0, 0).  Mirrors
    RSGISFindClumpNeighbours.cpp:331 (left/up/right/down cells, id > 0,
    id != own) — symmetric, so one direction + mirroring suffices.
    """
    pa, pb = [], []
    a, b = lab[:, :-1], lab[:, 1:]
    sel = (a > 0) & (b > 0) & (a != b)
    pa.append(a[sel]); pb.append(b[sel])
    a, b = lab[:-1, :], lab[1:, :]
    sel = (a > 0) & (b > 0) & (a != b)
    pa.append(a[sel]); pb.append(b[sel])
    if not any(x.size for x in pa):
        z = np.zeros(n + 1, dtype=np.int64)
        return z.copy(), z.copy(), z.copy()
    fa = np.concatenate(pa + pb)
    fb = np.concatenate(pb + pa)
    code = np.unique(fa.astype(np.int64) * (n + 1) + fb)
    na, nb = code // (n + 1), code % (n + 1)
    n_neigh = np.bincount(na, minlength=n + 1)
    mn = np.zeros(n + 1, dtype=np.int64)
    mx = np.zeros(n + 1, dtype=np.int64)
    np.maximum.at(mx, na, nb)
    big = np.int64(1) << 60
    mn_tmp = np.full(n + 1, big, dtype=np.int64)
    np.minimum.at(mn_tmp, na, nb)
    mn[mn_tmp < big] = mn_tmp[mn_tmp < big]
    return n_neigh.astype(np.int64), mn, mx


def _label_regions(q: np.ndarray) -> np.ndarray:
    """4-connected labels of EQUAL-VALUE regions (segmentation lattice).

    Every pixel is labeled (no background); two 4-adjacent pixels share
    a label iff they hold the same quantized value.  Deterministic dense
    ids: regions are ranked by their minimum flat pixel index, the same
    convergence point ``label_components``' min-propagation reaches —
    so a SQL pointer-doubling oracle restricted to equal-value edges
    reproduces the ids bit-for-bit.
    """
    from .rasterize import label_components

    h, w = q.shape
    out = np.zeros((h, w), dtype=np.int64)
    roots, pieces = [], []
    for v in np.unique(q):
        lab = label_components(q == v)
        n = int(lab.max())
        ys, xs = np.nonzero(lab)
        pid = ys.astype(np.int64) * w + xs
        minpid = np.full(n + 1, np.int64(h) * w, dtype=np.int64)
        np.minimum.at(minpid, lab[ys, xs], pid)
        roots.append(minpid[1:])
        pieces.append(lab)
    allroots = np.concatenate(roots)
    order = np.argsort(allroots)            # roots are distinct pixels
    rank = np.empty(allroots.size, dtype=np.int64)
    rank[order] = np.arange(1, allroots.size + 1)
    off = 0
    for lab, r in zip(pieces, roots):
        m = lab > 0
        out[m] = rank[off + lab[m] - 1]
        off += r.size
    return out


def rat_table(images: DataFrame, quant: int = 128,
              pcts=(25, 50, 75)) -> DataFrame:
    """Build the enriched per-clump RAT in one Arrow pass.

    Output: one row per (image_id, clump_id) with n_pix, mode_val,
    p25/p50/p75, n_neigh, min_neigh, max_neigh over the
    ``value // quant`` segmentation (module docstring).  Clump ids are
    deterministic dense labels in ascending first-pixel order,
    identical in spirit to ``polygonize_bboxes``.
    """

    def per_image(out, image_id, arr):
        lab = _label_regions(arr // quant)
        n = int(lab.max())
        if n == 0:
            return
        ys, xs = np.nonzero(lab)
        ls = lab[ys, xs]
        vs = arr[ys, xs]
        npix = np.bincount(ls, minlength=n + 1)[1:]
        mode = group_mode(ls, vs, n)[1:]
        pvals = _clump_percentiles(ls, vs, n, pcts)
        n_ng, mn_ng, mx_ng = _clump_neighbours(lab, n)
        out["image_id"].extend([image_id] * n)
        out["clump_id"].extend(range(1, n + 1))
        out["n_pix"].extend(int(v) for v in npix)
        out["mode_val"].extend(int(v) for v in mode)
        out["p25"].extend(int(v) for v in pvals[0])
        out["p50"].extend(int(v) for v in pvals[1])
        out["p75"].extend(int(v) for v in pvals[2])
        out["n_neigh"].extend(int(v) for v in n_ng[1:])
        out["min_neigh"].extend(int(v) for v in mn_ng[1:])
        out["max_neigh"].extend(int(v) for v in mx_ng[1:])

    return codec.map_images(images, per_image, _RAT_SCHEMA, dtype=np.int64)


def collapse_rat(rat: DataFrame, min_pix: int = 8) -> DataFrame:
    """collapse_rat (python/src/rastergis.cpp:1214): dense re-key of the
    selected rows.  Selection here = ``n_pix >= min_pix`` (the reference
    takes a boolean ``select_col``); new ids are consecutive per image in
    original clump order.  Pure Catalyst — a filtered window rank over
    the (small) RAT rows, never over pixels.
    """
    w = Window.partitionBy("image_id").orderBy("clump_id")
    return (rat.where(F.col("n_pix") >= F.lit(min_pix))
            .withColumn("new_id", F.row_number().over(w).cast("long")))


_MERGE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("new_label", LongType()),
])


def merge_small_clumps(images: DataFrame, quant: int = 128,
                       min_pix: int = 8) -> DataFrame:
    """One parallel elimination round of rm_small_clumps_stepwise
    (python/src/segmentation.cpp:151; RSGISEliminateSmallClumps.h:64):
    every segment below ``min_pix`` merges into a neighbour; segments
    with no neighbour (or large ones) keep their label.  Operates on
    the ``value // quant`` segmentation (module docstring) — the same
    clump-image shape the reference's eliminate step consumes.

    Deterministic arbitration: the LARGEST 4-neighbourhood neighbour,
    ties to the smallest id (the reference merges into the spectrally
    closest neighbour; size-maximal is this engine's deterministic
    proxy — payloads here are synthetic planes, not spectra).  All
    merges evaluate simultaneously against ORIGINAL sizes — the BSP
    unit step; iterating rounds reproduces the stepwise algorithm.
    """

    def per_image(out, image_id, arr):
        lab = _label_regions(arr // quant)
        n = int(lab.max())
        if n == 0:
            return
        npix = np.bincount(lab[lab > 0], minlength=n + 1)
        # adjacency pairs (both directions, deduped)
        pa, pb = [], []
        a, b = lab[:, :-1], lab[:, 1:]
        sel = (a > 0) & (b > 0) & (a != b)
        pa.append(a[sel]); pb.append(b[sel])
        a, b = lab[:-1, :], lab[1:, :]
        sel = (a > 0) & (b > 0) & (a != b)
        pa.append(a[sel]); pb.append(b[sel])
        new = np.arange(n + 1, dtype=np.int64)
        if any(x.size for x in pa):
            fa = np.concatenate(pa + pb).astype(np.int64)
            fb = np.concatenate(pb + pa).astype(np.int64)
            code = np.unique(fa * (n + 1) + fb)
            ca, cb = code // (n + 1), code % (n + 1)
            # per ca: neighbour with (max size, then min id) —
            # sort by (ca, -size_b, cb), keep first
            order = np.lexsort((cb, -npix[cb], ca))
            first = np.ones(order.shape, dtype=bool)
            first[1:] = ca[order][1:] != ca[order][:-1]
            tgt_a = ca[order][first]
            tgt_b = cb[order][first]
            small = npix[tgt_a] < min_pix
            new[tgt_a[small]] = tgt_b[small]
        out["image_id"].extend([image_id] * n)
        out["clump_id"].extend(range(1, n + 1))
        out["n_pix"].extend(int(v) for v in npix[1:])
        out["new_label"].extend(int(v) for v in new[1:])

    return codec.map_images(images, per_image, _MERGE_SCHEMA, dtype=np.int64)


_GEO_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("mean_e", DoubleType()),
    StructField("mean_n", DoubleType()),
    StructField("min_e", DoubleType()),
    StructField("max_e", DoubleType()),
    StructField("min_n", DoubleType()),
    StructField("max_n", DoubleType()),
])


def clump_geo_stats(images: DataFrame, quant: int = 128,
                    res: float = 0.001) -> DataFrame:
    """rastergis.clumps_spatial_location + clumps_spatial_extent
    (python/src/rastergis.cpp method table; kernel
    src/rastergis/RSGISCalcClumpStats.cpp): per-clump mean pixel-CENTRE
    easting/northing and the corner-based world bbox, using the repo's
    north-up geotransform convention (world = tl + idx * res, y
    southward; reference: src/cmds/RSGISCmdImageUtils.cpp:357-361).

    Exactness: sum_x/sum_y are exact integers (run-sum formula in the
    oracle), the mean is one IEEE division, and each geo coordinate is
    one multiply + one add — the expression tree is pinned and mirrored
    in SQL.
    """

    def per_image(out, image_id, arr, lon, lat):
        lab = _label_regions(arr // quant)
        n = int(lab.max())
        if n == 0:
            return
        ys, xs = np.nonzero(lab)
        ls = lab[ys, xs]
        npix = np.bincount(ls, minlength=n + 1)[1:]
        sx = np.zeros(n + 1, dtype=np.int64)
        np.add.at(sx, ls, xs)
        sy = np.zeros(n + 1, dtype=np.int64)
        np.add.at(sy, ls, ys)
        big = np.int64(1) << 60
        x0 = np.full(n + 1, big); x1 = np.full(n + 1, -big)
        y0 = np.full(n + 1, big); y1 = np.full(n + 1, -big)
        np.minimum.at(x0, ls, xs); np.maximum.at(x1, ls, xs)
        np.minimum.at(y0, ls, ys); np.maximum.at(y1, ls, ys)
        lon, lat = float(lon), float(lat)
        for c in range(1, n + 1):
            npx = int(npix[c - 1])
            out["image_id"].append(image_id)
            out["clump_id"].append(c)
            out["n_pix"].append(npx)
            out["mean_e"].append(
                lon + (int(sx[c]) / npx + 0.5) * res)
            out["mean_n"].append(
                lat - (int(sy[c]) / npx + 0.5) * res)
            out["min_e"].append(lon + int(x0[c]) * res)
            out["max_e"].append(lon + int(x1[c] + 1) * res)
            out["max_n"].append(lat - int(y0[c]) * res)
            out["min_n"].append(lat - int(y1[c] + 1) * res)

    return codec.map_images(images, per_image, _GEO_SCHEMA,
                            extra_cols=("lon", "lat"), dtype=np.int64)


_BORDER_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("border_len", LongType()),
    StructField("border_cls0", LongType()),
    StructField("rel_border", DoubleType()),
])


def clump_border_stats(images: DataFrame, quant: int = 128,
                       rel_cls: int = 0) -> DataFrame:
    """rastergis.calc_border_length + calc_rel_border +
    find_boundary_pixels (src/rastergis/RSGISClumpBorders.cpp:32; the
    3x3 kernel adds one edge per 4-neighbour with a different fid,
    includeZeroEdges=False so image-boundary edges are excluded).

    ``border_len`` = number of 4-neighbour pixel pairs whose labels
    differ (each side counts the shared edge once);  ``border_cls0`` =
    the subset whose neighbour belongs to a clump of class ``rel_cls``
    in the quantization lattice;  ``rel_border`` = border_cls0 /
    border_len (calc_rel_border), one IEEE division, 0.0 when the
    clump has no border.
    """

    def per_image(out, image_id, arr):
        q = arr // quant
        lab = _label_regions(q)
        n = int(lab.max())
        if n == 0:
            return
        flat_lab, flat_q = lab.ravel(), q.ravel()
        npix = np.bincount(flat_lab, minlength=n + 1)[1:]
        first = np.full(n + 1, flat_lab.size, dtype=np.int64)
        np.minimum.at(first, flat_lab,
                      np.arange(flat_lab.size, dtype=np.int64))
        cls = np.zeros(n + 1, dtype=np.int64)
        cls[1:] = flat_q[first[1:]]
        blen = np.zeros(n + 1, dtype=np.int64)
        bcls = np.zeros(n + 1, dtype=np.int64)
        for a, b in ((lab[:, :-1], lab[:, 1:]),
                     (lab[:-1, :], lab[1:, :])):
            sel = a != b
            ea, eb = a[sel], b[sel]
            np.add.at(blen, ea, 1)
            np.add.at(blen, eb, 1)
            np.add.at(bcls, ea, (cls[eb] == rel_cls).astype(np.int64))
            np.add.at(bcls, eb, (cls[ea] == rel_cls).astype(np.int64))
        out["image_id"].extend([image_id] * n)
        out["clump_id"].extend(range(1, n + 1))
        out["n_pix"].extend(int(v) for v in npix)
        out["border_len"].extend(int(v) for v in blen[1:])
        out["border_cls0"].extend(int(v) for v in bcls[1:])
        out["rel_border"].extend(
            (int(b0) / int(bl)) if bl > 0 else 0.0
            for b0, bl in zip(bcls[1:], blen[1:]))

    return codec.map_images(images, per_image, _BORDER_SCHEMA, dtype=np.int64)


_CAT_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("category", LongType()),
    StructField("cat_pix", LongType()),
    StructField("prop", DoubleType()),
])


def clump_cat_stats(images: DataFrame, quant: int = 128,
                    cat_mod: int = 4) -> DataFrame:
    """rastergis.populate_rat_with_cat_proportions
    (python/src/rastergis.cpp:455; kernel
    src/rastergis/RSGISFindClumpCatagoryStats.cpp:32): per (clump,
    category) pixel count and proportion of the clump's histogram.

    The categories plane is derived from the same payload as
    ``value % cat_mod`` — unlike the ``value // quant`` clump lattice
    it VARIES inside a clump, so proportions are non-vacuous (NOTES
    lesson 15).  Only categories present in a clump are emitted
    (the reference creates columns only for observed categories,
    RSGISFindClumpCatagoryStats.cpp:115-132).  ``prop`` =
    cat_pix / n_pix, one IEEE division of exact integers — pinned and
    mirrored in the oracle.
    """

    def per_image(out, image_id, arr):
        lab = _label_regions(arr // quant)
        n = int(lab.max())
        if n == 0:
            return
        ls, cs = lab.ravel(), (arr % cat_mod).ravel()
        npix = np.bincount(ls, minlength=n + 1)
        code = ls * cat_mod + cs
        cnt = np.bincount(code, minlength=(n + 1) * cat_mod)
        nz = np.nonzero(cnt)[0]
        nz = nz[nz >= cat_mod]                  # skip label 0
        cid, cat = nz // cat_mod, nz % cat_mod
        out["image_id"].extend([image_id] * len(nz))
        out["clump_id"].extend(int(v) for v in cid)
        out["n_pix"].extend(int(npix[v]) for v in cid)
        out["category"].extend(int(v) for v in cat)
        out["cat_pix"].extend(int(cnt[v]) for v in nz)
        out["prop"].extend(
            int(cnt[v]) / int(npix[c]) for v, c in zip(nz, cid))

    return codec.map_images(images, per_image, _CAT_SCHEMA, dtype=np.int64)


def clump_cat_majority(images: DataFrame, quant: int = 128,
                       cat_mod: int = 4) -> DataFrame:
    """Majority column of populate_rat_with_cat_proportions
    (RSGISFindClumpCatagoryStats.cpp:215-246): the category with the
    highest proportion; ties resolve to the SMALLEST category (the
    reference iterates the category map in ascending order and replaces
    only on strict ``>``).  Pure Catalyst over :func:`clump_cat_stats`
    — a struct max with (count, -category) ordering, map-side partial
    aggregation, no extra Arrow pass.
    """
    cats = clump_cat_stats(images, quant=quant, cat_mod=cat_mod)
    best = F.max(F.struct(F.col("cat_pix"),
                          (-F.col("category")).alias("negcat"))).alias("b")
    return (cats.groupBy("image_id", "clump_id", "n_pix").agg(best)
            .select("image_id", "clump_id", "n_pix",
                    (-F.col("b.negcat")).alias("maj_cat"),
                    (F.col("b.cat_pix").cast("double")
                     / F.col("n_pix").cast("double")).alias("maj_prop")))


_NDIFF_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("n_neigh", LongType()),
    StructField("min_diff", DoubleType()),
    StructField("max_diff", DoubleType()),
    StructField("mean_diff", DoubleType()),
    StructField("sum_diff", DoubleType()),
])


def rel_diff_neigh_stats(images: DataFrame, quant: int = 128,
                         use_abs: bool = False) -> DataFrame:
    """rastergis.calc_rel_diff_neigh_stats (python/src/rastergis.cpp:997;
    kernel src/rastergis/RSGISCalcNeighbourStats.cpp:124-168): for each
    clump, the min/max/mean/sum of ``field[self] - field[neighbour]``
    over its distinct 4-adjacent neighbours (``use_abs`` takes
    fabs per diff first).  Field = the clump pixel count (the RAT
    Histogram column).  Clumps with no neighbour report 0.0 — the
    reference's stats stay at their pre-initialized zeros when the
    diff vector is empty (RSGISMathsUtils.cpp:628).

    Exactness: field values and diffs are integers; min/max/sum are
    exact; ``mean = sum / n_neigh`` is pinned as ONE IEEE division of
    exact integers (the reference's gsl running mean is numerically
    equal on integer inputs well under 2^53).
    """

    def per_image(out, image_id, arr):
        lab = _label_regions(arr // quant)
        n = int(lab.max())
        if n == 0:
            return
        npix = np.bincount(lab.ravel(), minlength=n + 1)
        pa, pb = [], []
        for a, b in ((lab[:, :-1], lab[:, 1:]),
                     (lab[:-1, :], lab[1:, :])):
            sel = a != b
            pa.append(a[sel]); pb.append(b[sel])
        fa = np.concatenate(pa + pb)
        fb = np.concatenate(pb + pa)
        code = np.unique(fa * np.int64(n + 1) + fb)
        na, nb = code // (n + 1), code % (n + 1)
        d = npix[na] - npix[nb]
        if use_abs:
            d = np.abs(d)
        cnt = np.bincount(na, minlength=n + 1)
        big = np.int64(1) << 60
        mn = np.full(n + 1, big); mx = np.full(n + 1, -big)
        sm = np.zeros(n + 1, dtype=np.int64)
        np.minimum.at(mn, na, d)
        np.maximum.at(mx, na, d)
        np.add.at(sm, na, d)
        for c in range(1, n + 1):
            k = int(cnt[c])
            out["image_id"].append(image_id)
            out["clump_id"].append(c)
            out["n_pix"].append(int(npix[c]))
            out["n_neigh"].append(k)
            out["min_diff"].append(float(mn[c]) if k else 0.0)
            out["max_diff"].append(float(mx[c]) if k else 0.0)
            out["mean_diff"].append(int(sm[c]) / k if k else 0.0)
            out["sum_diff"].append(float(sm[c]) if k else 0.0)

    return codec.map_images(images, per_image, _NDIFF_SCHEMA, dtype=np.int64)


_MEANLIT_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("lit_pix", LongType()),
    StructField("lit_min", LongType()),
    StructField("lit_max", LongType()),
    StructField("lit_sum", LongType()),
    StructField("lit_mean", DoubleType()),
])


def clump_meanlit_stats(images: DataFrame, quant: int = 128) -> DataFrame:
    """rastergis.populate_rat_with_meanlit_stats
    (src/rastergis/RSGISPopRATWithStats.cpp:596; pixel predicate
    RSGISCalcClusterPxlValueStatsMeanLit, :1482): per clump, band
    stats restricted to pixels whose mean-lit-band value is ``>=`` the
    clump's mean of that band.  Values band = b1 (the payload plane),
    mean-lit band = b2 (its horizontal mirror, the repo's standing
    two-band convention, imagemath.py).

    Exactness: the lit predicate ``b2 >= sum(b2)/n`` is evaluated as
    the INTEGER comparison ``b2 * n >= sum(b2)`` (no division, no
    rounding); min/max/sum over the lit subset are exact integers;
    ``lit_mean = lit_sum / lit_pix`` is one pinned IEEE division.  The
    lit subset is never empty (the clump max always satisfies >= mean).
    """

    def per_image(out, image_id, arr):
        b2 = arr[:, ::-1]
        lab = _label_regions(arr // quant)
        n = int(lab.max())
        if n == 0:
            return
        ls = lab.ravel()
        v1, v2 = arr.ravel(), b2.ravel()
        npix = np.bincount(ls, minlength=n + 1)
        s2 = np.zeros(n + 1, dtype=np.int64)
        np.add.at(s2, ls, v2)
        lit = v2 * npix[ls] >= s2[ls]
        ll, lv = ls[lit], v1[lit]
        lcnt = np.bincount(ll, minlength=n + 1)
        lsum = np.zeros(n + 1, dtype=np.int64)
        np.add.at(lsum, ll, lv)
        big = np.int64(1) << 60
        lmn = np.full(n + 1, big); lmx = np.full(n + 1, -big)
        np.minimum.at(lmn, ll, lv)
        np.maximum.at(lmx, ll, lv)
        out["image_id"].extend([image_id] * n)
        out["clump_id"].extend(range(1, n + 1))
        out["n_pix"].extend(int(v) for v in npix[1:])
        out["lit_pix"].extend(int(v) for v in lcnt[1:])
        out["lit_min"].extend(int(v) for v in lmn[1:])
        out["lit_max"].extend(int(v) for v in lmx[1:])
        out["lit_sum"].extend(int(v) for v in lsum[1:])
        out["lit_mean"].extend(
            int(s) / int(c) for s, c in zip(lsum[1:], lcnt[1:]))

    return codec.map_images(images, per_image, _MEANLIT_SCHEMA, dtype=np.int64)


_DIST_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("min_sq_px", LongType()),
    StructField("dist_deg", DoubleType()),
])

_EDT_INF = np.int64(1) << 40


def _sq_edt(mask: np.ndarray) -> np.ndarray:
    """Exact squared Euclidean distance transform to the True set.

    Separable decomposition: a vectorized two-scan row pass finds the
    squared distance to the nearest True pixel in the same row, then a
    column pass takes ``min over y' of (y-y')^2 + rowd[y', x]``
    (Felzenszwalb & Huttenlocher's g-function identity).  Everything is
    int64 — squared distances are exact, so the SQL brute-force
    boundary-pair oracle reproduces them bit-for-bit.

    The column pass is the O(h^2 w) matrix form rather than the O(n)
    parabola envelope: per bounded-size image/tile (the engine's
    partition unit, <= a few Mpx) the fully-vectorized cubic form is
    faster than a Python-loop linear one; swap in the envelope if tiles
    ever grow unbounded.
    """
    h, w = mask.shape
    cols = np.arange(w, dtype=np.int64)[None, :]
    big = _EDT_INF
    idx = np.where(mask, cols, -big)
    fwd = np.maximum.accumulate(idx, axis=1)
    df = cols - fwd                                   # >= 0, big if none
    idxb = np.where(mask, cols, big * 2)
    bwd = np.minimum.accumulate(idxb[:, ::-1], axis=1)[:, ::-1]
    db = bwd - cols
    rd = np.minimum(df, db)
    rowd = np.where(rd >= big, big, rd * rd)          # squared, capped
    ys = np.arange(h, dtype=np.int64)
    yy = (ys[:, None] - ys[None, :]) ** 2             # (y, y')
    dt = (yy[:, :, None] + rowd[None, :, :]).min(axis=1)
    return dt


def dist_to_large_clumps(images: DataFrame, quant: int = 128,
                         size_thres: int = 500,
                         res: float = 0.001) -> DataFrame:
    """rastergis.calc_dist_to_large_clumps
    (python/rsgislib/rastergis/__init__.py:1029): per SMALL clump
    (Histogram < size_thres, the reference's strict ``<``), the minimum
    distance to any large clump's pixels.  The reference polygonizes and
    takes GEOS geometry distance; on the pixel lattice that minimum is
    attained between pixel centres, so ``min_sq_px`` (exact int64 via
    the squared EDT seeded on the large-clump mask) is the same
    measurement, and ``dist_deg = sqrt(min_sq_px) * res`` mirrors it in
    world units (sqrt and * are both correctly-rounded IEEE ops —
    bit-identical in every engine).

    Images with no large clump emit no rows (the reference's nearest-
    geometry search has no target there).
    """

    def per_image(out, image_id, arr):
        lab = _label_regions(arr // quant)
        n = int(lab.max())
        if n == 0:
            return
        npix = np.bincount(lab.ravel(), minlength=n + 1)
        large = npix >= size_thres
        large[0] = False
        small_ids = np.nonzero(~large[1:])[0] + 1
        if not large.any() or small_ids.size == 0:
            return
        dt = _sq_edt(large[lab])
        mn = np.full(n + 1, _EDT_INF, dtype=np.int64)
        np.minimum.at(mn, lab.ravel(), dt.ravel())
        for c in small_ids:
            sq = int(mn[c])
            out["image_id"].append(image_id)
            out["clump_id"].append(int(c))
            out["n_pix"].append(int(npix[c]))
            out["min_sq_px"].append(sq)
            out["dist_deg"].append(float(np.sqrt(np.float64(sq))
                                         * np.float64(res)))

    return codec.map_images(images, per_image, _DIST_SCHEMA, dtype=np.int64)


_TILEPOS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("tile_pos", LongType()),
    StructField("on_border", LongType()),
])


def clump_tile_positions(images: DataFrame, quant: int = 128,
                         tw: int = 48, th: int = 32, overlap: int = 4,
                         boundary: int = 2, mix: bool = False) -> DataFrame:
    """rastergis.define_clump_tile_positions + define_border_clumps
    (src/rastergis/RSGISDefineClumpsInTiles.cpp:32,209 — the
    merge_segmentation_tiles classification step).

    The tile-region plane codes each pixel by the distance ``d`` to its
    regular-grid tile core's edge (cores ``tw x th``, remainder tiles
    clipped at the image edge): ``d < overlap`` -> code 1 (overlap),
    ``d < overlap + boundary`` -> 2 (boundary), else 3 (body).  Clump
    classification follows the reference's priority exactly
    (RSGISDefineClumpsInTiles.cpp:72-95): touches boundary -> 2;
    touches overlap AND body -> 2 ("just in case"); only overlap -> 1;
    only body -> 3.  ``on_border`` = 1 iff the clump holds a pixel on
    the image's outer ring (calcImageBorderPixels).

    ``mix=True`` segments the diamond-cell plane
    ``((b1 // quant) * (b2 // quant)) % 2`` (b2 = mirror band) instead
    of the plain quantization stripes: the stripes of the synthetic
    payload always reach the image edge, which would make
    ``on_border`` vacuously all-1 and "pure body" unreachable (NOTES
    lesson 15); the diamond lattice has genuine interior clumps.
    """

    def per_image(out, image_id, arr):
        h, w = arr.shape
        if mix:
            q = ((arr // quant) * (arr[:, ::-1] // quant)) % 2
        else:
            q = arr // quant
        lab = _label_regions(q)
        n = int(lab.max())
        if n == 0:
            return
        xs = np.arange(w, dtype=np.int64)[None, :]
        ys = np.arange(h, dtype=np.int64)[:, None]
        tx0 = (xs // tw) * tw
        tx1 = np.minimum(tx0 + tw, w)
        ty0 = (ys // th) * th
        ty1 = np.minimum(ty0 + th, h)
        d = np.minimum(np.minimum(xs - tx0, tx1 - 1 - xs),
                       np.minimum(ys - ty0, ty1 - 1 - ys))
        code = np.where(d < overlap, 1,
                        np.where(d < overlap + boundary, 2, 3))
        ls = lab.ravel()
        npix = np.bincount(ls, minlength=n + 1)
        has = np.zeros((4, n + 1), dtype=bool)
        for c in (1, 2, 3):
            sel = (code == c).ravel()
            has[c, np.unique(ls[sel])] = True
        pos = np.where(
            has[2] | (has[1] & has[3]), 2,
            np.where(has[1], 1, np.where(has[3], 3, 0)))
        border = np.zeros(n + 1, dtype=np.int64)
        edge = np.concatenate([lab[0, :], lab[-1, :],
                               lab[:, 0], lab[:, -1]])
        border[np.unique(edge)] = 1
        out["image_id"].extend([image_id] * n)
        out["clump_id"].extend(range(1, n + 1))
        out["n_pix"].extend(int(v) for v in npix[1:])
        out["tile_pos"].extend(int(v) for v in pos[1:])
        out["on_border"].extend(int(v) for v in border[1:])

    return codec.map_images(images, per_image, _TILEPOS_SCHEMA, dtype=np.int64)


_CHANGE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("cls", LongType()),
    StructField("n_pix", LongType()),
    StructField("change", LongType()),
])


def find_change_clumps(images: DataFrame, quant: int = 128,
                       k: int = 2) -> DataFrame:
    """changedetect: rastergis.find_change_clumps_from_std_dev
    (src/rastergis/RSGISFindChangeClumps.cpp:176-196 thresholds,
    :225-240 application): per class, lower/upper = mean +- k*stddev of
    the field over the class's clumps (population stddev); a clump is
    change (1) iff its value falls strictly outside [lower, upper].

    Class = the clump's quantization band; field = the clump pixel
    count (Histogram).  The float rule ``|v - mean| > k*sigma`` is
    evaluated EXACTLY as the integer predicate
    ``(v*N - S)^2 > k^2 * (N*SS - S^2)`` (S/SS/N = class sum, sum of
    squares, count) — squaring preserves the strict inequality since
    both sides are non-negative, and every product stays < 2^53, so
    the DuckDB oracle runs the identical integer arithmetic.
    """

    def per_image(out, image_id, arr):
        q = arr // quant
        lab = _label_regions(q)
        n = int(lab.max())
        if n == 0:
            return
        flat_lab, flat_q = lab.ravel(), q.ravel()
        npix = np.bincount(flat_lab, minlength=n + 1)
        first = np.full(n + 1, flat_lab.size, dtype=np.int64)
        np.minimum.at(first, flat_lab,
                      np.arange(flat_lab.size, dtype=np.int64))
        cls = np.zeros(n + 1, dtype=np.int64)
        cls[1:] = flat_q[first[1:]]
        ncls = int(cls.max()) + 1
        cc = np.bincount(cls[1:], minlength=ncls)
        s = np.zeros(ncls, dtype=np.int64)
        ss = np.zeros(ncls, dtype=np.int64)
        np.add.at(s, cls[1:], npix[1:])
        np.add.at(ss, cls[1:], npix[1:] * npix[1:])
        v, c = npix[1:], cls[1:]
        lhs = (v * cc[c] - s[c]) ** 2
        rhs = k * k * (cc[c] * ss[c] - s[c] * s[c])
        chg = (lhs > rhs).astype(np.int64)
        out["image_id"].extend([image_id] * n)
        out["clump_id"].extend(range(1, n + 1))
        out["cls"].extend(int(x) for x in c)
        out["n_pix"].extend(int(x) for x in v)
        out["change"].extend(int(x) for x in chg)

    return codec.map_images(images, per_image, _CHANGE_SCHEMA, dtype=np.int64)


def select_clumps_on_grid(images: DataFrame, quant: int = 128,
                          rows: int = 4, cols: int = 4,
                          res: float = 0.001) -> DataFrame:
    """rastergis.select_clumps_on_grid, method='min'
    (src/rastergis/RSGISSelectClumps.cpp:33; per-clump pass
    RSGISCalcTileStats :216-273): divide the image extent into a
    rows x cols grid, and in each cell select the clump with the
    MINIMUM metric (metric = Histogram) among clumps whose centroid
    falls in the cell; first-encountered wins ties (ascending fid scan
    with strict '<'), i.e. the smallest clump_id among the minima.

    Cell assignment mirrors the reference's row-major inclusive-
    envelope scan: a centroid on a shared boundary belongs to the
    first (upper/left) tile, hence ``greatest(0, ceil(off/size) - 1)``.
    Pure Catalyst over :func:`clump_geo_stats` — centroid join, tile
    index projection, one struct-min aggregation (map-side partial),
    one broadcast-size join back for the flag column.  Expression trees
    (one multiply + one divide for the tile size, one subtract +
    divide + ceil for the index) are pinned and mirrored in SQL.
    """
    cent = clump_geo_stats(images, quant=quant, res=res)
    meta = images.select("image_id", "lon", "lat", "w", "h")
    j = cent.join(meta, "image_id")
    tw = (F.col("w").cast("double") * F.lit(float(res))) / F.lit(float(cols))
    th = (F.col("h").cast("double") * F.lit(float(res))) / F.lit(float(rows))
    tc = F.greatest(F.lit(0), F.ceil((F.col("mean_e") - F.col("lon")) / tw)
                    - F.lit(1))
    tr = F.greatest(F.lit(0), F.ceil((F.col("lat") - F.col("mean_n")) / th)
                    - F.lit(1))
    g = j.select("image_id", "clump_id", "n_pix",
                 tr.alias("tile_row"), tc.alias("tile_col"))
    best = (g.groupBy("image_id", "tile_row", "tile_col")
            .agg(F.min(F.struct(F.col("n_pix"), F.col("clump_id")))
                 .alias("b"))
            .select("image_id", F.col("b.clump_id").alias("clump_id"),
                    F.lit(1).alias("sel")))
    return (g.join(best, ["image_id", "clump_id"], "left")
            .select("image_id", "clump_id", "n_pix", "tile_row",
                    "tile_col", F.coalesce("sel", F.lit(0)).alias("sel")))


_PV_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("n_valid", LongType()),
    StructField("prop_q", LongType()),
])


def prop_valid_stats(images: DataFrame, quant: int = 128) -> DataFrame:
    """rastergis.populate_rat_with_prop_valid_pxls (python/src/
    rastergis method table): proportion of VALID pixels per clump,
    validity = value % 5 != 0 (the engine's standing gap mask).  One
    exact-int division per clump over the ``value // quant``
    segmentation lattice (same labels as :func:`rat_table`)."""

    def per_image(out, image_id, arr):
        lab = _label_regions(arr // quant)
        n = int(lab.max())
        if n == 0:
            return
        ys, xs = np.nonzero(lab)
        ls = lab[ys, xs]
        valid = (arr[ys, xs] % 5 != 0).astype(np.int64)
        npix = np.bincount(ls, minlength=n + 1)[1:]
        nval = np.bincount(ls, weights=valid,
                           minlength=n + 1)[1:].astype(np.int64)
        out["image_id"].extend([image_id] * n)
        out["clump_id"].extend(range(1, n + 1))
        out["n_pix"].extend(int(x) for x in npix)
        out["n_valid"].extend(int(x) for x in nval)
        out["prop_q"].extend(
            int(np.floor((float(a) / float(b)) * 1048576.0))
            for a, b in zip(nval, npix))

    return codec.map_images(images, per_image, _PV_SCHEMA, dtype=np.int64)


_MEQ_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("merged_id", LongType()),
    StructField("q_val", LongType()),
    StructField("n_clumps", LongType()),
    StructField("n_pix", LongType()),
])


def merge_equiv_clumps_stats(images: DataFrame,
                             quant: int = 128) -> DataFrame:
    """segmentation.merge_equiv_clumps (python/src/segmentation method
    table): clumps whose attribute values are equal merge into one
    unit, adjacent or not.  On the value//quant lattice the clump
    attribute IS its (constant) quantized value, so the merged units
    are the distinct q values; merged ids are dense ranks of q
    (ascending)."""

    def per_image(out, image_id, arr):
        q = arr // quant
        lab = _label_regions(q)
        n = int(lab.max())
        if n == 0:
            return
        ys, xs = np.nonzero(lab)
        ls = lab[ys, xs]
        qs = q[ys, xs]
        # q per clump (constant by construction): first pixel
        clump_q = np.zeros(n + 1, dtype=np.int64)
        clump_q[ls[::-1]] = qs[::-1]   # first occurrence wins
        uq = np.unique(clump_q[1:])
        sizes = np.bincount(ls, minlength=n + 1)[1:]
        for mi, qv in enumerate(sorted(int(x) for x in uq),
                                start=1):
            sel = clump_q[1:] == qv
            out["image_id"].append(image_id)
            out["merged_id"].append(mi)
            out["q_val"].append(qv)
            out["n_clumps"].append(int(sel.sum()))
            out["n_pix"].append(int(sizes[sel].sum()))

    return codec.map_images(images, per_image, _MEQ_SCHEMA, dtype=np.int64)


_DROP_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("new_id", LongType()),
    StructField("old_id", LongType()),
    StructField("n_pix", LongType()),
])


def drop_clumps_stats(images: DataFrame, quant: int = 128,
                      min_pix: int = 50) -> DataFrame:
    """segmentation.drop_selected_clumps (python/src/segmentation
    method table): remove the selected clumps (here: the < min_pix
    small units, the reference's usual selection) and densely relabel
    the survivors in ascending old-label order."""

    def per_image(out, image_id, arr):
        lab = _label_regions(arr // quant)
        n = int(lab.max())
        if n == 0:
            return
        sizes = np.bincount(lab[lab > 0], minlength=n + 1)[1:]
        new_id = 0
        for old in range(1, n + 1):
            if int(sizes[old - 1]) < min_pix:
                continue
            new_id += 1
            out["image_id"].append(image_id)
            out["new_id"].append(new_id)
            out["old_id"].append(old)
            out["n_pix"].append(int(sizes[old - 1]))

    return codec.map_images(images, per_image, _DROP_SCHEMA, dtype=np.int64)


# --------------------------------------------------------------------------
# calc_dist_between_clumps / calc_dist_to_classes / create_uid_col +
# take_random_sample
# --------------------------------------------------------------------------

_DBC_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("cls", LongType()),
    StructField("min_sq_px", LongType()),
    StructField("dist_deg", DoubleType()),
])

_OFFS8 = ((-1, -1), (-1, 0), (-1, 1), (0, -1),
          (0, 1), (1, -1), (1, 0), (1, 1))


def dist_between_clumps(images: DataFrame, quant: int = 128,
                        res: float = 0.001) -> DataFrame:
    """rastergis.calc_dist_between_clumps
    (python/rsgislib/rastergis/__init__.py:972): polygonise the clump
    image (zero band masked out) and record each clump's distance to
    the nearest other clump (vectorutils dist2NearestGeom).  Engine
    measurement: clumps are the ODD quantisation bands of the
    segmentation lattice (the even bands are the polygonise mask's
    excluded zero region — a full lattice would make every distance
    the touching-pixel constant); the minimum is attained between
    8-boundary pixel centres (an interior pixel's neighbour toward the
    target is strictly closer), so the exact-int64 boundary pair scan
    equals the geometry distance on the pixel lattice, reported in
    world units via one correctly-rounded sqrt * res.  Clumps with no
    other odd-band clump in their image emit no row (the reference's
    nearest-geometry search has no target)."""

    def per_image(out, image_id, arr):
        q = arr // quant
        lab = _label_regions(q)
        n = int(lab.max())
        if n == 0:
            return
        # 8-boundary pixels: any neighbour differs (or edge)
        pad = np.pad(lab, 1, constant_values=-1)
        bnd = np.zeros_like(lab, dtype=bool)
        for dx, dy in _OFFS8:
            bnd |= pad[1 + dy:pad.shape[0] - 1 + dy,
                       1 + dx:pad.shape[1] - 1 + dx] != lab
        odd = (q % 2) == 1
        ys, xs = np.nonzero(bnd & odd)
        if ys.size == 0:
            return
        ls = lab[ys, xs]
        if np.unique(ls).size < 2:
            return
        # chunk the pair scan: the full matrix is O(n_bnd^2)
        # int64 (~200 MB on a 128x128 sf0.1 image, x32 workers)
        INF = np.int64(1) << 60
        per_pt = np.full(ys.size, INF, dtype=np.int64)
        for s0 in range(0, ys.size, 512):
            s1 = min(s0 + 512, ys.size)
            d2 = ((xs[s0:s1, None] - xs[None, :]) ** 2
                  + (ys[s0:s1, None] - ys[None, :]) ** 2)
            d2[ls[s0:s1, None] == ls[None, :]] = INF
            per_pt[s0:s1] = d2.min(axis=1)
        mn = np.full(n + 1, INF, dtype=np.int64)
        np.minimum.at(mn, ls, per_pt)
        npix = np.bincount(lab.ravel(), minlength=n + 1)
        qv = np.zeros(n + 1, dtype=np.int64)
        qv[lab[ys, xs]] = q[ys, xs]
        for c in sorted(set(int(l) for l in ls)):
            sq = int(mn[c])
            out["image_id"].append(image_id)
            out["clump_id"].append(c)
            out["n_pix"].append(int(npix[c]))
            out["cls"].append(int(qv[c]))
            out["min_sq_px"].append(sq)
            out["dist_deg"].append(
                float(np.sqrt(np.float64(sq)) * np.float64(res)))

    return codec.map_images(images, per_image, _DBC_SCHEMA, dtype=np.int64)


_DTC_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("cls", LongType()),
    StructField("n_src", LongType()),
    StructField("n_within", LongType()),
    StructField("sum_d2", LongType()),
    StructField("max_d2", LongType()),
])

DTC_CAP_SQ = 256  # max_dist = 16 px (squared), beyond -> nodata


def dist_to_classes(images: DataFrame, k: int = 4) -> DataFrame:
    """rastergis.calc_dist_to_classes
    (python/rsgislib/rastergis/__init__.py:810): per RAT class, a
    proximity raster (gdal.ComputeProximity DISTUNITS=GEO) capped at
    max_dist with nodata beyond.  Engine: class plane rc=(v*k)//pmax,
    per-pixel exact-int64 squared EDT seeded on each class, cap
    d2 <= 256; per (image, class) the count of within-range pixels
    (class pixels at d2=0 included), their d2 sum and max."""

    def per_image(out, image_id, arr, fmt):
        rc = (arr * k) // synth.pmax(fmt)
        for c in range(k):
            m = rc == c
            n_src = int(m.sum())
            if n_src == 0:
                continue
            dt = _sq_edt(m)
            within = dt <= DTC_CAP_SQ
            out["image_id"].append(image_id)
            out["cls"].append(c)
            out["n_src"].append(n_src)
            out["n_within"].append(int(within.sum()))
            out["sum_d2"].append(int(dt[within].sum()))
            out["max_d2"].append(int(dt[within].max()))

    return codec.map_images(images, per_image, _DTC_SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)


_UID_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("uid", LongType()),
    StructField("cls", LongType()),
    StructField("n_pix", LongType()),
])


def rat_uid_rows(images: DataFrame, quant: int = 128) -> DataFrame:
    """rastergis.create_uid_col (rastergis/__init__.py:570): UID
    starting at 0 in RAT row order = clump label order (first
    row-major encounter, identical to the oracle's
    row_number-over-root cid).  Base rows for take_random_sample."""

    def per_image(out, image_id, arr):
        q = arr // quant
        lab = _label_regions(q)
        n = int(lab.max())
        if n == 0:
            return
        npix = np.bincount(lab.ravel(), minlength=n + 1)
        ys, xs = np.nonzero(lab >= 1)
        qv = np.zeros(n + 1, dtype=np.int64)
        qv[lab[ys, xs]] = q[ys, xs]
        for c in range(1, n + 1):
            out["image_id"].append(image_id)
            out["clump_id"].append(c)
            out["uid"].append(c - 1)
            out["cls"].append(int(qv[c]))
            out["n_pix"].append(int(npix[c]))

    return codec.map_images(images, per_image, _UID_SCHEMA, dtype=np.int64)
