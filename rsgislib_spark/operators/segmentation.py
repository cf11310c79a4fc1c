"""Shepherd segmentation (k-means + clump) — the reference's flagship
segmentation pipeline.

``run_shepherd_segmentation``
(python/rsgislib/segmentation/shepherdseg.py:68; Shepherd, Bunting &
Dymond 2019, Remote Sensing 11(6):658) chains: stretch -> KMeans
clustering of the band values -> per-pixel cluster assignment ->
``clump`` (4-connected components of the class plane) -> iterative
elimination of small clumps -> relabel.  This module implements the
clustering and clump stages; the elimination unit step is
``rastergis.merge_small_clumps`` and the dense relabel is
``rastergis.collapse_rat``.

Determinism contract (the exact-hash oracle gate): k-means runs in
INTEGER arithmetic — centres initialise evenly over [vmin, vmax]
(``c_j = vmin + ((vmax - vmin) * (2j + 1)) // (2k)``), assignment is
argmin |v - c| with ties to the smallest class index, and the update is
``floor(sum(v) / count)`` per class (empty classes keep their centre).
Every operation is exactly reproducible in SQL (integer ``//``), so the
unrolled-rounds DuckDB oracle matches bit-for-bit — the same trick
family as the pointer-doubling clump oracle.  ``k`` is parameterized
(the reference defaults to 60 clusters; the registered query uses
k=4 so the SQL argmin stays a readable 4-way CASE — the engine kernel
is k-agnostic).

Spark-first shape: one ``mapInArrow`` pass per image (images are the
natural partition unit); k-means iterates on the 1024-bin value
histogram, not the pixel plane, so the per-image cost is O(pixels) for
histogram + assignment and O(k * bins) per iteration.  At 100 TB the
stage is embarrassingly parallel and shuffle-free; only the per-class /
per-segment summary rows (~10^3-10^6x smaller than pixels) ever reach
an Exchange.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from .. import synth
from ..functions import codec
from .rastergis import _label_regions

__all__ = ["kmeans_values", "kmeans_centres", "shepherd_segments",
           "eliminate_small_segments", "union_clumps",
           "segment_means"]


def kmeans_values(vals: np.ndarray, k: int = 4, iters: int = 6):
    """Deterministic integer 1-D k-means over a value array.

    Returns (centres[k], cls) where cls assigns each input value to its
    nearest FINAL centre (ties -> smallest class index).  Iterates on
    the value histogram — identical results to pixel-space iteration
    because the objective only depends on value multiplicities.
    """
    vals = vals.astype(np.int64).ravel()
    uniq, counts = np.unique(vals, return_counts=True)
    vmin, vmax = int(uniq[0]), int(uniq[-1])
    c = vmin + ((vmax - vmin) * (2 * np.arange(k, dtype=np.int64) + 1)) \
        // (2 * k)
    for _ in range(iters):
        # argmin over |uniq - c_j|; np.argmin takes the first (smallest
        # index) minimum — the documented tie rule
        cls_u = np.argmin(np.abs(uniq[:, None] - c[None, :]), axis=1)
        sums = np.zeros(k, dtype=np.int64)
        np.add.at(sums, cls_u, uniq * counts)
        npts = np.zeros(k, dtype=np.int64)
        np.add.at(npts, cls_u, counts)
        nz = npts > 0
        c[nz] = sums[nz] // npts[nz]
    cls_u = np.argmin(np.abs(uniq[:, None] - c[None, :]), axis=1)
    lut = np.zeros(vmax + 1, dtype=np.int64)
    lut[uniq] = cls_u
    return c, lut[vals]


_KM_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("cls", LongType()),
    StructField("centre", LongType()),
    StructField("n_pix", LongType()),
])


def kmeans_centres(images: DataFrame, k: int = 4,
                   iters: int = 6) -> DataFrame:
    """Per-image k-means centres + class populations (the KMeans stage
    of shepherdseg; reference imagecalc.kmeans_clustering,
    python/src/imagecalc.cpp k-means method).  One row per
    (image, class); empty classes report their (unmoved) centre with
    n_pix = 0.
    """

    def per_image(out, image_id, arr):
        c, cls = kmeans_values(arr, k=k, iters=iters)
        npix = np.bincount(cls, minlength=k)
        out["image_id"].extend([image_id] * k)
        out["cls"].extend(range(k))
        out["centre"].extend(int(v) for v in c)
        out["n_pix"].extend(int(v) for v in npix)

    return codec.map_images(images, per_image, _KM_SCHEMA, dtype=np.int64)


_SEG_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("seg_id", LongType()),
    StructField("cls", LongType()),
    StructField("n_pix", LongType()),
])


def shepherd_segments(images: DataFrame, k: int = 4,
                      iters: int = 6) -> DataFrame:
    """KMeans-assign + clump: the segmentation lattice shepherdseg
    hands to the elimination stage (shepherdseg.py:68 pipeline order:
    kmeans -> clump -> rm_small_clumps -> relabel).  One row per
    4-connected equal-class region, ids dense in ascending first-pixel
    order (identical convention to ``rastergis.rat_table``).
    """

    def per_image(out, image_id, arr):
        _c, cls = kmeans_values(arr, k=k, iters=iters)
        plane = cls.reshape(arr.shape)
        lab = _label_regions(plane)
        n = int(lab.max())
        if n == 0:
            return
        flat_lab, flat_q = lab.ravel(), plane.ravel()
        npix = np.bincount(flat_lab, minlength=n + 1)[1:]
        first = np.full(n + 1, flat_lab.size, dtype=np.int64)
        np.minimum.at(first, flat_lab,
                      np.arange(flat_lab.size, dtype=np.int64))
        seg_cls = flat_q[first[1:]]
        out["image_id"].extend([image_id] * n)
        out["seg_id"].extend(range(1, n + 1))
        out["cls"].extend(int(v) for v in seg_cls)
        out["n_pix"].extend(int(v) for v in npix)

    return codec.map_images(images, per_image, _SEG_SCHEMA, dtype=np.int64)


_ELIM_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("seg_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("new_label", LongType()),
    StructField("new_size", LongType()),
])


def eliminate_small_segments(images: DataFrame, quant: int = 128,
                             min_pix: int = 8,
                             rounds: int = 3) -> DataFrame:
    """Iterated elimination of small segments — the
    rm_small_clumps_stepwise loop (shepherdseg.py pipeline;
    src/segmentation/RSGISEliminateSmallClumps.cpp), as ``rounds`` BSP
    rounds over the ``value // quant`` lattice with sizes RECOMPUTED
    between rounds (unlike ``rastergis.merge_small_clumps``, the
    single-round unit step against original sizes).

    Round semantics (bit-identical in the unrolled SQL oracle): a
    segment whose CURRENT size is below ``min_pix`` merges into the
    adjacent current label with the largest (size, smaller-id) key,
    restricted to strictly greater keys than its own — the strict
    ordering makes every round's merge map acyclic, so one BSP
    application per round is well-defined.  Sizes only grow, so the
    process reaches a fixpoint; synthetic lattices converge within the
    default 3 rounds (pytest-checked).

    Output: one row per ORIGINAL segment with its final label and the
    final size of that label's merged group.
    """

    def per_image(out, image_id, arr):
        lab = _label_regions(arr // quant)
        n = int(lab.max())
        if n == 0:
            return
        npix0 = np.bincount(lab[lab > 0], minlength=n + 1)
        pa, pb = [], []
        a, b = lab[:, :-1], lab[:, 1:]
        sel = (a > 0) & (b > 0) & (a != b)
        pa.append(a[sel]); pb.append(b[sel])
        a, b = lab[:-1, :], lab[1:, :]
        sel = (a > 0) & (b > 0) & (a != b)
        pa.append(a[sel]); pb.append(b[sel])
        if any(x.size for x in pa):
            ca = np.concatenate(pa + pb).astype(np.int64)
            cb = np.concatenate(pb + pa).astype(np.int64)
        else:
            ca = cb = np.zeros(0, dtype=np.int64)
        cur = np.arange(n + 1, dtype=np.int64)
        for _ in range(rounds):
            s = np.zeros(n + 1, dtype=np.int64)
            np.add.at(s, cur[1:], npix0[1:])
            A, B = cur[ca], cur[cb]
            keep = A != B
            A, B = A[keep], B[keep]
            if A.size == 0:
                break
            code = np.unique(A * (n + 1) + B)
            A, B = code // (n + 1), code % (n + 1)
            elig = (s[A] < min_pix) & \
                ((s[B] > s[A]) | ((s[B] == s[A]) & (B < A)))
            A, B = A[elig], B[elig]
            if A.size == 0:
                break
            order = np.lexsort((B, -s[B], A))
            first = np.ones(order.shape, dtype=bool)
            first[1:] = A[order][1:] != A[order][:-1]
            mp = np.arange(n + 1, dtype=np.int64)
            mp[A[order][first]] = B[order][first]
            cur = mp[cur]
        s = np.zeros(n + 1, dtype=np.int64)
        np.add.at(s, cur[1:], npix0[1:])
        out["image_id"].extend([image_id] * n)
        out["seg_id"].extend(range(1, n + 1))
        out["n_pix"].extend(int(v) for v in npix0[1:])
        out["new_label"].extend(int(v) for v in cur[1:])
        out["new_size"].extend(int(v) for v in s[cur[1:]])

    return codec.map_images(images, per_image, _ELIM_SCHEMA, dtype=np.int64)


_UNION_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("val_a", LongType()),
    StructField("val_b", LongType()),
])


def union_clumps(images: DataFrame) -> DataFrame:
    """segmentation.union_of_clumps (python/src/segmentation.cpp:212):
    overlay of clump images — every boundary line of every input
    survives, i.e. connected components of the TUPLE of input labels.

    Inputs here are two derived segmentations of the same plane
    (value // 128, and a decorrelated second banding
    ((value*7 + 3) % pmax) // 256), combined as q = qa*16 + qb; the
    4-connected equal-q regions are exactly the union lattice.  The
    per-region input values are emitted as the reference's
    ``ClumpVal_`` RAT columns (val_a, val_b).
    """

    def per_image(out, image_id, arr, fmt):
        qa = arr // 128
        qb = ((arr * 7 + 3) % synth.pmax(fmt)) // 256
        q = qa * 16 + qb
        lab = _label_regions(q)
        n = int(lab.max())
        if n == 0:
            return
        flat_lab, flat_q = lab.ravel(), q.ravel()
        npix = np.bincount(flat_lab, minlength=n + 1)[1:]
        first = np.full(n + 1, flat_lab.size, dtype=np.int64)
        np.minimum.at(first, flat_lab,
                      np.arange(flat_lab.size, dtype=np.int64))
        cls = flat_q[first[1:]]
        out["image_id"].extend([image_id] * n)
        out["clump_id"].extend(range(1, n + 1))
        out["n_pix"].extend(int(v) for v in npix)
        out["val_a"].extend(int(v) for v in cls // 16)
        out["val_b"].extend(int(v) for v in cls % 16)

    return codec.map_images(images, per_image, _UNION_SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)


_MEAN_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("clump_id", LongType()),
    StructField("n_pix", LongType()),
    StructField("sum_val", LongType()),
    StructField("mean_val", DoubleType()),
])


def segment_means(images: DataFrame, quant: int = 128) -> DataFrame:
    """segmentation.mean_image (python/src/segmentation.cpp method
    table): attribute every clump with the mean of the underlying
    pixel values — the shepherdseg ``out_mean_img`` product.  Over the
    ``value // quant`` lattice; mean = sum/n is one IEEE division of
    exact integers, so the exact-hash gate passes.
    """

    def per_image(out, image_id, arr):
        lab = _label_regions(arr // quant)
        n = int(lab.max())
        if n == 0:
            return
        flat_lab, flat_v = lab.ravel(), arr.ravel()
        npix = np.bincount(flat_lab, minlength=n + 1)[1:]
        sums = np.zeros(n + 1, dtype=np.int64)
        np.add.at(sums, flat_lab, flat_v)
        out["image_id"].extend([image_id] * n)
        out["clump_id"].extend(range(1, n + 1))
        out["n_pix"].extend(int(v) for v in npix)
        out["sum_val"].extend(int(v) for v in sums[1:])
        out["mean_val"].extend(int(s) / int(c)
                               for s, c in zip(sums[1:], npix))

    return codec.map_images(images, per_image, _MEAN_SCHEMA, dtype=np.int64)


_ISO_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("cls", LongType()),
    StructField("centre", LongType()),
    StructField("n_pix", LongType()),
])


def isodata_values(vals: np.ndarray, k: int = 4, iters: int = 6,
                   min_dist: int = 100, var_thres: int = 3000,
                   min_split: int = 32, split_off: int = 8):
    """Deterministic integer ISODATA round (engine variant of
    imagecalc.isodata_clustering, python/src/imagecalc.cpp method
    table): k-means, then ONE merge of the closest adjacent centre
    pair (< min_dist), then ONE split of the highest-variance
    qualifying class (variance > var_thres and n >= min_split), then a
    final reassignment.

    Every decision is integer-exact: gaps are ints; the variance
    qualifier is ``n*SS - S^2 > var_thres * n^2``; the variance argmax
    compares ``A_i * n_j^2 > A_j * n_i^2`` in exact (Python) integers;
    the merged centre is the weighted floor mean; split centres are
    ``floor(S/n) -/+ split_off``.  Ties everywhere resolve to the
    smaller centre then the smaller provenance rank.  Returns the
    final (centre, key) list and the assignment LUT.
    """
    c, cls = kmeans_values(vals, k=k, iters=iters)
    flat = vals.astype(np.int64).ravel()
    n_j = np.zeros(k, dtype=np.int64)
    s_j = np.zeros(k, dtype=np.int64)
    ss_j = np.zeros(k, dtype=np.int64)
    np.add.at(n_j, cls, 1)
    np.add.at(s_j, cls, flat)
    np.add.at(ss_j, cls, flat * flat)
    # sorted provenance order: (centre, original index)
    order = sorted(range(k), key=lambda j: (int(c[j]), j))
    ents = [[int(c[j]), r, int(n_j[j]), int(s_j[j]), int(ss_j[j])]
            for r, j in enumerate(order)]   # [centre, rank, n, S, SS]
    # MERGE: closest adjacent sorted pair under min_dist (ties: smaller
    # left centre, then smaller left rank)
    best = None
    for i in range(len(ents) - 1):
        gap = ents[i + 1][0] - ents[i][0]
        keyt = (gap, ents[i][0], ents[i][1])
        if gap < min_dist and (best is None or keyt < best[0]):
            best = (keyt, i)
    if best is not None:
        i = best[1]
        a, b = ents[i], ents[i + 1]
        nt = a[2] + b[2]
        merged_c = (a[3] + b[3]) // nt if nt > 0 else (a[0] + b[0]) // 2
        merged = [merged_c, min(a[1], b[1]), nt, a[3] + b[3], a[4] + b[4]]
        ents = ents[:i] + [merged] + ents[i + 2:]
    # SPLIT: qualifying class with the largest variance (exact integer
    # cross-multiplied argmax; ties smaller centre then rank)
    cand = None
    for e in ents:
        cen, rank, n, s, ss = e
        if n < min_split:
            continue
        A = n * ss - s * s
        if A <= var_thres * n * n:
            continue
        if cand is None:
            cand = e
        else:
            cen2, rank2, n2, s2, ss2 = cand
            A2 = n2 * ss2 - s2 * s2
            li, ri = A * n2 * n2, A2 * n * n
            if li > ri or (li == ri and (cen, rank) < (cen2, rank2)):
                cand = e
    if cand is not None:
        m = cand[3] // cand[2]
        ents.remove(cand)
        ents.append([m - split_off, cand[1], 0, 0, 0])
        ents.append([m + split_off, cand[1], 0, 0, 0])
    # canonical final order: (centre, provenance rank)
    ents.sort(key=lambda e: (e[0], e[1]))
    centres = np.array([e[0] for e in ents], dtype=np.int64)
    uniq = np.unique(flat)
    cls_u = np.argmin(np.abs(uniq[:, None] - centres[None, :]), axis=1)
    lut = np.zeros(int(uniq.max()) + 1, dtype=np.int64)
    lut[uniq] = cls_u
    return centres, lut[flat]


def isodata_centres(images: DataFrame, **kw) -> DataFrame:
    """Per-image deterministic-ISODATA classes: one row per final
    class with its centre and population (empty classes report 0)."""

    def per_image(out, image_id, arr):
        centres, cls = isodata_values(arr, **kw)
        npix = np.bincount(cls, minlength=centres.size)
        out["image_id"].extend([image_id] * centres.size)
        out["cls"].extend(range(centres.size))
        out["centre"].extend(int(v) for v in centres)
        out["n_pix"].extend(int(v) for v in npix)

    return codec.map_images(images, per_image, _ISO_SCHEMA, dtype=np.int64)


SLIC_S = 8          # superpixel grid step
SLIC_M = 10         # compactness
SLIC_ITERS = 3      # fixed assign/update rounds

_SLIC_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("k", LongType()),
    StructField("n_pix", LongType()),
    StructField("cx", LongType()),
    StructField("cy", LongType()),
    StructField("cv", LongType()),
    StructField("px_ck", LongType()),
])


def slic_superpixels(images: DataFrame, s: int = SLIC_S, m: int = SLIC_M,
                     iters: int = SLIC_ITERS) -> DataFrame:
    """segmentation.skimgseg.perform_slic_segmentation
    (python/rsgislib/segmentation/skimgseg.py:281) — the SLIC algorithm
    itself (Achanta et al., TPAMI 2012; the reference is a single-call
    skimage wrapper) re-expressed deterministically:

    * centres seeded on the ``s``-step grid at ``(j*s + s//2,
      i*s + s//2)``, id ``k = i*gx + j`` row-major, initial colour = the
      seed pixel's value;
    * ``iters`` fixed assign/update rounds; each pixel considers the
      centres within the standard 2S x 2S search window and takes the
      EXACT integer argmin of ``D2 = m^2*(dx^2 + dy^2) + s^2*dv^2``
      (the S-normalised SLIC distance squared, scaled by s^2 so it is
      integer), ties -> lowest k;
    * centre update = integer-floor centroids (``sum DIV n``); centres
      with no members keep their position.

    Documented simplifications vs the skimage call: no 3x3
    gradient-minimum seed perturbation and no post-hoc connectivity
    enforcement (the reference exposes both as skimage defaults).
    Pixels outside every search window (possible only after extreme
    centre drift) stay unlabelled and drop from the output groups —
    the identical rule in both engines.

    Output: one row per (image_id, k) with member count, updated centre
    and the flat-index checksum of the member pixels.
    """
    if iters < 1:
        raise ValueError("slic_superpixels needs iters >= 1")
    reach = 2 * s       # search window |dx|, |dy| <= 2s, as in the oracle

    def per_image(out, image_id, v):
        h, w = v.shape
        gx, gy = w // s, h // s
        if gx == 0 or gy == 0:
            return
        jj, ii = np.meshgrid(np.arange(gx), np.arange(gy))
        cx = (jj * s + s // 2).ravel().astype(np.int64)
        cy = (ii * s + s // 2).ravel().astype(np.int64)
        cv = v[cy, cx]
        px, py = np.meshgrid(np.arange(w, dtype=np.int64),
                             np.arange(h, dtype=np.int64))
        px, py, pv = px.ravel(), py.ravel(), v.ravel()
        nk = cx.size
        bestk = None
        for _ in range(iters):
            best = np.full(px.size, np.iinfo(np.int64).max,
                           dtype=np.int64)
            bestk = np.full(px.size, -1, dtype=np.int64)
            for k in range(nk):
                dx = px - cx[k]
                dy = py - cy[k]
                win = (np.abs(dx) <= reach) \
                    & (np.abs(dy) <= reach)
                dv = pv - cv[k]
                d2 = m * m * (dx * dx + dy * dy) + s * s * dv * dv
                upd = win & (d2 < best)
                best[upd] = d2[upd]
                bestk[upd] = k
            for k in range(nk):
                mem = bestk == k
                n = int(mem.sum())
                if n > 0:
                    cx[k] = int(px[mem].sum()) // n
                    cy[k] = int(py[mem].sum()) // n
                    cv[k] = int(pv[mem].sum()) // n
        for k in range(nk):
            mem = bestk == k
            n = int(mem.sum())
            if n == 0:
                continue
            out["image_id"].append(image_id)
            out["k"].append(k)
            out["n_pix"].append(n)
            out["cx"].append(int(cx[k]))
            out["cy"].append(int(cy[k]))
            out["cv"].append(int(cv[k]))
            out["px_ck"].append(int((py[mem] * w + px[mem]).sum()))

    return codec.map_images(images, per_image, _SLIC_SCHEMA, dtype=np.int64)


QS_DENS_WIN = 2     # density window (Chebyshev radius, 5x5)
QS_LINK_WIN = 3     # parent search radius (Chebyshev, 7x7)
QS_SPACE_W = 64     # D2 = 64*(dx^2+dy^2) + dv^2  (ratio analog)
QS_SIGMA2X2 = 8192.0   # Parzen kernel scale: arg = -D2 / 8192
QS_QSCALE = 1099511627776.0  # 2^40 density-term quantiser

_QS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("seg_id", LongType()),
    StructField("root", LongType()),
    StructField("n_pix", LongType()),
    StructField("px_ck", LongType()),
])


def quickshift_segments(images: DataFrame) -> DataFrame:
    """segmentation.skimgseg.perform_quickshift_segmentation
    (python/rsgislib/segmentation/skimgseg.py quickshift wrapper; the
    algorithm is Vedaldi & Soatto, ECCV 2008) in a deterministic
    order-independent form:

    * Parzen DENSITY per pixel = sum over the 5x5 window (self
      included) of ``floor(exp(-D2/8192) * 2^40)`` with
      ``D2 = 64*(dx^2+dy^2) + dv^2`` — the exp goes through the pinned
      detmath tree and each term is quantised to an integer BEFORE the
      sum, so the density is an exact int64 in any summation order and
      bit-identical across engines;
    * PARENT = the nearest (argmin D2, ties -> lowest flat pixel id)
      pixel with STRICTLY higher density within Chebyshev radius 3;
      density ties break nothing (strict >), pixels with no higher
      neighbour are mode roots;
    * SEGMENTS = trees of the parent forest (pointer-jump to the root;
      the SQL oracle unrolls 15 doubling rounds = depth 2^15 >= any
      per-image pixel count here).  seg ids dense in ascending root
      order (the repo's labeling convention).

    vs skimage: single-band plane, no pre-smoothing, fixed integer
    parameters (kernel_size ~ 2, max_dist ~ 3, ratio via QS_SPACE_W) —
    documented simplifications; the forest/mode semantics are the
    algorithm's.

    Exactness bounds: density = sum of 25 terms < 2^40 each (< 2^45
    total); the oracle's packed argmin key ``d2 * 2^17 + pid`` needs
    ``pid < 2^17`` — the synth corpus caps images at 129x129 (pid <
    2^15); for larger rasters widen the pack factor in both engines.
    """
    from ..functions.detmath import exp_np

    def per_image(out, image_id, v):
        h, w = v.shape
        dens = np.zeros((h, w), dtype=np.int64)
        for dy in range(-QS_DENS_WIN, QS_DENS_WIN + 1):
            for dx in range(-QS_DENS_WIN, QS_DENS_WIN + 1):
                ys0, ys1 = max(0, -dy), min(h, h - dy)
                xs0, xs1 = max(0, -dx), min(w, w - dx)
                dv = (v[ys0 + dy:ys1 + dy, xs0 + dx:xs1 + dx]
                      - v[ys0:ys1, xs0:xs1])
                d2 = QS_SPACE_W * (dx * dx + dy * dy) + dv * dv
                arg = np.maximum(
                    0.0 - (d2.astype(np.float64) / QS_SIGMA2X2),
                    -700.0)
                dens[ys0:ys1, xs0:xs1] += np.floor(
                    exp_np(arg) * QS_QSCALE).astype(np.int64)
        pid = (np.arange(h, dtype=np.int64)[:, None] * w
               + np.arange(w, dtype=np.int64)[None, :])
        best_d2 = np.full((h, w), np.iinfo(np.int64).max,
                          dtype=np.int64)
        best_pid = np.full((h, w), -1, dtype=np.int64)
        for dy in range(-QS_LINK_WIN, QS_LINK_WIN + 1):
            for dx in range(-QS_LINK_WIN, QS_LINK_WIN + 1):
                if dx == 0 and dy == 0:
                    continue
                ys0, ys1 = max(0, -dy), min(h, h - dy)
                xs0, xs1 = max(0, -dx), min(w, w - dx)
                nb = (slice(ys0 + dy, ys1 + dy),
                      slice(xs0 + dx, xs1 + dx))
                me = (slice(ys0, ys1), slice(xs0, xs1))
                dv = v[nb] - v[me]
                d2 = QS_SPACE_W * (dx * dx + dy * dy) + dv * dv
                cand = dens[nb] > dens[me]
                better = cand & (
                    (d2 < best_d2[me])
                    | ((d2 == best_d2[me])
                       & (pid[nb] < best_pid[me])))
                bd, bp = best_d2[me], best_pid[me]
                bd[better] = d2[better]
                bp[better] = pid[nb][better]
                best_d2[me], best_pid[me] = bd, bp
        parent = np.where(best_pid >= 0, best_pid, pid).ravel()
        while True:
            gp = parent[parent]
            if (gp == parent).all():
                break
            parent = gp
        roots, inv, counts = np.unique(
            parent, return_inverse=True, return_counts=True)
        cks = np.zeros(roots.size, dtype=np.int64)
        np.add.at(cks, inv, pid.ravel())
        for si in range(roots.size):
            out["image_id"].append(image_id)
            out["seg_id"].append(si + 1)
            out["root"].append(int(roots[si]))
            out["n_pix"].append(int(counts[si]))
            out["px_ck"].append(int(cks[si]))

    return codec.map_images(images, per_image, _QS_SCHEMA, dtype=np.int64)


_WS_PACK = 512      # key = bottleneck * 512 + marker_id (m < 512)
_WS_INF = np.int64(1) << 62


def watershed_basins(images: DataFrame) -> DataFrame:
    """segmentation.skimgseg watershed wrapper, deterministic form:
    watershed by BOTTLENECK (minimax) topographic distance.

    Flood-order watershed (Vincent-Soille immersion) is queue-order
    dependent at plateaus; the topographic-distance formulation is not:
    every cell joins the basin of the marker it can reach with the
    LOWEST possible path maximum (the minimax/bottleneck distance),
    ties -> lowest marker id — a well-defined label per cell that any
    relaxation order converges to.

    * surface: the 8x8 block-sum pyramid of the decoded plane (the
      leastcost grid convention — keeps the oracle's unrolled
      relaxation tractable);
    * markers: strict 4-neighbour local minima of the grid, id = flat
      grid index (plateau cells are never markers — strict <);
    * state per cell: packed key ``bottleneck * 512 + marker``
      (bottleneck <= 64*1023 < 2^17, marker < 512 on <=17x17 grids, so
      integer min == lexicographic (bottleneck, marker) min — the same
      pack-trick as the quickshift oracle);
    * relax to fixpoint: key_p = min(key_p, pack(max(b_q, c_p), m_q))
      over the 4 neighbours q; the oracle unrolls 48 rounds
      and test_segmentation asserts corpus convergence within 40
      (NOTES lesson-20 margin discipline).  Images whose grid has no
      strict local minimum would flood nothing (key stays INF) — both
      engines would emit basin = -1; the corpus always has minima.

    Output: one row per (image_id, basin marker) with member count and
    flat-index checksum, plus the basin's marker elevation.
    """
    from .leastcost import block_costs

    def per_image(out, image_id, v):
        c = block_costs(v)
        key, gh, gw = _ws_relax(c)
        m = np.where(key < _WS_INF, key % _WS_PACK,
                     np.int64(-1)).ravel()
        fid = np.arange(gh * gw, dtype=np.int64)
        basins, inv, counts = np.unique(
            m, return_inverse=True, return_counts=True)
        cks = np.zeros(basins.size, dtype=np.int64)
        np.add.at(cks, inv, fid)
        for bi in range(basins.size):
            b = int(basins[bi])
            out["image_id"].append(image_id)
            out["basin"].append(b)
            out["n_cells"].append(int(counts[bi]))
            out["cell_ck"].append(int(cks[bi]))
            out["marker_c"].append(
                int(c.ravel()[b]) if b >= 0 else None)

    schema = StructType([
        StructField("image_id", StringType()),
        StructField("basin", LongType()),
        StructField("n_cells", LongType()),
        StructField("cell_ck", LongType()),
        StructField("marker_c", LongType()),
    ])
    return codec.map_images(images, per_image, schema, dtype=np.int64)


def _ws_relax(c: np.ndarray, max_rounds: int | None = None):
    """Packed-key bottleneck relaxation to fixpoint; returns
    (key grid, gh, gw).  ``max_rounds`` caps iterations (for the
    convergence-margin test)."""
    gh, gw = c.shape
    fid = (np.arange(gh, dtype=np.int64)[:, None] * gw
           + np.arange(gw, dtype=np.int64)[None, :])
    is_min = np.ones((gh, gw), dtype=bool)
    for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):
        ys0, ys1 = max(0, -dy), min(gh, gh - dy)
        xs0, xs1 = max(0, -dx), min(gw, gw - dx)
        me = (slice(ys0, ys1), slice(xs0, xs1))
        nb = (slice(ys0 + dy, ys1 + dy), slice(xs0 + dx, xs1 + dx))
        sub = is_min[me]
        sub &= c[me] < c[nb]
        is_min[me] = sub
    key = np.full((gh, gw), _WS_INF, dtype=np.int64)
    key[is_min] = c[is_min] * _WS_PACK + fid[is_min]
    rounds = 0
    while True:
        new = key.copy()
        for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):
            ys0, ys1 = max(0, -dy), min(gh, gh - dy)
            xs0, xs1 = max(0, -dx), min(gw, gw - dx)
            me = (slice(ys0, ys1), slice(xs0, xs1))
            nb = (slice(ys0 + dy, ys1 + dy), slice(xs0 + dx, xs1 + dx))
            kq = key[nb]
            ok = kq < _WS_INF
            b = np.maximum(kq // _WS_PACK, c[me])
            cand = np.where(ok, b * _WS_PACK + kq % _WS_PACK, _WS_INF)
            new[me] = np.minimum(new[me], cand)
        rounds += 1
        if (new == key).all():
            break
        key = new
        if max_rounds is not None and rounds >= max_rounds:
            break
    _ws_relax.last_rounds = rounds
    return key, gh, gw


FH_K = 4000         # Felsenszwalb scale parameter (tau(C) = K / |C|)


def felzenszwalb_segments(images: DataFrame, k: int = FH_K) -> DataFrame:
    """segmentation.skimgseg felzenszwalb wrapper — the graph-based
    segmentation of Felzenszwalb & Huttenlocher (IJCV 2004) itself:
    process edges in ascending weight order; merge the two components
    iff the edge weight w satisfies ``w <= MInt(C1, C2) = min(Int(Ci) +
    k/|Ci|)`` where Int(C) is the max internal (MST) edge weight.

    ROWS-ONLY entry (like alpha_shape/dem_fill/tmask): the algorithm is
    a SEQUENTIAL scan over globally sorted edges with an adaptive
    per-component threshold — each merge decision depends on every
    earlier one, so it is not SQL-expressible; pytest asserts the
    paper's Theorem-1 "not too fine" property (every pair of adjacent
    final segments is separated by an edge strictly above both
    components' thresholds) plus partition/monotonicity invariants.

    Determinism: grid = the 8x8 block-sum surface (mod-53 subset);
    edges = 4-neighbour |c_u - c_v|, totally ordered by (w, edge id);
    the threshold test is cleared of the float division — ``w * |C| <=
    Int(C) * |C| + k`` exact in int64; component root canonicalised to
    the minimum member cell id.

    Output: one row per (image_id, segment root) with n_cells, flat-id
    checksum and the component's internal max edge weight.
    """
    from .leastcost import block_costs

    def per_image(out, image_id, v):
        c = block_costs(v)
        roots, nc, ck, im = _fh_run(c, k)
        out["image_id"].extend([image_id] * len(roots))
        out["root"].extend(roots)
        out["n_cells"].extend(nc)
        out["cell_ck"].extend(ck)
        out["int_max"].extend(im)

    schema = StructType([
        StructField("image_id", StringType()),
        StructField("root", LongType()),
        StructField("n_cells", LongType()),
        StructField("cell_ck", LongType()),
        StructField("int_max", LongType()),
    ])
    return codec.map_images(images, per_image, schema, dtype=np.int64)


def _fh_run(c: np.ndarray, k: int):
    """Sequential FH over the grid; returns per-segment
    (root fids, counts, checksums, internal max edge weights)."""
    gh, gw = c.shape
    n = gh * gw
    cf = c.ravel()
    edges = []
    for y in range(gh):
        for x in range(gw):
            u = y * gw + x
            if x + 1 < gw:
                edges.append((abs(int(cf[u]) - int(cf[u + 1])), u, u + 1))
            if y + 1 < gh:
                edges.append((abs(int(cf[u]) - int(cf[u + gw])), u,
                              u + gw))
    # total order: (weight, smaller endpoint, larger endpoint)
    edges.sort()
    parent = list(range(n))
    size = [1] * n
    internal = [0] * n

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for w_, u, v in edges:
        ru, rv = find(u), find(v)
        if ru == rv:
            continue
        # w <= Int(C) + k/|C| for BOTH components, cleared of division
        if (w_ * size[ru] <= internal[ru] * size[ru] + k
                and w_ * size[rv] <= internal[rv] * size[rv] + k):
            # canonical root: the smaller fid survives
            ra, rb = (ru, rv) if ru < rv else (rv, ru)
            parent[rb] = ra
            size[ra] += size[rb]
            internal[ra] = max(internal[ra], internal[rb], w_)

    lab = np.fromiter((find(i) for i in range(n)), dtype=np.int64,
                      count=n)
    roots, inv, counts = np.unique(lab, return_inverse=True,
                                   return_counts=True)
    cks = np.zeros(roots.size, dtype=np.int64)
    np.add.at(cks, inv, np.arange(n, dtype=np.int64))
    ims = [internal[int(r)] for r in roots]
    return ([int(r) for r in roots], [int(x) for x in counts],
            [int(x) for x in cks], [int(x) for x in ims])


RW_BETA_DEN = 2097152.0   # weight arg = -(dv^2) / RW_BETA_DEN
RW_ROUNDS = 40            # fixed Jacobi unroll
RW_POT_Q = 1048576.0      # potential output quantiser 2^20


def random_walker_basins(images: DataFrame,
                         rounds: int = RW_ROUNDS) -> DataFrame:
    """segmentation.skimgseg random_walker wrapper (Grady, PAMI 2006)
    in a deterministic fixed-round form.

    Random-walker segmentation solves the combinatorial Dirichlet
    problem: the probability x_p that a random walker from cell p
    reaches seed A before seed B is the harmonic function with x=1 at
    A, x=0 at B, edge weights ``w = exp(-(c_u - c_v)^2 / beta)``.  The
    reference's skimage call solves the sparse linear system directly;
    the engine runs ``RW_ROUNDS`` unrolled JACOBI sweeps — each round
    computes, for every non-seed cell,

        x'_p = (wN*xN + wS*xS + wW*xW + wE*xE) / (wN + wS + wW + wE)

    with the neighbour terms added in the FIXED order N, S, W, E
    (missing neighbours contribute literal 0.0) and the weights through
    the pinned detmath exp tree — every double op is identical and
    identically ordered in numpy and SQL, so the iterate is bitwise
    reproducible and fully oracle-checkable (no rows-only fallback).

    Grid/seeds (deterministic): the 8x8 block-sum surface (mod-53
    subset); seed A = the min-value cell, seed B = the max-value cell,
    ties -> lowest flat id (degenerate all-equal grids would make A=B
    and are dropped by both engines — the corpus has none).  Label =
    x > 0.5 after the final round (exact double compare).

    Output per image: cell counts per label, the quantised-potential
    checksum sum(floor(x * 2^20)) (exact integer sum), and the seeds.
    """
    from ..functions.detmath import exp_np
    from .leastcost import block_costs

    def per_image(out, image_id, v):
        c = block_costs(v)
        gh, gw = c.shape
        cf = c.ravel()
        sa = int(np.argmin(cf))         # first min -> lowest fid
        sb = int(np.argmax(cf))         # first max -> lowest fid
        if sa == sb:
            return
        # edge weight to each of the 4 neighbours (0 outside)
        wgt = {}
        for tag, dy, dx in (("N", -1, 0), ("S", 1, 0),
                            ("W", 0, -1), ("E", 0, 1)):
            g = np.zeros((gh, gw), dtype=np.float64)
            ys0, ys1 = max(0, -dy), min(gh, gh - dy)
            xs0, xs1 = max(0, -dx), min(gw, gw - dx)
            me = (slice(ys0, ys1), slice(xs0, xs1))
            nb = (slice(ys0 + dy, ys1 + dy),
                  slice(xs0 + dx, xs1 + dx))
            dv = (c[nb] - c[me]).astype(np.float64)
            arg = np.maximum(
                0.0 - ((dv * dv) / RW_BETA_DEN), -700.0)
            g[me] = exp_np(arg)
            wgt[tag] = g
        x = np.zeros((gh, gw), dtype=np.float64)
        x.ravel()[sa] = 1.0
        seeds = np.zeros((gh, gw), dtype=bool)
        seeds.ravel()[[sa, sb]] = True

        def shift(a, dy, dx):
            o = np.zeros_like(a)
            ys0, ys1 = max(0, -dy), min(gh, gh - dy)
            xs0, xs1 = max(0, -dx), min(gw, gw - dx)
            o[ys0:ys1, xs0:xs1] = a[ys0 + dy:ys1 + dy,
                                    xs0 + dx:xs1 + dx]
            return o

        for _ in range(rounds):
            num = wgt["N"] * shift(x, -1, 0)
            num = num + wgt["S"] * shift(x, 1, 0)
            num = num + wgt["W"] * shift(x, 0, -1)
            num = num + wgt["E"] * shift(x, 0, 1)
            den = wgt["N"] + wgt["S"]
            den = den + wgt["W"]
            den = den + wgt["E"]
            xn = num / den
            x = np.where(seeds, x, xn)
        lab_a = x > 0.5
        pot = np.floor(x * RW_POT_Q).astype(np.int64)
        out["image_id"].append(image_id)
        out["n_cells"].append(gh * gw)
        out["n_a"].append(int(lab_a.sum()))
        out["n_b"].append(int(gh * gw - lab_a.sum()))
        out["seed_a"].append(sa)
        out["seed_b"].append(sb)
        out["pot_ck"].append(int(pot.sum()))

    schema = StructType([
        StructField("image_id", StringType()),
        StructField("n_cells", LongType()),
        StructField("n_a", LongType()),
        StructField("n_b", LongType()),
        StructField("seed_a", LongType()),
        StructField("seed_b", LongType()),
        StructField("pot_ck", LongType()),
    ])
    return codec.map_images(images, per_image, schema, dtype=np.int64)
