"""changedetect.pxloutlierchng: per-class outlier finders.

Reference (python/rsgislib/changedetect/pxloutlierchng.py):

* ``find_class_otsu_outliers``  (:344) — Otsu threshold over the pixel
  values inside a class mask (nodata excluded), then the band_math
  classification ``(val==nd)?0:(msk==mv)&&(val<t)?2:(msk==mv)?1:0``
  (low_thres=True form; high form flips to ``val>t``).
* ``find_class_li_outliers``    (:436) — same wrapper around Li's
  minimum-cross-entropy iteration (tools/stats.py:834).
* ``find_class_kurt_skew_outliers`` (:229) — same wrapper around the
  |kurtosis|+|skew| minimisation (tools/stats.py:900).

The class mask is the repo's quantised classification plane
``cls = (vp // 64) % 4 + 1`` over the perturbed mirror plane vp (the
same classification lattice the rastergis family labels), mask value
2, value-plane nodata 7.  Threshold engines reuse the exact
machinery documented on ``imagemath.otsu_threshold_stats``,
``histmetrics.li_threshold_stats`` (incl. its +1 offset rule and
16-round fixed unroll) and ``histmetrics.kurt_skew_threshold_stats``
(exhaustive integer-grid scan replacing dual annealing) — restricted
to the masked, nodata-free subset.  Images whose masked subset cannot
support the threshold (empty, or <2 distinct values for Otsu, or no
>=4-pixel candidate subset for kurt-skew) are dropped by BOTH engines.
"""
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from .. import synth
from ..functions import codec
from ..functions.detmath import ln_pos_np

__all__ = ["class_otsu_outliers_stats", "class_li_outliers_stats",
           "class_kurt_skew_outliers_stats", "CD_MASK_VAL", "CD_NODATA"]

CD_MASK_VAL = 2
CD_NODATA = 7
_Q = 1048576.0
_LI_ROUNDS = 16


def _cls_plane(vp):
    return (vp // 64) % 4 + 1


def _classify_counts(v, cls, pred_outlier):
    """Reference band_math: nd->0; mask&outlier->2; mask->1; else 0."""
    in_mask = cls == CD_MASK_VAL
    valid = v != CD_NODATA
    chng = in_mask & valid & pred_outlier
    nochng = in_mask & valid & ~pred_outlier
    return int((in_mask & valid).sum()), int(chng.sum()), \
        int(nochng.sum())


_OTSU_CD_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("thres", LongType()),
    StructField("n_mask", LongType()),
    StructField("n_chng", LongType()),
    StructField("n_nochng", LongType()),
])


def class_otsu_outliers_stats(images: DataFrame) -> DataFrame:
    """find_class_otsu_outliers (pxloutlierchng.py:344), low_thres=True:
    outliers are masked pixels with val < otsu(masked values)."""

    def per_image(out, image_id, v, fmt, iid):
        vp = _perturbed(v, fmt, iid)
        cls = _cls_plane(vp)
        data = v[(cls == CD_MASK_VAL) & (v != CD_NODATA)]
        vals, cnts = np.unique(data, return_counts=True)
        if vals.size < 2:
            return
        w0 = np.cumsum(cnts)[:-1]
        s0 = np.cumsum(vals * cnts)[:-1]
        n = data.size
        s = int((vals * cnts).sum())
        w1 = n - w0
        nn = s0 * w1 - (s - s0) * w0
        score = (nn.astype(np.float64) / w0) \
            * nn.astype(np.float64) / w1
        t = int(vals[int(np.argmax(score))])
        n_mask, n_chng, n_nochng = _classify_counts(
            v, cls, v < t)
        out["image_id"].append(image_id)
        out["thres"].append(t)
        out["n_mask"].append(n_mask)
        out["n_chng"].append(n_chng)
        out["n_nochng"].append(n_nochng)

    return codec.map_images(images, per_image, _OTSU_CD_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)


def _perturbed(v, fmt, iid):
    """vp = the engine's perturbed mirror plane (synth twin of bstv.vp:
    clamp(v + ((x*7 + y*3 + id) % 21 - 10)))."""
    h, w = v.shape
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    e = (x * 7 + y * 3 + np.int64(iid)) % 21 - 10
    return np.clip(v + e, 0, synth.pmax(fmt) - 1)


_LI_CD_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("t_q", LongType()),
    StructField("n_mask", LongType()),
    StructField("n_chng", LongType()),
    StructField("n_nochng", LongType()),
])


def class_li_outliers_stats(images: DataFrame) -> DataFrame:
    """find_class_li_outliers (pxloutlierchng.py:436), low_thres=False:
    outliers are masked pixels ABOVE the Li threshold.  The engine's
    documented Li variant applies (histmetrics.li_threshold_stats):
    +1 domain shift, fixed 16-round unroll, degenerate rounds carry t
    forward; the classification compares in the same +1 domain."""

    def per_image(out, image_id, v, fmt, iid):
        vp = _perturbed(v, fmt, iid)
        cls = _cls_plane(vp)
        data = v[(cls == CD_MASK_VAL) & (v != CD_NODATA)] + 1
        if data.size == 0:
            return
        N = int(data.size)
        S = int(data.sum())
        t = float(S) / float(N)
        for _ in range(_LI_ROUNDS):
            fore = data > t
            nf = int(fore.sum())
            nb = N - nf
            if nf == 0 or nb == 0:
                continue
            sf = int(data[fore].sum())
            mf = float(sf) / float(nf)
            mb = float(S - sf) / float(nb)
            # guard the LOG difference, not the mean difference:
            # two distinct means can round to the same ln_pos
            # value, and mb-mf over a zero log gap would raise
            # ZeroDivisionError in the task (ADVICE r4).  Carry
            # t forward, mirroring the oracle's lnmb = lnmf arm.
            d = float(ln_pos_np(mb)) - float(ln_pos_np(mf))
            if d == 0.0:
                continue
            t = (mb - mf) / d
        n_mask, n_chng, n_nochng = _classify_counts(
            v, cls, (v + 1) > t)
        out["image_id"].append(image_id)
        out["t_q"].append(int(np.floor(t * _Q)))
        out["n_mask"].append(n_mask)
        out["n_chng"].append(n_chng)
        out["n_nochng"].append(n_nochng)

    return codec.map_images(images, per_image, _LI_CD_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)


_KS_CD_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("thr_v", LongType()),
    StructField("crit_q", LongType()),
    StructField("n_mask", LongType()),
    StructField("n_chng", LongType()),
    StructField("n_nochng", LongType()),
])


def class_kurt_skew_outliers_stats(images: DataFrame) -> DataFrame:
    """find_class_kurt_skew_outliers (pxloutlierchng.py:229),
    low_thres=True: outliers are masked pixels below the threshold that
    minimises |kurt| + |skew| of the masked data ABOVE it (the engine's
    exhaustive-scan variant of calc_kurt_skew_threshold, see
    histmetrics.kurt_skew_threshold_stats — exact-integer moments,
    ties to the smallest threshold, candidates need n>=4 and A2>0)."""

    def per_image(out, image_id, v, fmt, iid):
        vp = _perturbed(v, fmt, iid)
        cls = _cls_plane(vp)
        data = v[(cls == CD_MASK_VAL) & (v != CD_NODATA)]
        vals, cnts = np.unique(data, return_counts=True)

        def _suffix(a):
            return np.concatenate(
                [np.cumsum(a[::-1])[::-1][1:], [0]])
        if vals.size == 0:
            return
        sn = _suffix(cnts)
        s1 = _suffix(vals * cnts)
        s2 = _suffix(vals ** 2 * cnts)
        s3 = _suffix(vals ** 3 * cnts)
        s4 = _suffix(vals ** 4 * cnts)
        best = None
        for i in range(vals.size):
            n = int(sn[i])
            if n < 4:
                continue
            S1, S2, S3, S4 = (int(s1[i]), int(s2[i]),
                              int(s3[i]), int(s4[i]))
            a2 = n * S2 - S1 * S1
            if a2 <= 0:
                continue
            a3 = n * n * S3 - 3 * n * S1 * S2 + 2 * S1 ** 3
            a4 = (n ** 3 * S4 - 4 * n * n * S1 * S3
                  + 6 * n * S1 * S1 * S2 - 3 * S1 ** 4)
            a2d = float(a2)
            sk = float(a3) / (a2d * np.sqrt(a2d))
            ku = float(a4) / (a2d * a2d) - 3.0
            cq = int(np.floor((abs(ku) + abs(sk)) * _Q))
            if best is None or cq < best[0]:
                best = (cq, int(vals[i]))
        if best is None:
            return
        cq, t = best
        n_mask, n_chng, n_nochng = _classify_counts(
            v, cls, v < t)
        out["image_id"].append(image_id)
        out["thr_v"].append(t)
        out["crit_q"].append(cq)
        out["n_mask"].append(n_mask)
        out["n_chng"].append(n_chng)
        out["n_nochng"].append(n_nochng)

    return codec.map_images(images, per_image, _KS_CD_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)
