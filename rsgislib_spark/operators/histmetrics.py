"""Histogram separability metrics needing a logarithm.

Reference:
* rastergis.calc_bhattacharyya_distance (python/src/rastergis method
  table; RSGISCalcClumpStats / RSGISRATStats bhattacharyya):
  B = 1/8 (mu1-mu2)^2 * 2/(s1^2+s2^2) + 1/2 ln((s1^2+s2^2)/(2 s1 s2))
  between the band-1 populations of two classes.
* tools.stats.calc_yen_threshold (tools/stats.py:679, after
  scikit-image): crit(t) = ln( (p1 (1-p1))^2 / (P1sq * P2sq) ),
  threshold = argmax.  On the exact value-level histogram this
  rationalises to   crit = 2(ln c + ln(N-c)) - ln A1 - ln A2
  with c = cum count, A1/A2 = cum sums of squared counts — EVERY ln
  argument an exact integer.

Both use the pinned cross-engine ln tree (functions/detmath) — the
whole metric is correctly-rounded primitives on identical inputs, so
the 2^20-quantized outputs are exact-hash safe.  Deviations from the
reference, documented: Yen runs on the exact integer histogram (the
reference bins adaptively and normalises in float32); Bhattacharyya
compares the quartile classes 0 and 1 of the class plane with
population variance A/n^2 (n-normalised), and degenerate inputs
(class < 2 px or zero variance) emit the -1 sentinel row.
"""
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from .. import synth
from ..functions import codec
from ..functions.detmath import LN2, ln_pos_np

__all__ = ["bhatt_dist_stats", "yen_threshold_stats", "jm_dist_stats",
           "jm2d_dist_stats", "isodata_threshold_stats",
           "cross_entropy_stats", "li_threshold_stats", "CE_THRESHOLD",
           "LI_ROUNDS"]

_Q = 1048576.0

_BH_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n1", LongType()),
    StructField("n2", LongType()),
    StructField("sum1", LongType()),
    StructField("sum2", LongType()),
    StructField("term1_q", LongType()),
    StructField("b_q", LongType()),
])


def bhatt_dist_stats(images: DataFrame) -> DataFrame:
    """Bhattacharyya distance between quartile classes 0 and 1 of the
    band-1 plane, one row per image.  Pinned tree:

        d_i   = A_i / n_i^2            (A_i = n_i*S2_i - S_i^2, exact)
        term1 = ((mu1-mu2)^2 / (d1+d2)) * 0.25
        B     = term1 + ((ln(d1+d2) - LN2) - ln(d1*d2)*0.5) * 0.5
    """

    def per_image(out, image_id, v, fmt):
        cls = (v * 4) // synth.pmax(fmt)
        row = {"image_id": image_id}
        pops = []
        for c in (0, 1):
            vals = v[cls == c]
            n = int(vals.size)
            S = int(vals.sum())
            S2 = int((vals * vals).sum())
            pops.append((n, S, S2))
        (n1, s1, s21), (n2, s2, s22) = pops
        a1 = n1 * s21 - s1 * s1
        a2 = n2 * s22 - s2 * s2
        out["image_id"].append(image_id)
        out["n1"].append(n1)
        out["n2"].append(n2)
        out["sum1"].append(s1)
        out["sum2"].append(s2)
        if n1 < 2 or n2 < 2 or a1 == 0 or a2 == 0:
            out["term1_q"].append(-1)
            out["b_q"].append(-1)
            return
        d1 = float(a1) / float(n1 * n1)
        d2 = float(a2) / float(n2 * n2)
        mu1 = float(s1) / float(n1)
        mu2 = float(s2) / float(n2)
        md = mu1 - mu2
        num = d1 + d2
        term1 = ((md * md) / num) * 0.25
        b = term1 + ((float(ln_pos_np(num)) - LN2)
                     - float(ln_pos_np(d1 * d2)) * 0.5) * 0.5
        out["term1_q"].append(int(np.floor(term1 * _Q)))
        out["b_q"].append(int(np.floor(b * _Q)))

    return codec.map_images(images, per_image, _BH_SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)


_YEN_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_cand", LongType()),
    StructField("thr_v", LongType()),
    StructField("max_crit_q", LongType()),
    StructField("sum_crit_q", LongType()),
])


def yen_threshold_stats(images: DataFrame) -> DataFrame:
    """Yen threshold over the exact per-image value histogram; one row
    per image with the argmax value (ties -> smallest value, the
    ascending-scan convention), the max criterion, and the
    quantized-criterion checksum over all candidates."""

    def per_image(out, image_id, v):
        vals, cnts = np.unique(v, return_counts=True)
        cnts = cnts.astype(np.int64)
        N = int(cnts.sum())
        c = np.cumsum(cnts)
        a1 = np.cumsum(cnts * cnts)
        atot = int(a1[-1])
        keep = c < N                     # t < vmax
        cv, cc, ca1 = vals[keep], c[keep], a1[keep]
        ca2 = atot - ca1
        crit = ((ln_pos_np(cc.astype(np.float64))
                 + ln_pos_np((N - cc).astype(np.float64))) * 2.0
                - (ln_pos_np(ca1.astype(np.float64))
                   + ln_pos_np(ca2.astype(np.float64))))
        q = np.floor(crit * _Q).astype(np.int64)
        k = int(np.argmax(q))            # first max = smallest v
        out["image_id"].append(image_id)
        out["n_cand"].append(int(cv.size))
        out["thr_v"].append(int(cv[k]))
        out["max_crit_q"].append(int(q[k]))
        out["sum_crit_q"].append(int(q.sum()))

    return codec.map_images(images, per_image, _YEN_SCHEMA, dtype=np.int64)


_JM_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n1", LongType()),
    StructField("n2", LongType()),
    StructField("n_bins", LongType()),
    StructField("sum_bc_q", LongType()),
    StructField("jm_q", LongType()),
])

_BCQ = 1073741824.0  # 2^30 per-bin quantizer (order-free integer sum)


def _jm_from_hists(out, image_id, k1, c1, k2, c2):
    """Shared-bin Bhattacharyya coefficient -> JM distance.

    Reference: RSGISRATStats::calc1DJMDistance
    (src/rastergis/RSGISRATStats.cpp:130-141): sum over shared bins of
    sqrt(p1_i * p2_i), dist = sqrt(2*(1 - sum)).  Determinism: each
    bin term sqrt(n1_i*n2_i / (N1*N2)) is one exact-int division + one
    sqrt, 2^30-quantized BEFORE summation so the (order-unspecified)
    aggregation is an exact integer sum; the final
    sqrt((1 - sum/2^30)*2) is three more correctly-rounded ops."""
    n1t, n2t = int(sum(c1.values())), int(sum(c2.values()))
    out["image_id"].append(image_id)
    out["n1"].append(n1t)
    out["n2"].append(n2t)
    if n1t == 0 or n2t == 0:
        out["n_bins"].append(0)
        out["sum_bc_q"].append(-1)
        out["jm_q"].append(-1)
        return
    den = float(n1t * n2t)
    shared = set(c1) & set(c2)
    sq = 0
    for b in shared:
        t = np.sqrt(float(c1[b] * c2[b]) / den)
        sq += int(np.floor(t * _BCQ))
    u = float(sq) / _BCQ
    jm = np.sqrt((1.0 - u) * 2.0)
    out["n_bins"].append(len(shared))
    out["sum_bc_q"].append(sq)
    out["jm_q"].append(int(np.floor(jm * _Q)))


def _cls_split(v, pmax):
    cls = (v * 4) // pmax
    return cls == 0, cls == 1


def jm_dist_stats(images: DataFrame) -> DataFrame:
    """rastergis.calc_1d_jm_distance: JM distance between the BAND-2
    value histograms of quartile classes 0 and 1 (class col = b1
    quartile, var col = b2 — overlapping supports, binWidth 1 on the
    integer values)."""

    def per_image(out, image_id, v, fmt):
        mv = v[:, ::-1]
        m0, m1 = _cls_split(v, synth.pmax(fmt))
        c1 = dict(zip(*[a.tolist() for a in
                        np.unique(mv[m0], return_counts=True)]))
        c2 = dict(zip(*[a.tolist() for a in
                        np.unique(mv[m1], return_counts=True)]))
        _jm_from_hists(out, image_id, None, c1, None, c2)

    return codec.map_images(images, per_image, _JM_SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)


def jm2d_dist_stats(images: DataFrame) -> DataFrame:
    """rastergis.calc_2d_jm_distance: the same JM over the 2-D
    histogram of (b2, b1 % 64) — two var columns, both with
    cross-class support."""

    def per_image(out, image_id, v, fmt):
        mv = v[:, ::-1]
        m0, m1 = _cls_split(v, synth.pmax(fmt))
        key = mv * 64 + (v % 64)   # 2-D bin packed
        c1 = dict(zip(*[a.tolist() for a in
                        np.unique(key[m0], return_counts=True)]))
        c2 = dict(zip(*[a.tolist() for a in
                        np.unique(key[m1], return_counts=True)]))
        _jm_from_hists(out, image_id, None, c1, None, c2)

    return codec.map_images(images, per_image, _JM_SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)


_ISO_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_fixed", LongType()),
    StructField("thr_v", LongType()),
])


def isodata_threshold_stats(images: DataFrame) -> DataFrame:
    """tools.stats.calc_isodata_threshold (tools/stats.py:717,
    Ridler-Calvard inter-means, after scikit-image) on the exact
    value-level histogram: threshold = first value v (ascending) with
    0 <= (lower+higher)/2 - v < 1.  The predicate cross-multiplies to
    the PURE INTEGER test  2v*b*d <= a*d + c*b < (2v+2)*b*d  with
    a/b = mean below, c/d = mean above — no floats anywhere."""

    def per_image(out, image_id, v):
        vals, cnts = np.unique(v, return_counts=True)
        N = int(cnts.sum())
        Stot = int((vals * cnts).sum())
        b = np.cumsum(cnts)
        a = np.cumsum(vals * cnts)
        keep = b < N
        vv, bb, aa = vals[keep], b[keep], a[keep]
        cc, dd = Stot - aa, N - bb
        lhs = aa * dd + cc * bb
        lo = 2 * vv * bb * dd
        hit = (lo <= lhs) & (lhs < lo + 2 * bb * dd)
        out["image_id"].append(image_id)
        out["n_pix"].append(N)
        out["n_fixed"].append(int(hit.sum()))
        out["thr_v"].append(
            int(vv[hit][0]) if hit.any() else -1)

    return codec.map_images(images, per_image, _ISO_SCHEMA, dtype=np.int64)


_CE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_lo", LongType()),
    StructField("n_hi", LongType()),
    StructField("ce_q", LongType()),
])

CE_THRESHOLD = 100  # on the +1-offset plane (reference min<1 rule)


def cross_entropy_stats(images: DataFrame,
                        threshold: int = CE_THRESHOLD) -> DataFrame:
    """tools.stats.calc_hist_cross_entropy (tools/stats.py:787, Li &
    Lee 1993 eq. 8): nu = -m1a ln(mua) - m1b ln(mub) on the exact
    value-level histogram of the +1-offset plane (values include 0, so
    the reference's min<1 offset rule always applies).  m1* are exact
    ratios S*/N, mu* exact ratios S*/N*; both ln's via the pinned
    tree.  -1 sentinel when a side is empty."""

    def per_image(out, image_id, v):
        v = v + 1
        N = int(v.size)
        lo = v <= threshold
        na, sa = int(lo.sum()), int(v[lo].sum())
        nb, sb = N - na, int(v.sum()) - sa
        out["image_id"].append(image_id)
        out["n_lo"].append(na)
        out["n_hi"].append(nb)
        if na == 0 or nb == 0:
            out["ce_q"].append(-1)
            return
        m1a = float(sa) / float(N)
        m1b = float(sb) / float(N)
        mua = float(sa) / float(na)
        mub = float(sb) / float(nb)
        nu = (0.0 - m1a * float(ln_pos_np(mua))) \
            - m1b * float(ln_pos_np(mub))
        out["ce_q"].append(int(np.floor(nu * _Q)))

    return codec.map_images(images, per_image, _CE_SCHEMA, dtype=np.int64)


_LI_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_fore", LongType()),
    StructField("t_q", LongType()),
])

LI_ROUNDS = 16


def li_threshold_stats(images: DataFrame,
                       rounds: int = LI_ROUNDS) -> DataFrame:
    """tools.stats.calc_li_threshold (tools/stats.py:834, Li & Lee
    1993 gradient iteration, after scikit-image):
    t <- (mean_back - mean_fore)/(ln mean_back - ln mean_fore),
    started from the plane mean.  Engine variant (documented): a FIXED
    unroll of 16 rounds replaces the data-dependent tolerance stop
    (worst image converges by round 14 at the reference's 0.5
    tolerance — pytest); the +1 offset rule
    applies as in cross_entropy; degenerate rounds (one side empty or
    equal means) carry t forward unchanged."""

    def per_image(out, image_id, v):
        v = v + 1
        N = int(v.size)
        S = int(v.sum())
        t = float(S) / float(N)
        for _ in range(rounds):
            fore = v > t
            nf = int(fore.sum())
            nb = N - nf
            if nf == 0 or nb == 0:
                continue
            sf = int(v[fore].sum())
            mf = float(sf) / float(nf)
            mb = float(S - sf) / float(nb)
            # guard the LOG difference (ADVICE r4): distinct
            # means may round to equal ln_pos values; carry t
            # forward, same spelling as the oracle's lnmb=lnmf.
            d = float(ln_pos_np(mb)) - float(ln_pos_np(mf))
            if d == 0.0:
                continue
            t = (mb - mf) / d
        nf = int((v > t).sum())
        out["image_id"].append(image_id)
        out["n_pix"].append(N)
        out["n_fore"].append(nf)
        out["t_q"].append(int(np.floor(t * _Q)))

    return codec.map_images(images, per_image, _LI_SCHEMA, dtype=np.int64)


_KS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_cand", LongType()),
    StructField("thr_v", LongType()),
    StructField("crit_q", LongType()),
    StructField("n_sub", LongType()),
])


def kurt_skew_threshold_stats(images: DataFrame) -> DataFrame:
    """tools.stats.calc_kurt_skew_threshold (tools/stats.py:900):
    minimise |kurtosis| + |skew| of the data ABOVE the threshold
    (low_thres=True).  Engine variant (documented): the reference's
    stochastic dual-annealing search is replaced by an EXHAUSTIVE scan
    of the integer candidate thresholds — deterministic and globally
    optimal on the discrete grid.  The population moments rationalise
    to exact integers (Python bigint / SQL HUGEINT):

        A2 = n*S2 - S1^2                     (= n^2 m2)
        A3 = n^2 S3 - 3n S1 S2 + 2 S1^3      (= n^3 m3)
        A4 = n^3 S4 - 4n^2 S1 S3 + 6n S1^2 S2 - 3 S1^4   (= n^4 m4)
        skew = A3 / (A2 * sqrt(A2));  kurt = A4 / A2^2 - 3

    so the criterion |kurt| + |skew| is a pinned tree on exact-int
    casts; argmin ties go to the smallest threshold.  Candidates need
    n_sub >= 4 and A2 > 0."""

    def per_image(out, image_id, v):
        vals, cnts = np.unique(v, return_counts=True)
        # suffix sums over strictly-greater values: at index i,
        # subset = data > vals[i]
        def _suffix(a):
            return np.concatenate(
                [np.cumsum(a[::-1])[::-1][1:], [0]])
        sn = _suffix(cnts)
        s1 = _suffix(vals * cnts)
        s2 = _suffix(vals ** 2 * cnts)
        s3 = _suffix(vals ** 3 * cnts)
        s4 = _suffix(vals ** 4 * cnts)
        best = None
        n_cand = 0
        for i in range(vals.size):
            n = int(sn[i])
            if n < 4:
                continue
            S1, S2, S3, S4 = (int(s1[i]), int(s2[i]),
                              int(s3[i]), int(s4[i]))
            a2 = n * S2 - S1 * S1
            if a2 <= 0:
                continue
            n_cand += 1
            a3 = n * n * S3 - 3 * n * S1 * S2 + 2 * S1 ** 3
            a4 = (n ** 3 * S4 - 4 * n * n * S1 * S3
                  + 6 * n * S1 * S1 * S2 - 3 * S1 ** 4)
            a2d = float(a2)
            sk = float(a3) / (a2d * np.sqrt(a2d))
            ku = float(a4) / (a2d * a2d) - 3.0
            cq = int(np.floor((abs(ku) + abs(sk)) * _Q))
            key = (cq, int(vals[i]))
            if best is None or key < best[:2]:
                best = (cq, int(vals[i]), n)
        out["image_id"].append(image_id)
        out["n_cand"].append(n_cand)
        if best is None:
            out["thr_v"].append(-1)
            out["crit_q"].append(-1)
            out["n_sub"].append(-1)
        else:
            out["thr_v"].append(best[1])
            out["crit_q"].append(best[0])
            out["n_sub"].append(best[2])

    return codec.map_images(images, per_image, _KS_SCHEMA, dtype=np.int64)
