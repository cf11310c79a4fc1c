"""tools.stats binary / probabilistic / regression-diagnostic metrics.

Re-expresses the reference's sample-statistics helpers as per-image
distributed aggregates:

* ``binary_scores_stats``  — ``tools.stats.accuracy_scores_binary``
  (/root/reference/python/rsgislib/tools/stats.py:452-600): the full
  16-metric panel over binary (presence/absence) labels.  The reference
  binds ``FP = (true==1 & pred==0)`` and ``FA = (true==0 & pred==1)``
  (stats.py:516-517) — the *opposite* of the conventional names — and
  every formula below reproduces the reference's expressions verbatim
  under that binding (including ``prevalence = (TP/FA)/n``,
  stats.py:522, and ``PPP = precision = TP/(TP+FP)`` which under the
  reference's binding equals sensitivity).
* ``prob_scores_stats``    — ``tools.stats.bin_accuracy_scores_prob``
  (stats.py:376-450): ROC-AUC (Mann-Whitney with average-rank tie
  handling), point-biserial r, average precision, Brier score and
  log-loss over a probability-of-presence column.
* ``breusch_pagan_stats``  — ``tools.stats.breusch_pagan_test``
  (stats.py:313-373): OLS fit, auxiliary regression of the squared
  residuals, Lagrange-multiplier statistic ``LM = n * R2_aux`` and the
  reference's three-way CI classification.
* ``vif_scores_stats``     — ``tools.stats.calc_pandas_vif``
  (stats.py:11-82): per-predictor variance inflation factors from
  regressing each column on the remaining two (``R2 == 1 -> 0.0``
  sentinel exactly as the reference).
* ``hist_nbins_stats``     — ``tools.stats.get_nbins_histogram`` +
  ``get_bin_centres`` (stats.py:604-639): Freedman-Diaconis bin count
  ``int((max-min)/(2*IQR*n^(-1/3))) + 2`` and the arithmetic/geometric
  bin centres of the exact quartile edge set.

Determinism contract (NOTES.md doctrine): every metric is either an
exact integer aggregate, a single correctly-rounded IEEE division /
sqrt of integers < 2^53, or a pinned-order sum of per-term 2^30
quantized logs through :mod:`rsgislib_spark.functions.detmath` — so the
DuckDB oracles in :mod:`rsgislib_spark.oracles` reproduce every value
bit-for-bit.  Where a true OLS residual is irrational, the engine pins
a *quantized residual* ``r16 = floor(16 * resid_num / det)`` (exact
integer floor division — no >2^53 value ever passes through a double,
the DuckDB HUGEINT->DOUBLE cast is not IEEE-nearest above 2^53).

Scale note: one shuffle-free ``mapInArrow`` pass; all statistics are
per-image (partitionable by construction), so the plan at 100 TB is
embarrassingly parallel over the image dimension.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions import codec
from ..functions.detmath import ln_pos_np
from .classification import residual_plane

__all__ = [
    "binary_scores_stats",
    "prob_scores_stats",
    "breusch_pagan_stats",
    "vif_scores_stats",
    "hist_nbins_stats",
    "BP_CHI2_99_DF1",
    "BP_CHI2_95_DF1",
]

_Q = 1048576.0       # 2^20 quantizer (exact power-of-two multiply)
_Q30 = 1073741824.0  # 2^30 per-term quantizer for order-free log sums

#: chi-square critical values, df=1 (scipy.stats.chi2.isf(q, 1)); the
#: reference thresholds the p-value at 0.01/0.05 (stats.py:366-371) —
#: equivalent to thresholding LM at these constants from above.
BP_CHI2_99_DF1 = 6.6348966010212145
BP_CHI2_95_DF1 = 3.841458820694124


def _rq(num, den):
    """floor((num/den) * 2^20), -1 sentinel for den == 0 (ints < 2^53)."""
    if den == 0:
        return -1
    return int(np.floor((float(num) / float(den)) * _Q))


def _ln_i(k: int) -> float:
    """Cross-engine ln of a positive integer via the detmath tree."""
    return float(ln_pos_np(np.array([float(k)]))[0])


# --------------------------------------------------------------------------
# accuracy_scores_binary
# --------------------------------------------------------------------------

_BIN_SCHEMA = StructType(
    [StructField("image_id", StringType())]
    + [StructField(c, LongType()) for c in
       ("n", "tp", "ta", "fp", "fa",
        "prev_q", "odp_q", "ccr_q", "mr_q", "ppp_q", "app_q", "acc_q",
        "bacc_q", "sens_q", "spec_q", "prec_q", "f1_q", "mcc_q",
        "kappa_q", "nmi_q", "tss_q")]
)


def _nmi_q(n, tp, ta, fp, fa):
    """sklearn normalized_mutual_info_score (arithmetic mean), 2x2.

    Marginals: true row (n1t = tp+fp presence, n0t = ta+fa absence),
    pred col (n1p = tp+fa, n0p = ta+fp).  Every log is ``_ln_i`` of a
    positive integer; the 4 MI terms and 2+2 entropy terms are summed
    in a FIXED order so the double sum is reproducible.
    """
    n1t, n0t = tp + fp, ta + fa
    n1p, n0p = tp + fa, ta + fp
    if min(n1t, n0t) == 0 or min(n1p, n0p) == 0:
        return -1  # one-class degenerate: sklearn defines NMI=0/0 -> skip
    ln_n = _ln_i(n)
    h_t = ln_n - (n1t * _ln_i(n1t) + n0t * _ln_i(n0t)) / float(n)
    h_p = ln_n - (n1p * _ln_i(n1p) + n0p * _ln_i(n0p)) / float(n)
    mi = 0.0
    # fixed cell order: (t=1,p=1), (t=1,p=0), (t=0,p=1), (t=0,p=0)
    for c, rm, cm in ((tp, n1t, n1p), (fp, n1t, n0p),
                      (fa, n0t, n1p), (ta, n0t, n0p)):
        if c > 0:
            mi = mi + (float(c) / float(n)) * (
                (ln_n + _ln_i(c)) - (_ln_i(rm) + _ln_i(cm)))
    den = (h_t + h_p) / 2.0
    if den <= 0.0:
        return -1
    return int(np.floor((mi / den) * _Q))


def binary_scores_stats(images: DataFrame) -> DataFrame:
    """Per-image accuracy_scores_binary panel (module docstring).

    y_true = (v*2)//pmax, y_pred = (clip(v+e)*2)//pmax — the binary
    collapse of the classification world's ref/pred planes.
    """

    def per_image(out, image_id, v, fmt, img_id):
        e, pmax = residual_plane(v, fmt, img_id)
        yt = (v * 2) // pmax
        vp = np.clip(v + e, 0, pmax - 1)
        yp = (vp * 2) // pmax
        n = int(v.size)
        tp = int(np.count_nonzero((yt == 1) & (yp == 1)))
        ta = int(np.count_nonzero((yt == 0) & (yp == 0)))
        fp = int(np.count_nonzero((yt == 1) & (yp == 0)))
        fa = int(np.count_nonzero((yt == 0) & (yp == 1)))
        n1, n0 = tp + fp, ta + fa          # presence / absence
        # prevalence = (TP/FA)/n — reference stats.py:522
        # verbatim; pinned tree (tp/fa)/n, two IEEE divisions
        if fa == 0:
            prev_q = odp_q = -1
        else:
            prev = float(tp) / float(fa) / float(n)
            prev_q = int(np.floor(prev * _Q))
            odp_q = int(np.floor((1.0 - prev) * _Q))
        mcc_den = np.sqrt(
            ((float(tp + fp) * float(tp + fa))
             * float(ta + fp)) * float(ta + fa))
        mcc_q = (-1 if mcc_den == 0.0 else int(
            np.floor((float(tp * ta - fp * fa) / mcc_den) * _Q)))
        pe = n1 * (tp + fa) + n0 * (ta + fp)
        out["image_id"].append(image_id)
        out["n"].append(n)
        out["tp"].append(tp); out["ta"].append(ta)
        out["fp"].append(fp); out["fa"].append(fa)
        out["prev_q"].append(prev_q)
        out["odp_q"].append(odp_q)
        out["ccr_q"].append(_rq(tp + ta, n))
        out["mr_q"].append(_rq(fp + fa, n))
        out["ppp_q"].append(_rq(tp, tp + fp))
        out["app_q"].append(_rq(ta, ta + fa))
        out["acc_q"].append(_rq(tp + ta, n1 + n0))
        out["bacc_q"].append(
            _rq(tp * n0 + ta * n1, 2 * n1 * n0)
            if n1 and n0 else -1)
        out["sens_q"].append(_rq(tp, n1))
        out["spec_q"].append(_rq(ta, n0))
        out["prec_q"].append(_rq(tp, tp + fp))
        out["f1_q"].append(_rq(2 * tp, 2 * tp + fp + fa))
        out["mcc_q"].append(mcc_q)
        out["kappa_q"].append(
            _rq(n * (tp + ta) - pe, n * n - pe))
        out["nmi_q"].append(_nmi_q(n, tp, ta, fp, fa))
        out["tss_q"].append(
            _rq(tp * n0 + ta * n1 - n1 * n0, n1 * n0)
            if n1 and n0 else -1)

    return codec.map_images(images, per_image, _BIN_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)


# --------------------------------------------------------------------------
# bin_accuracy_scores_prob
# --------------------------------------------------------------------------

_PROB_SCHEMA = StructType(
    [StructField("image_id", StringType())]
    + [StructField(c, LongType()) for c in
       ("n", "n1", "n0", "auc_q", "pbr_q", "ap_q30", "brier_q",
        "logloss_q30")]
)


def prob_scores_stats(images: DataFrame) -> DataFrame:
    """Per-image bin_accuracy_scores_prob panel (module docstring).

    y_true = (v*2)//pmax; y_prob = vp/pmax with vp = clip(v+e) — a
    discrete probability with denominator pmax, so ties are dense and
    the average-rank AUC path is genuinely exercised.  Log-loss uses
    the Laplace-smoothed p' = (vp+1)/(pmax+2) (documented deviation:
    it keeps every log argument a positive integer ratio instead of
    the reference's float eps clip), each term floor-quantized at 2^30
    before the order-free integer sum.
    """

    def per_image(out, image_id, v, fmt, img_id):
        e, pmax = residual_plane(v, fmt, img_id)
        yt = ((v * 2) // pmax).ravel()
        vp = np.clip(v + e, 0, pmax - 1).ravel()
        n = int(vp.size)
        n1 = int(yt.sum())
        n0 = n - n1
        # ---- ROC AUC: Mann-Whitney with average ranks -------
        # group by distinct score s ascending: t_s total, p_s
        # positives; 2*R1 = sum_s p_s * (2*cum_before + t_s + 1)
        order = np.argsort(vp, kind="stable")
        sv = vp[order]; st = yt[order]
        # run boundaries over sorted scores
        uniq, idx, cnt = np.unique(sv, return_index=True,
                                   return_counts=True)
        pos_per = np.add.reduceat(st, idx)
        cum_before = np.concatenate(([0], np.cumsum(cnt)[:-1]))
        two_r1 = int(np.sum(pos_per * (2 * cum_before + cnt + 1)))
        auc_q = (-1 if n1 == 0 or n0 == 0 else
                 _rq(two_r1 - n1 * (n1 + 1), 2 * n1 * n0))
        # ---- average precision (sklearn step def) -----------
        # thresholds descend over distinct scores; per-term
        # exact int: floor(p_k * TP_k * 2^30 / (n1 * PredP_k))
        ap_q30 = -1
        if n1 > 0:
            tp_cum = np.cumsum(pos_per[::-1])        # high -> low
            pred_cum = np.cumsum(cnt[::-1])
            p_k = pos_per[::-1]
            terms = (p_k.astype(object) * tp_cum.astype(object)
                     * (1 << 30)) // (int(n1) * pred_cum.astype(object))
            ap_q30 = int(np.sum(terms))
        # ---- Brier: sum (vp - y*pmax)^2 / (pmax^2 n) --------
        d = vp - yt * pmax
        brier_q = _rq(int(np.dot(d, d)), pmax * pmax * n)
        # ---- log loss (Laplace smoothed) --------------------
        ln_tab = ln_pos_np(np.arange(1, pmax + 2, dtype=np.float64))
        ln_pm2 = _ln_i(pmax + 2)
        lnp = ln_tab[vp] - ln_pm2          # ln((vp+1)/(pmax+2))
        ln1mp = ln_tab[pmax - vp] - ln_pm2
        term = np.where(yt == 1, lnp, ln1mp)
        q = np.floor(term * _Q30).astype(np.int64)
        logloss_q30 = -int(q.sum())        # -sum then /n driver-side
        # ---- point-biserial = Pearson(yt, vp) ---------------
        sx = int(yt.sum()); sy = int(vp.sum())
        sxx = sx                           # yt binary: yt^2 = yt
        syy = int(np.dot(vp, vp))
        sxy = int(np.dot(yt, vp))
        num = n * sxy - sx * sy
        d1 = float(n * sxx - sx * sx)
        d2 = float(n * syy - sy * sy)
        den = np.sqrt(d1 * d2)
        pbr_q = (-1 if den == 0.0 else
                 int(np.floor((float(num) / den) * _Q)))
        out["image_id"].append(image_id)
        out["n"].append(n); out["n1"].append(n1); out["n0"].append(n0)
        out["auc_q"].append(auc_q)
        out["pbr_q"].append(pbr_q)
        out["ap_q30"].append(ap_q30)
        out["brier_q"].append(brier_q)
        out["logloss_q30"].append(logloss_q30)

    return codec.map_images(images, per_image, _PROB_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)


# --------------------------------------------------------------------------
# breusch_pagan_test
# --------------------------------------------------------------------------

_BP_SCHEMA = StructType(
    [StructField("image_id", StringType())]
    + [StructField(c, LongType()) for c in
       ("n", "ssr16", "lm_q", "ci_class")]
)


def _ols1(x, y):
    """Exact single-predictor OLS: returns (D, a_num, b_num) with
    slope = b_num/D, intercept = a_num/D, D = n*Sxx - Sx^2 (all ints)."""
    n = int(x.size)
    sx = int(x.sum()); sy = int(y.sum())
    sxx = int(np.dot(x, x)); sxy = int(np.dot(x, y))
    d = n * sxx - sx * sx
    b_num = n * sxy - sx * sy
    a_num = sy * sxx - sx * sxy
    return d, a_num, b_num


def _resid16(x, y, d, a_num, b_num):
    """Quantized residuals r16 = floor(16*(y*D - a - b*x) / D) as ints."""
    rn = (y.astype(object) * d) - a_num - b_num * x.astype(object)
    return np.array([(16 * int(r)) // d for r in rn], dtype=np.int64)


def breusch_pagan_stats(images: DataFrame) -> DataFrame:
    """Per-image Breusch-Pagan LM test, single predictor (df = 1).

    x = v % 8, y = clip(v+e): the main OLS residual is quantized at
    1/16 (module docstring), squared, rescaled t = floor(r16^2 / 2^20)
    and regressed back on x; LM = n * R2_aux with both R2 terms exact
    integers < 2^53 entering one pinned double tree.  ci_class follows
    stats.py:366-371: 2 = 99% CI, 1 = 95% CI, 0 = not significant,
    via LM > chi2 critical constants (df=1).
    """

    def per_image(out, image_id, v, fmt, img_id):
        e, pmax = residual_plane(v, fmt, img_id)
        x = (v % 8).ravel()
        y = np.clip(v + e, 0, pmax - 1).ravel()
        n = int(x.size)
        d, a_num, b_num = _ols1(x, y)
        if d == 0:
            out["image_id"].append(image_id)
            out["n"].append(n); out["ssr16"].append(-1)
            out["lm_q"].append(-1); out["ci_class"].append(-1)
            return
        r16 = _resid16(x, y, d, a_num, b_num)
        t = (r16.astype(np.int64) ** 2) >> 20
        ssr16 = int(np.dot(r16, r16))
        # auxiliary regression t ~ x
        da, aa, ba = _ols1(x, t)
        ra = _resid16(x, t, da, aa, ba)
        st = int(t.sum()); stt = int(np.dot(t, t))
        sst_num = n * stt - st * st        # n^2 * var(t)
        ssr_a = int(np.dot(ra, ra))        # 256 * sum resid^2
        if sst_num == 0:
            lm_q, ci = -1, -1
        else:
            r2a = 1.0 - (float(n) * float(ssr_a)) \
                / (256.0 * float(sst_num))
            lm = float(n) * r2a
            lm_q = int(np.floor(lm * _Q))
            ci = (2 if lm > BP_CHI2_99_DF1 else
                  1 if lm > BP_CHI2_95_DF1 else 0)
        out["image_id"].append(image_id)
        out["n"].append(n)
        out["ssr16"].append(ssr16)
        out["lm_q"].append(lm_q)
        out["ci_class"].append(ci)

    return codec.map_images(images, per_image, _BP_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)


# --------------------------------------------------------------------------
# calc_pandas_vif
# --------------------------------------------------------------------------

_VIF_SCHEMA = StructType(
    [StructField("image_id", StringType())]
    + [StructField(c, LongType()) for c in ("col_id", "n", "ssr16",
                                            "vif_q")]
)


def _det3(m):
    """Exact 3x3 integer determinant (python ints)."""
    return (m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
            - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
            + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0]))


def vif_scores_stats(images: DataFrame) -> DataFrame:
    """Per-image, per-predictor VIF over three correlated 2-bit planes.

    c1 = v % 4, c2 = (v//4) % 4, c3 = ((c1 + c2)//2 + (v//16) % 2) —
    c3 is a near-linear blend of c1/c2 so multicollinearity is real.
    Pixels sampled on the (x%3==0, y%3==0) lattice (n <= 43^2) keeps
    every normal-equation product well under 2^63.  (Stride 3, not 4:
    the plane steps 7*dx+13*dy per pixel, so any stride divisible by 4
    freezes v%4 on the lattice and the design matrix goes singular.)  Each column is
    regressed on the other two (intercept + 2 predictors, exact 3x3
    Cramer); residuals quantized at 1/16; VIF = 1/(1-R2) with the
    reference's ``R2 == 1 -> 0.0`` sentinel (stats.py:76-79).
    """

    def per_image(out, image_id, v, fmt, img_id):
        _, pmax = residual_plane(v, fmt, img_id)
        vs = v[::3, ::3].ravel()
        c1 = vs % 4
        c2 = (vs // 4) % 4
        c3 = (c1 + c2) // 2 + (vs // 16) % 2
        cols = [c1, c2, c3]
        n = int(vs.size)
        for ci in range(3):
            yv = cols[ci]
            x1, x2 = [cols[j] for j in range(3) if j != ci]
            s1 = int(x1.sum()); s2 = int(x2.sum())
            s11 = int(np.dot(x1, x1)); s22 = int(np.dot(x2, x2))
            s12 = int(np.dot(x1, x2))
            sy = int(yv.sum())
            s1y = int(np.dot(x1, yv)); s2y = int(np.dot(x2, yv))
            m = [[n, s1, s2], [s1, s11, s12], [s2, s12, s22]]
            det = _det3(m)
            syy = int(np.dot(yv, yv))
            sst_num = n * syy - sy * sy
            if det == 0 or sst_num == 0:
                out["image_id"].append(image_id)
                out["col_id"].append(ci + 1)
                out["n"].append(n); out["ssr16"].append(-1)
                out["vif_q"].append(-1)
                continue
            d0 = _det3([[sy, s1, s2], [s1y, s11, s12],
                        [s2y, s12, s22]])
            d1 = _det3([[n, sy, s2], [s1, s1y, s12],
                        [s2, s2y, s22]])
            d2 = _det3([[n, s1, sy], [s1, s11, s1y],
                        [s2, s12, s2y]])
            r16 = np.array(
                [(16 * (int(yy) * det - d0 - d1 * int(a)
                        - d2 * int(b))) // det
                 for yy, a, b in zip(yv, x1, x2)],
                dtype=np.int64)
            ssr16 = int(np.dot(r16, r16))
            # R2 = 1 - (n*ssr16)/(256*sst_num); ref: R2==1 -> 0
            if ssr16 == 0:
                vif_q = 0
            else:
                one_minus = (float(n) * float(ssr16)) \
                    / (256.0 * float(sst_num))
                vif_q = int(np.floor((1.0 / one_minus) * _Q))
            out["image_id"].append(image_id)
            out["col_id"].append(ci + 1)
            out["n"].append(n)
            out["ssr16"].append(ssr16)
            out["vif_q"].append(vif_q)

    return codec.map_images(images, per_image, _VIF_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)


# --------------------------------------------------------------------------
# get_nbins_histogram + get_bin_centres
# --------------------------------------------------------------------------

_HN_SCHEMA = StructType(
    [StructField("image_id", StringType())]
    + [StructField(c, LongType()) for c in
       ("n", "vmin", "vmax", "q25_4", "q75_4", "n_bins", "bw3_q")]
    + [StructField(c, LongType()) for c in
       ("ca1_8", "ca2_8", "ca3_8", "ca4_8",
        "cg1_q", "cg2_q", "cg3_q", "cg4_q")]
)


def _pct4(sorted_v, p_num, p_den):
    """4 * numpy linear-interp percentile at p = p_num/p_den (dyadic
    quarters only: exact integer result)."""
    n = sorted_v.size
    # numpy: idx = p*(n-1); lo = floor(idx); frac = idx - lo
    num = p_num * (n - 1)
    lo = num // p_den
    rem = num - lo * p_den          # frac = rem/p_den, p_den = 4
    lo = int(lo)
    a = int(sorted_v[lo])
    b = int(sorted_v[min(lo + 1, n - 1)])
    return 4 * a + (b - a) * int(rem)   # == 4 * (a + frac*(b-a))


def hist_nbins_stats(images: DataFrame) -> DataFrame:
    """Freedman-Diaconis bin count + quartile-edge bin centres.

    n_bins = int((vmax-vmin)/bw) + 2 with bw = 2*IQR*n^(-1/3)
    (stats.py:604-619) — rationalised to the largest k with
    (k*b4)^3 <= 64*(vmax-vmin)^3*n where b4 = 4*2*IQR (exact int):
    cube both sides of k*b4 <= 4*(vmax-vmin)*cbrt(n), all integers,
    no cube root evaluated.  bw is emitted as bw3_q = floor(2^20 *
    8*IQR^3/n) (its exact cube).  get_bin_centres runs on the exact
    five-point edge set [vmin, q25, q50, q75, vmax]: arithmetic
    centres * 8 are exact ints; geometric centres are one
    correctly-rounded sqrt each, floor-quantized at 2^20.
    """

    def per_image(out, image_id, v, fmt, img_id):
        _, pmax = residual_plane(v, fmt, img_id)
        sv = np.sort(v.ravel(), kind="stable")
        n = int(sv.size)
        vmin = int(sv[0]); vmax = int(sv[-1])
        q25_4 = _pct4(sv, 1, 4)
        q50_4 = _pct4(sv, 2, 4)
        q75_4 = _pct4(sv, 3, 4)
        iqr4 = q75_4 - q25_4           # 4*IQR
        if iqr4 == 0:
            n_bins, bw3_q = -1, -1
        else:
            # largest k: (k * iqr4)^3 <= 8 * A^3 * n
            a3n = 8 * (vmax - vmin) ** 3 * n
            k = int(np.floor(float(a3n) ** (1.0 / 3.0)
                             / iqr4)) + 2
            while (k * iqr4) ** 3 > a3n:
                k -= 1
            while ((k + 1) * iqr4) ** 3 <= a3n:
                k += 1
            n_bins = k + 2
            bw3_q = int(np.floor(
                (float(iqr4 ** 3) / (8.0 * float(n))) * _Q))
        edges4 = [4 * vmin, q25_4, q50_4, q75_4, 4 * vmax]
        ca8 = [edges4[i] + edges4[i + 1] for i in range(4)]
        cg_q = [int(np.floor(
            (np.sqrt(float(edges4[i] * edges4[i + 1])) / 4.0)
            * _Q)) for i in range(4)]
        out["image_id"].append(image_id)
        out["n"].append(n)
        out["vmin"].append(vmin); out["vmax"].append(vmax)
        out["q25_4"].append(q25_4); out["q75_4"].append(q75_4)
        out["n_bins"].append(n_bins); out["bw3_q"].append(bw3_q)
        for j in range(4):
            out[f"ca{j+1}_8"].append(ca8[j])
            out[f"cg{j+1}_q"].append(cg_q[j])

    return codec.map_images(images, per_image, _HN_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)


# --------------------------------------------------------------------------
# tools.stats.corr_feature_selection (stats.py:142-240) — the Pearson +
# Fisher-z core.  The reference clusters predictors with sklearn
# FeatureAgglomeration + silhouette (absent here, and stochastic); the
# engine emits the exact panel the clustering consumes: per predictor
# the Pearson r against the dependent variable, rationalised to exact
# integers (r = (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy -
# Sy^2)), each op correctly rounded), and the Fisher z-transform
# arctanh(r) = 0.5*(ln(1+r) - ln(1-r)) through the detmath ln tree.
# dep = floor(l_extendedprice / 64) (dyadic scale keeps n*Sxx < 2^63
# through sf0.1; at >=sf1 the partials need DECIMAL(38) — documented).
# --------------------------------------------------------------------------

def corr_feat_panel(lineitem: DataFrame) -> DataFrame:
    from ..functions.detmath import ln_steps

    base = lineitem.selectExpr(
        "CAST(floor(l_extendedprice / 64.0) AS BIGINT) AS dep",
        "CAST(l_quantity AS BIGINT) AS i1",
        "CAST(round(l_discount * 100.0) AS BIGINT) AS i2",
        "CAST(round(l_tax * 100.0) AS BIGINT) AS i3",
        "CAST(l_partkey % 1000 AS BIGINT) AS i4")
    tall = base.selectExpr(
        "dep",
        "stack(4, 'l_quantity', i1, 'l_discount_c', i2,"
        " 'l_tax_c', i3, 'l_partkey_mod', i4) AS (ind_var, iv)")
    g = tall.groupBy("ind_var").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dep").alias("sx"),
        F.sum(F.expr("dep * dep")).alias("sxx"),
        F.sum("iv").alias("sy"),
        F.sum(F.expr("iv * iv")).alias("syy"),
        F.sum(F.expr("dep * iv")).alias("sxy"))
    df = g.selectExpr(
        "ind_var", "n",
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
        "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r")
    df = df.selectExpr("*", "CAST(1 AS DOUBLE) + r AS a1",
                       "CAST(1 AS DOUBLE) - r AS a2")
    for name, expr in ln_steps("a1", "ln1", lo=-24):
        df = df.selectExpr("*", f"{expr} AS {name}")
    for name, expr in ln_steps("a2", "ln2", lo=-24):
        df = df.selectExpr("*", f"{expr} AS {name}")
    return df.selectExpr(
        "ind_var", "n", "r",
        "CAST(0.5 AS DOUBLE) * (ln1 - ln2) AS fisher_z")


# --------------------------------------------------------------------------
# regression.regresssklearn.perform_kfold_fit (regresssklearn.py:213):
# k-fold fit/validate loop producing per-fold accuracy metrics.  The
# engine's documented variant: folds are the md5-prefix buckets (the
# scalable replacement for KFold's order-defined contiguous blocks —
# a global row_number would serialize at scale; same contract as
# sample_split), the regressor is exact-int simple OLS (Cramer, the
# season_trend/regress_stats machinery), and the per-fold test metrics
# (bias / MAE / MSE, quantised per-term) plus the fitted (a, b).
# --------------------------------------------------------------------------


def kfold_regress(lineitem: DataFrame, k: int = 5) -> DataFrame:
    fold_case = (
        "CASE WHEN hk < '33' THEN 0 WHEN hk < '66' THEN 1"
        " WHEN hk < '99' THEN 2 WHEN hk < 'cc' THEN 3 ELSE 4 END")
    base = lineitem.selectExpr(
        "CAST(l_quantity AS BIGINT) AS x",
        "CAST(floor(l_extendedprice / 64.0) AS BIGINT) AS y",
        "substring(md5(concat(CAST(l_orderkey AS STRING), '_',"
        " CAST(l_linenumber AS STRING))), 1, 2) AS hk")
    base = base.selectExpr("x", "y",
                           f"CAST({fold_case} AS BIGINT) AS fold")
    g = base.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * y")).alias("sxy"))
    tot = g.groupBy().agg(
        F.sum("n").alias("tn"), F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"), F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"))
    # Cramer numerators like sxxt*syt reach ~1.2e19 at sf>=1 (6M rows)
    # and would wrap silently in Spark's non-ANSI int64 while DuckDB
    # errors — so the differences (exact in int64) are cast to DOUBLE
    # BEFORE the cross products; both engines then do identical IEEE
    # arithmetic at every sf (ADVICE r4).
    j = g.crossJoin(F.broadcast(tot)).selectExpr(
        "fold", "n AS n_test",
        "CAST(tn - n AS DOUBLE) AS nt",
        "CAST(tsx - sx AS DOUBLE) AS sxt",
        "CAST(tsy - sy AS DOUBLE) AS syt",
        "CAST(tsxx - sxx AS DOUBLE) AS sxxt",
        "CAST(tsxy - sxy AS DOUBLE) AS sxyt")
    j = j.selectExpr(
        "fold", "n_test",
        "(sxxt * syt - sxt * sxyt)"
        " / (nt * sxxt - sxt * sxt) AS a",
        "(nt * sxyt - sxt * syt)"
        " / (nt * sxxt - sxt * sxt) AS b")
    t = base.join(j.withColumnRenamed("fold", "jfold"),
                  F.expr("fold = jfold"))
    t = t.selectExpr(
        "fold", "a", "b", "n_test",
        "CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)) AS resid")
    t = t.selectExpr(
        "fold", "a", "b", "n_test",
        "CAST(floor(resid * 1048576.0) AS BIGINT) AS rq",
        "CAST(floor(abs(resid) * 1048576.0) AS BIGINT) AS aq",
        "CAST(floor((resid * resid) * 1024.0) AS BIGINT) AS sq")
    return t.groupBy("fold", "a", "b", "n_test").agg(
        F.sum("rq").cast("long").alias("bias_q"),
        F.sum("aq").cast("long").alias("mae_q"),
        F.sum("sq").cast("long").alias("mse_q"))
