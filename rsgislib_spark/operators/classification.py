"""Classification accuracy + regression error metrics.

Reference: classification.classaccuracymetrics.calc_class_accuracy_metrics
(python/rsgislib/classification/classaccuracymetrics.py:121-239 — confusion
matrix, overall accuracy, cohen kappa, per-class precision/recall/f1,
user/producer accuracy) and regression.get_regression_stats
(python/rsgislib/regression/__init__.py:10-100 — r2, explained variance,
MAE, median AE, MSE, RMSE, normalised RMSE, bias/norm-bias
(tools/stats.py:1016-1040) and the bias-variance decomposition
(tools/stats.py:1042-1067)).

The reference evaluates these driver-side with sklearn over extracted
sample arrays; here each image is one accuracy assessment and the whole
computation is a single embarrassingly-parallel Arrow pass (no shuffle at
all — per-image confusion counts / moment sums reduce inside the kernel).

Determinism contract: every metric is emitted as ``floor(ratio * 2^20)``
where the ratio is ONE correctly-rounded IEEE division of two EXACT
integers (sums/counts < 2^53), optionally followed by one correctly
rounded ``sqrt`` (RMSE; lesson 19) — bit-identical across engines.
Algebra used to reach exact-integer numerators:

    kappa = (N*sum(tp) - sum(nref_c*npred_c)) / (N^2 - sum(nref_c*npred_c))
    f1    = 2*tp / (nref + npred)
    r2    = ((n*Sr2 - Sr^2) - n*Sd2) / (n*Sr2 - Sr^2)
    expl_var = ((n*Sr2 - Sr^2) - (n*Sd2 - Sd^2)) / (n*Sr2 - Sr^2)
    var   = (n*Sd2 - Sd^2) / n^2

The synthetic "classifier" / "regressor" is the deterministic pixel plane
v(id,x,y) with the structured residual e = ((x*7 + y*3 + id) % 21) - 10:
ref class = (v*4)//pmax, predicted class from the clamped v+e plane —
near-diagonal confusion with every class populated and both error signs
live.  Undefined ratios (empty class, degenerate kappa) emit -1.
"""
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from .. import synth
from ..functions import codec

__all__ = ["class_accuracy_stats", "regression_stats", "strat_sample",
           "global_class_stats", "GCS_MEAN_EXPR", "GCS_STD_EXPR"]

_Q = 1048576.0  # 2^20 dyadic quantizer (exact power-of-two multiply)
_K = 4          # number of classes


def residual_plane(v, fmt, img_id):
    """Residual plane e (a writable copy) and pmax for the decoded int64
    plane v of image ``img_id``; shared with binstats."""
    h, w = v.shape
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    e = (x * 7 + y * 3 + int(img_id)) % 21 - 10
    return np.broadcast_to(e, v.shape).copy(), synth.pmax(fmt)


_CLS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("cls", LongType()),
    StructField("n_ref", LongType()),
    StructField("n_pred", LongType()),
    StructField("tp", LongType()),
    StructField("prec_q", LongType()),
    StructField("rec_q", LongType()),
    StructField("f1_q", LongType()),
    StructField("oa_q", LongType()),
    StructField("kappa_q", LongType()),
])


def _ratio_q(num: int, den: int) -> int:
    """floor((num/den) * 2^20) with the -1 undefined sentinel."""
    if den == 0:
        return -1
    return int(np.floor((float(num) / float(den)) * _Q))


def class_accuracy_stats(images: DataFrame) -> DataFrame:
    """Per-image confusion-matrix accuracy metrics, one row per class.

    ref = (v*4)//pmax; pred from the clamped v+e plane.  Emits per
    (image, cls): support counts, true positives, quantized
    precision/recall/f1 plus the image-level overall accuracy and
    cohen kappa repeated on every class row (the reference returns
    them in the same dict).
    """

    def per_image(out, image_id, v, fmt, img_id):
        e, pmax = residual_plane(v, fmt, img_id)
        rc = (v * _K) // pmax
        vp = np.clip(v + e, 0, pmax - 1)
        pc = (vp * _K) // pmax
        cm = np.bincount((rc * _K + pc).ravel(),
                         minlength=_K * _K).reshape(_K, _K)
        n_ref = cm.sum(axis=1)
        n_pred = cm.sum(axis=0)
        tp = np.diag(cm)
        nn = int(cm.sum())
        diag = int(tp.sum())
        pe_num = int((n_ref.astype(np.int64)
                      * n_pred.astype(np.int64)).sum())
        oa_q = _ratio_q(diag, nn)
        kappa_q = _ratio_q(nn * diag - pe_num, nn * nn - pe_num)
        for c in range(_K):
            out["image_id"].append(image_id)
            out["cls"].append(c)
            out["n_ref"].append(int(n_ref[c]))
            out["n_pred"].append(int(n_pred[c]))
            out["tp"].append(int(tp[c]))
            out["prec_q"].append(_ratio_q(int(tp[c]),
                                          int(n_pred[c])))
            out["rec_q"].append(_ratio_q(int(tp[c]),
                                         int(n_ref[c])))
            out["f1_q"].append(_ratio_q(
                2 * int(tp[c]), int(n_ref[c]) + int(n_pred[c])))
            out["oa_q"].append(oa_q)
            out["kappa_q"].append(kappa_q)

    return codec.map_images(images, per_image, _CLS_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)


_REG_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("sum_d", LongType()),
    StructField("sum_absd", LongType()),
    StructField("sum_d2", LongType()),
    StructField("r2_q", LongType()),
    StructField("ev_q", LongType()),
    StructField("mae_q", LongType()),
    StructField("medae_q", LongType()),
    StructField("mse_q", LongType()),
    StructField("rmse_q", LongType()),
    StructField("nrmse_q", LongType()),
    StructField("bias_q", LongType()),
    StructField("nbias_q", LongType()),
    StructField("var_q", LongType()),
])


def regression_stats(images: DataFrame) -> DataFrame:
    """regression.get_regression_stats over ref = v, pred = v + e.

    One row per image with the full metric set, each a single
    exact-integer division (see module docstring).  RMSE / norm-RMSE
    additionally apply one correctly-rounded sqrt; the norm-RMSE tree
    is pinned as ((sqrt(Sd2/n) * (n*100)) / Sr).
    """

    def per_image(out, image_id, v, fmt, img_id):
        e, _ = residual_plane(v, fmt, img_id)
        d = np.ascontiguousarray(e).astype(np.int64)
        n = int(d.size)
        sd = int(d.sum())
        sad = int(np.abs(d).sum())
        sd2 = int((d * d).sum())
        sr = int(v.sum())
        sr2 = int((v * v).sum())
        sstot = n * sr2 - sr * sr
        med = float(np.median(np.abs(d)))
        mse = float(sd2) / float(n)
        rmse = np.sqrt(mse)
        out["image_id"].append(image_id)
        out["n_pix"].append(n)
        out["sum_d"].append(sd)
        out["sum_absd"].append(sad)
        out["sum_d2"].append(sd2)
        out["r2_q"].append(_ratio_q(sstot - n * sd2, sstot))
        out["ev_q"].append(_ratio_q(
            sstot - (n * sd2 - sd * sd), sstot))
        out["mae_q"].append(_ratio_q(sad, n))
        out["medae_q"].append(int(np.floor(med * _Q)))
        out["mse_q"].append(int(np.floor(mse * _Q)))
        out["rmse_q"].append(int(np.floor(rmse * _Q)))
        out["nrmse_q"].append(
            -1 if sr == 0 else
            int(np.floor(((rmse * float(n * 100)) / float(sr))
                         * _Q)))
        out["bias_q"].append(_ratio_q(sd, n))
        out["nbias_q"].append(
            -1 if sr == 0 else _ratio_q(100 * sd, sr))
        out["var_q"].append(_ratio_q(n * sd2 - sd * sd, n * n))

    return codec.map_images(images, per_image, _REG_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)


_SAMP_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("cls", LongType()),
    StructField("rank", LongType()),
    StructField("x", LongType()),
    StructField("y", LongType()),
    StructField("v", LongType()),
])

# portable integer mixer (Knuth multiplicative constant, same family as
# the synth phash) standing in for the reference's numpy RNG draw
_MIX_A, _MIX_B, _MIX_C, _MIX_M = 2654435761, 40503, 69061, 2147483647


def strat_sample(images: DataFrame, n_per_cls: int = 3) -> DataFrame:
    """classification.generate_stratified_random_accuracy_pts
    (python/src/classification method table;
    classaccuracymetrics consumers): n points per (image, class),
    drawn by ranking a deterministic integer hash
    h = (id*A + x*B + y*C) mod (2^31 - 1) — the engine's documented
    seeded-RNG stand-in — ties broken by (x, y).  Classes with fewer
    than n pixels emit what they have (the reference warns and keeps
    going)."""

    def per_image(out, image_id, v, fmt, img_id):
        h, w = v.shape
        cls = (v * _K) // synth.pmax(fmt)
        ww = int(w)
        x = np.arange(ww, dtype=np.int64)[None, :]
        y = np.arange(int(h), dtype=np.int64)[:, None]
        hsh = (int(img_id) * _MIX_A + x * _MIX_B
               + y * _MIX_C) % _MIX_M
        hsh = np.broadcast_to(hsh, v.shape)
        xg = np.broadcast_to(x, v.shape)
        yg = np.broadcast_to(y, v.shape)
        for c in range(_K):
            sel = cls == c
            if not sel.any():
                continue
            hs, xs, ys, vs = (hsh[sel], xg[sel], yg[sel], v[sel])
            order = np.lexsort((ys, xs, hs))[:n_per_cls]
            for r, i in enumerate(order, start=1):
                out["image_id"].append(image_id)
                out["cls"].append(c)
                out["rank"].append(r)
                out["x"].append(int(xs[i]))
                out["y"].append(int(ys[i]))
                out["v"].append(int(vs[i]))

    return codec.map_images(images, per_image, _SAMP_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)


_GCS_PART_SCHEMA = StructType([
    StructField("fmt", StringType()),
    StructField("cls", LongType()),
    StructField("n", LongType()),
    StructField("s", LongType()),
    StructField("s2", LongType()),
    StructField("mn", LongType()),
    StructField("mx", LongType()),
])

# shared Catalyst/DuckDB finalisation expressions (identical text)
GCS_MEAN_EXPR = ("CAST(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) "
                 "* 1048576.0) AS BIGINT)")
GCS_STD_EXPR = ("CAST(floor(sqrt(CAST(n * s2 - s * s AS DOUBLE) "
                "/ CAST(n * n AS DOUBLE)) * 1048576.0) AS BIGINT)")


def global_class_stats(images: DataFrame) -> DataFrame:
    """rastergis.get_global_class_stats (python/src/rastergis method
    table): per-class statistics over the WHOLE corpus, not per image
    — the one genuinely global aggregate in the classification family.

    Shape: kernels emit tiny per-image per-(fmt, class) moment partials
    (7 ints/row), then ONE shuffle of those partials reduces to 12
    rows; mean/std finalisation runs as the same SQL text in Catalyst
    (F.expr) and DuckDB.  n*s2 stays < 2^63 up to ~sf0.1 corpus sizes
    (documented bound)."""
    import pyspark.sql.functions as F

    def per_image(out, _image_id, v, fmt):
        cls = (v * _K) // synth.pmax(fmt)
        for c in range(_K):
            sel = cls == c
            if not sel.any():
                continue
            vs = v[sel]
            out["fmt"].append(str(fmt))
            out["cls"].append(c)
            out["n"].append(int(vs.size))
            out["s"].append(int(vs.sum()))
            out["s2"].append(int((vs * vs).sum()))
            out["mn"].append(int(vs.min()))
            out["mx"].append(int(vs.max()))

    parts = codec.map_images(images, per_image, _GCS_PART_SCHEMA,
                             extra_cols=("fmt",), dtype=np.int64)
    agg = parts.groupBy("fmt", "cls").agg(
        F.sum("n").alias("n"), F.sum("s").alias("s"),
        F.sum("s2").alias("s2"), F.min("mn").alias("min_v"),
        F.max("mx").alias("max_v"))
    return agg.select(
        "fmt", "cls", "n", "s", "min_v", "max_v",
        F.expr(GCS_MEAN_EXPR).alias("mean_q"),
        F.expr(GCS_STD_EXPR).alias("std_q"))


def rand_sample(images: DataFrame, n_per_img: int = 5) -> DataFrame:
    """classification.generate_random_accuracy_pts — the unstratified
    sibling of :func:`strat_sample`: n points per IMAGE by the same
    deterministic integer-hash ranking, class recorded but not
    partitioned on."""

    def per_image(out, image_id, v, fmt, img_id):
        h, w = v.shape
        cls = (v * _K) // synth.pmax(fmt)
        x = np.arange(int(w), dtype=np.int64)[None, :]
        y = np.arange(int(h), dtype=np.int64)[:, None]
        hsh = (int(img_id) * _MIX_A + x * _MIX_B
               + y * _MIX_C) % _MIX_M
        hsh = np.broadcast_to(hsh, v.shape).ravel()
        xg = np.broadcast_to(x, v.shape).ravel()
        yg = np.broadcast_to(y, v.shape).ravel()
        order = np.lexsort((yg, xg, hsh))[:n_per_img]
        for r, i in enumerate(order, start=1):
            out["image_id"].append(image_id)
            out["cls"].append(int(cls.ravel()[i]))
            out["rank"].append(r)
            out["x"].append(int(xg[i]))
            out["y"].append(int(yg[i]))
            out["v"].append(int(v.ravel()[i]))

    return codec.map_images(images, per_image, _SAMP_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)


def quantity_accuracy_stats(images: DataFrame) -> DataFrame:
    """cls_quantity_accuracy (classification/classaccuracymetrics.py:46
    — Pontius & Millones 2011): quantity disagreement Q, allocation
    disagreement A, proportion correct C, total disagreement D over the
    4-quartile confusion of the plane (true) vs its mirror (pred),
    with cls_area = the classifier-identified (column) pixel counts.

    Determinism: each normalised-matrix entry is ONE division of exact
    ints — ``n_ij = (cm_ij * area_i) / (rowsum_i * area_tot)`` — a
    documented rationalisation of the reference's two-step float chain;
    all cross-class sums are pinned left-associated in class order
    (the reference's np.sum pairwise order is NOT reproduced — 4-class
    sums are order-stable here by construction).  Zero rows guard to 0.
    Metrics are emitted as exact doubles of that pinned tree.
    """
    from pyspark.sql.types import DoubleType

    schema = StructType([
        StructField("image_id", StringType()),
        StructField("n_total", LongType()),
        StructField("n_correct", LongType()),
        StructField("q_dis", DoubleType()),
        StructField("a_dis", DoubleType()),
        StructField("prop_corr", DoubleType()),
        StructField("t_dis", DoubleType()),
    ])

    def per_image(out, image_id, v, fmt):
        pmax = synth.pmax(fmt)
        c = (v * 4) // pmax
        p = (v[:, ::-1] * 4) // pmax
        cm = [[int(((c == i) & (p == j)).sum()) for j in range(4)]
              for i in range(4)]
        rows = [sum(cm[i]) for i in range(4)]
        areas = [sum(cm[i][j] for i in range(4)) for j in range(4)]
        t = sum(areas)
        norm = [[(float(cm[i][j] * areas[i])
                  / float(rows[i] * t)) if rows[i] else 0.0
                 for j in range(4)] for i in range(4)]
        comp = [((norm[i][0] + norm[i][1]) + norm[i][2])
                + norm[i][3] for i in range(4)]
        ref = [((norm[0][j] + norm[1][j]) + norm[2][j])
               + norm[3][j] for j in range(4)]
        dq = [abs(ref[k] - comp[k]) for k in range(4)]
        q_dis = (((dq[0] + dq[1]) + dq[2]) + dq[3]) / 2.0
        mins = [min(comp[k] - norm[k][k], ref[k] - norm[k][k])
                for k in range(4)]
        s2 = ((2.0 * mins[0] + 2.0 * mins[1]) + 2.0 * mins[2]) \
            + 2.0 * mins[3]
        a_dis = s2 / 2.0
        diag = ((norm[0][0] + norm[1][1]) + norm[2][2]) + norm[3][3]
        tot = comp[0]
        for k in range(1, 4):
            tot = tot + comp[k]
        prop = diag / tot
        out["image_id"].append(str(image_id))
        out["n_total"].append(t)
        out["n_correct"].append(sum(cm[i][i] for i in range(4)))
        out["q_dis"].append(q_dis)
        out["a_dis"].append(a_dis)
        out["prop_corr"].append(prop)
        out["t_dis"].append(q_dis + a_dis)

    return codec.map_images(images, per_image, schema,
                            extra_cols=("fmt",), dtype=np.int64)


# --------------------------------------------------------------------------
# fill_class_timeseries
# --------------------------------------------------------------------------

_TSF_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("t", LongType()),
    StructField("n_nodata_before", LongType()),
    StructField("n_nodata_after", LongType()),
    StructField("sum_after", LongType()),
])

TSF_T = 6       # timeseries length
TSF_ITERS = 3   # reference default n_iters


def _tsf_planes(v, pmax):
    """T derived class planes: class ((v + t*29)//64) % 4 + 1 with
    deterministic nodata holes where (v*7 + t*13 + x + y) % 5 == 0."""
    h, w = v.shape
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    planes = []
    for t in range(TSF_T):
        cls = ((v + t * 29) // 64) % 4 + 1
        hole = (v * 7 + t * 13 + x + y) % 5 == 0
        planes.append(np.where(hole, 0, cls))
    return planes


def class_ts_fill_stats(images: DataFrame) -> DataFrame:
    """classification.fill_class_timeseries
    (classification/__init__.py:1370-1515): gap-fill a classification
    timeseries from temporally adjacent images — the reference's exact
    in-place pass order (forward n<-n+1, backward n<-n-1, recheck both
    ends, n_iters=3 rounds), unrolled verbatim, so the result is a
    finite CASE-composition the DuckDB oracle replays step for step.
    Emits per (image, t): nodata before/after + filled-plane checksum.
    """

    def per_image(out, image_id, v, fmt):
        p = _tsf_planes(v, synth.pmax(fmt))
        before = [int((q == 0).sum()) for q in p]
        for _ in range(TSF_ITERS):
            for n in range(TSF_T - 1):          # forward
                m = p[n] == 0
                p[n] = np.where(m, p[n + 1], p[n])
            for n in range(TSF_T - 1, 0, -1):   # backward
                m = p[n] == 0
                p[n] = np.where(m, p[n - 1], p[n])
            # recheck ends
            m = p[0] == 0
            p[0] = np.where(m, p[1], p[0])
            m = p[TSF_T - 1] == 0
            p[TSF_T - 1] = np.where(m, p[TSF_T - 2],
                                    p[TSF_T - 1])
        for t in range(TSF_T):
            out["image_id"].append(image_id)
            out["t"].append(t)
            out["n_nodata_before"].append(before[t])
            out["n_nodata_after"].append(int((p[t] == 0).sum()))
            out["sum_after"].append(int(p[t].sum()))

    return codec.map_images(images, per_image, _TSF_SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)


# --------------------------------------------------------------------------
# create_norm_modelled_err_matrix + create_modelled_acc_pts
# --------------------------------------------------------------------------

MAP_N_PTS = 500
_MAP_K = 4

_MAP_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("ref_cls", LongType()),
    StructField("cls_cls", LongType()),
    StructField("n_pts_mod", LongType()),
    StructField("n_dropped", LongType()),
])


def modelled_acc_pts_stats(images: DataFrame) -> DataFrame:
    """classification.classaccuracymetrics.create_norm_modelled_err_matrix
    (classaccuracymetrics.py:1989) + create_modelled_acc_pts (:1548):
    normalise a per-class accuracy matrix by class areas, then allocate
    n_pts accuracy points block-wise — ref labels in cumulative
    int(n_pts * row_prop) blocks, cls labels in cumulative
    int(n_pts * m_ij) blocks, positions where either array stayed empty
    dropped.  The output here is the per-(ref, cls) pair count of the
    kept positions — the modelled matrix itself (shuffle_pts only
    permutes order, which an aggregate cannot see).

    Engine inputs: the confusion matrix of the image's (rc, pc) class
    planes (class_accuracy's lattice); areas = predicted-class
    proportions, accs = row-normalised confusion.  Every allocation is
    the EXACT rational truncation (500 * cm_ij * pcnt_i) //
    (rowsum_i * total) — the reference's float int() may differ on
    near-integer products; documented engine variant."""

    def per_image(out, image_id, v, fmt, img_id):
        e, pmax = residual_plane(v, fmt, img_id)
        rc = (v * _MAP_K) // pmax
        vp = np.clip(v + e, 0, pmax - 1)
        pc = (vp * _MAP_K) // pmax
        cm = np.bincount((rc * _MAP_K + pc).ravel(),
                         minlength=_MAP_K * _MAP_K) \
            .reshape(_MAP_K, _MAP_K).astype(np.int64)
        rowsum = cm.sum(axis=1)
        pcnt = cm.sum(axis=0)
        total = int(cm.sum())
        # integer block allocations
        n_ref = np.zeros(_MAP_K, dtype=np.int64)
        n_cls = np.zeros((_MAP_K, _MAP_K), dtype=np.int64)
        for i in range(_MAP_K):
            n_ref[i] = (MAP_N_PTS * int(pcnt[i])) // total
            for j in range(_MAP_K):
                if rowsum[i] > 0:
                    n_cls[i, j] = (MAP_N_PTS * int(cm[i, j])
                                   * int(pcnt[i])) \
                        // (int(rowsum[i]) * total)
        # replicate the reference's array fill + empty drop
        ref_arr = np.full(MAP_N_PTS, -1, dtype=np.int64)
        cls_arr = np.full(MAP_N_PTS, -1, dtype=np.int64)
        s = 0
        for i in range(_MAP_K):
            ref_arr[s:s + n_ref[i]] = i
            s += int(n_ref[i])
        s = 0
        for i in range(_MAP_K):
            for j in range(_MAP_K):
                cls_arr[s:s + n_cls[i, j]] = j
                s += int(n_cls[i, j])
        keep = (ref_arr >= 0) & (cls_arr >= 0)
        nk = int(keep.sum())
        pair = np.bincount(
            ref_arr[keep] * _MAP_K + cls_arr[keep],
            minlength=_MAP_K * _MAP_K).reshape(_MAP_K, _MAP_K)
        for i in range(_MAP_K):
            for j in range(_MAP_K):
                if pair[i, j] > 0:
                    out["image_id"].append(image_id)
                    out["ref_cls"].append(i)
                    out["cls_cls"].append(j)
                    out["n_pts_mod"].append(int(pair[i, j]))
                    out["n_dropped"].append(MAP_N_PTS - nk)

    return codec.map_images(images, per_image, _MAP_SCHEMA,
                            extra_cols=("fmt", "id"), dtype=np.int64)
