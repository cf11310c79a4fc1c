"""Classification-accuracy / regression-metric kernels vs the
conventional float formulas (sklearn.metrics semantics transcribed in
numpy — cohen_kappa_score, r2_score, explained_variance_score, etc.),
plus NOTES-lesson-15 non-triviality: off-diagonal confusion mass, every
class populated on both axes, both residual signs live.

Pure numpy — no Spark session needed; the registered queries carry the
exact-hash parity gate.
"""
import numpy as np

from rsgislib_spark import synth

from synthref import fmt_of_id

_Q = 1048576.0
_K = 4


def _planes(n=40, mod=19):
    for k in range(n):
        img_id = k * mod
        w = 32 + (img_id * 7) % 97
        h = 32 + (img_id * 13) % 97
        fmt = fmt_of_id(np.array([img_id]))[0]
        v = synth.pixel_array(img_id, w, h, fmt).astype(np.int64)
        pmax = 256 if fmt in ("raw8", "png") else 1024
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        e = (x * 7 + y * 3 + img_id) % 21 - 10
        yield v, np.broadcast_to(e, v.shape), pmax


def _cm(v, e, pmax):
    rc = (v * _K) // pmax
    pc = (np.clip(v + e, 0, pmax - 1) * _K) // pmax
    return np.bincount((rc * _K + pc).ravel(),
                       minlength=_K * _K).reshape(_K, _K)


def test_confusion_nontrivial():
    any_offdiag = False
    any_empty = False
    ref_tot = np.zeros(_K, dtype=np.int64)
    pred_tot = np.zeros(_K, dtype=np.int64)
    for v, e, pmax in _planes():
        cm = _cm(v, e, pmax)
        ref_tot += cm.sum(axis=1)
        pred_tot += cm.sum(axis=0)
        if cm.sum() - np.trace(cm) > 0:
            any_offdiag = True
        if (cm.sum(axis=0) == 0).any():
            any_empty = True  # the -1 sentinel branch is exercised
        assert (e > 0).any() and (e < 0).any()
    assert any_offdiag, "classifier is perfect -> metrics vacuous"
    assert (ref_tot > 0).all() and (pred_tot > 0).all()
    assert any_empty, "sentinel branch never fires on the corpus"


def test_kappa_oa_match_float_formula():
    for v, e, pmax in _planes():
        cm = _cm(v, e, pmax).astype(np.float64)
        nn = cm.sum()
        po = np.trace(cm) / nn
        pe = (cm.sum(axis=1) * cm.sum(axis=0)).sum() / (nn * nn)
        kappa = (po - pe) / (1.0 - pe)
        # the exact-integer algebra used by the kernel/oracle
        icm = _cm(v, e, pmax).astype(np.int64)
        n = int(icm.sum())
        diag = int(np.trace(icm))
        pe_num = int((icm.sum(axis=1) * icm.sum(axis=0)).sum())
        kq = np.floor((float(n * diag - pe_num)
                       / float(n * n - pe_num)) * _Q)
        assert abs(kq / _Q - kappa) < 2e-6
        assert 0.0 < po < 1.0
        oq = np.floor((float(diag) / float(n)) * _Q)
        assert abs(oq / _Q - po) < 2e-6


def test_prf_match_float_formula():
    for v, e, pmax in _planes(n=10):
        cm = _cm(v, e, pmax).astype(np.int64)
        for c in range(_K):
            tp = int(cm[c, c])
            nref = int(cm[c].sum())
            npred = int(cm[:, c].sum())
            if nref == 0 or npred == 0:
                continue  # sentinel path, checked by the parity gate
            prec, rec = tp / npred, tp / nref
            f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
            assert abs(np.floor((tp / npred) * _Q) / _Q - prec) < 2e-6
            assert abs(np.floor((tp / nref) * _Q) / _Q - rec) < 2e-6
            fq = np.floor((2 * tp / (nref + npred)) * _Q)
            assert abs(fq / _Q - f1) < 2e-6


def test_regression_metrics_match_float_formula():
    for v, e, pmax in _planes(n=20):
        r = v.ravel().astype(np.float64)
        d = np.ascontiguousarray(e).ravel().astype(np.float64)
        pred = r + d
        n = r.size
        # conventional float path (sklearn.metrics semantics)
        ssres = ((pred - r) ** 2).sum()
        sstot = ((r - r.mean()) ** 2).sum()
        r2 = 1.0 - ssres / sstot
        ev = 1.0 - d.var() / r.var()
        mae = np.abs(d).mean()
        mse = (d ** 2).mean()
        rmse = np.sqrt(mse)
        bias = d.mean()
        var = d.var()
        # exact-integer algebra
        di = np.ascontiguousarray(e).ravel().astype(np.int64)
        ri = v.ravel().astype(np.int64)
        sd, sd2 = int(di.sum()), int((di * di).sum())
        sr, sr2 = int(ri.sum()), int((ri * ri).sum())
        sstot_i = n * sr2 - sr * sr
        assert abs(np.floor((float(sstot_i - n * sd2)
                             / float(sstot_i)) * _Q) / _Q - r2) < 2e-6
        assert abs(np.floor((float(sstot_i - (n * sd2 - sd * sd))
                             / float(sstot_i)) * _Q) / _Q - ev) < 2e-6
        assert abs(np.floor((int(np.abs(di).sum()) / n) * _Q) / _Q
                   - mae) < 2e-6
        assert abs(np.floor((sd2 / n) * _Q) / _Q - mse) < 2e-6
        assert abs(np.floor(np.sqrt(sd2 / n) * _Q) / _Q - rmse) < 2e-6
        assert abs(np.floor((sd / n) * _Q) / _Q - bias) < 2e-6
        assert abs(np.floor((float(n * sd2 - sd * sd)
                             / float(n * n)) * _Q) / _Q - var) < 2e-6
        assert 0.9 < r2 <= 1.0  # residual is bounded noise: a real fit
