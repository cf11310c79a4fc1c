"""Deterministic-ln tree: accuracy vs libm, cross-engine bit equality
vs DuckDB, and the three consumers vs straight float transcriptions of
their references."""
import math

import duckdb
import numpy as np

from rsgislib_spark import synth
from rsgislib_spark.functions.detmath import LN2, ln_chain_sql, ln_pos_np

from synthref import fmt_of_id

_Q = 1048576.0


def test_ln_accuracy_and_boundaries():
    xs = np.concatenate([
        np.linspace(0.07, 1e13, 20011),
        2.0 ** np.arange(-4, 44),                 # exact binade edges
        np.nextafter(2.0 ** np.arange(-3, 43), 0),  # just below edges
        np.array([1.0, 2.0, math.sqrt(2.0),
                  np.nextafter(math.sqrt(2.0), 0),
                  np.nextafter(math.sqrt(2.0), 2)]),
    ])
    rel = np.abs(ln_pos_np(xs) - np.log(xs)) \
        / np.maximum(np.abs(np.log(xs)), 1e-30)
    assert rel.max() < 5e-16


def test_ln_bit_equal_duckdb():
    rng = np.random.RandomState(7)
    xs = np.concatenate([
        np.exp(rng.uniform(np.log(0.07), np.log(1e13), 5000)),
        2.0 ** np.arange(-4, 44),
        np.array([1.0, math.sqrt(2.0)]),
    ])
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT unnest(?) AS xv", params=[xs.tolist()])
    sql = ln_chain_sql("SELECT xv FROM t", "xv", "lnx")
    d = con.sql(f"SELECT xv, lnx FROM ({sql}) ORDER BY xv").df()
    ref = ln_pos_np(np.sort(xs))
    assert (d["lnx"].values == ref).all()


def _planes(n=12, mod=19):
    for k in range(n):
        img_id = k * mod
        w = 32 + (img_id * 7) % 97
        h = 32 + (img_id * 13) % 97
        fmt = fmt_of_id(np.array([img_id]))[0]
        v = synth.pixel_array(img_id, w, h, fmt).astype(np.int64)
        pmax = 256 if fmt in ("raw8", "png") else 1024
        yield v, pmax


def test_thermal_matches_libm_formula():
    K1, K2 = 607.76, 1260.56
    for v, _ in _planes(n=6):
        L = (37 * v + 3200) / 1000.0
        ref = K2 / np.log(K1 / L + 1.0)
        eng = K2 / ln_pos_np(K1 / L + 1.0)
        assert np.allclose(ref, eng, rtol=1e-13, atol=0)
        assert 200 < eng.min() and eng.max() < 500  # plausible Kelvin


def test_bhattacharyya_matches_float_formula():
    n_live = 0
    for v, pmax in _planes():
        cls = (v * 4) // pmax
        p0, p1 = v[cls == 0].astype(float), v[cls == 1].astype(float)
        if p0.size < 2 or p1.size < 2 or p0.var() == 0 or p1.var() == 0:
            continue
        n_live += 1
        s1s, s2s = p0.var(), p1.var()   # population variance A/n^2
        ref = (0.125 * (p0.mean() - p1.mean()) ** 2 * 2.0 / (s1s + s2s)
               + 0.5 * math.log((s1s + s2s)
                                / (2.0 * math.sqrt(s1s * s2s))))
        num, prod = s1s + s2s, s1s * s2s
        eng = (((p0.mean() - p1.mean()) ** 2 / num) * 0.25
               + ((float(ln_pos_np(num)) - LN2)
                  - float(ln_pos_np(prod)) * 0.5) * 0.5)
        assert abs(ref - eng) < 1e-12, (ref, eng)
        assert eng > 0
    assert n_live > 5


def test_yen_rationalisation_matches_skimage_form():
    """2(ln c + ln(N-c)) - ln A1 - ln A2 == the scikit-image criterion
    ln((p1(1-p1))^2 / (P1sq P2sq)) on the exact histogram."""
    for v, _ in _planes(n=4):
        vals, cnts = np.unique(v, return_counts=True)
        N = cnts.sum()
        pmf = cnts / N
        p1 = np.cumsum(pmf)
        p1sq = np.cumsum(pmf ** 2)
        p2sq = np.cumsum(pmf[::-1] ** 2)[::-1]
        ref = np.log(((p1sq[:-1] * p2sq[1:]) ** -1)
                     * (p1[:-1] * (1.0 - p1[:-1])) ** 2)
        c = np.cumsum(cnts)[:-1].astype(np.float64)
        a1 = np.cumsum(cnts * cnts)[:-1].astype(np.float64)
        a2 = (np.cumsum(cnts * cnts)[-1] - a1)
        eng = ((ln_pos_np(c) + ln_pos_np(N - c)) * 2.0
               - (ln_pos_np(a1) + ln_pos_np(a2)))
        assert np.allclose(ref, eng, rtol=0, atol=1e-7)
        assert int(np.argmax(eng)) == int(np.argmax(ref))


def test_jm_matches_reference_float_form():
    """Quantized-bin JM vs the straight RSGISRATStats.cpp:130-141
    float transcription — within the 2^-30-per-bin quantization."""
    for v, pmax in _planes(n=8):
        mv = v[:, ::-1]
        cls = (v * 4) // pmax
        h1 = {}
        h2 = {}
        for b, c in zip(*np.unique(mv[cls == 0], return_counts=True)):
            h1[int(b)] = int(c)
        for b, c in zip(*np.unique(mv[cls == 1], return_counts=True)):
            h2[int(b)] = int(c)
        n1, n2 = sum(h1.values()), sum(h2.values())
        if n1 == 0 or n2 == 0:
            continue
        ref = sum(math.sqrt((h1[b] / n1) * (h2[b] / n2))
                  for b in set(h1) & set(h2))
        ref_jm = math.sqrt(2 * (1 - ref))
        sq = sum(int(np.floor(np.sqrt(float(h1[b] * h2[b])
                                      / float(n1 * n2)) * 1073741824.0))
                 for b in set(h1) & set(h2))
        eng_jm = np.sqrt((1.0 - sq / 1073741824.0) * 2.0)
        assert abs(ref_jm - eng_jm) < 1e-5
        assert 0.0 < eng_jm < math.sqrt(2) + 1e-9


def test_li_converges_within_unroll():
    """The fixed 16-round unroll must pass the reference's tolerance
    stop: the final t equals round 13's t to < half the min value gap
    (= 0.5 on integer data) on every corpus image."""
    from rsgislib_spark.functions.detmath import ln_pos_np as _ln
    for v, _ in _planes(n=12):
        v = v + 1
        N, S = v.size, int(v.sum())
        t = float(S) / float(N)
        ts = []
        for _r in range(16):
            fore = v > t
            nf = int(fore.sum())
            if nf == 0 or nf == N:
                ts.append(t)
                continue
            sf = int(v[fore].sum())
            mf = float(sf) / float(nf)
            mb = float(S - sf) / float(N - nf)
            if mb != mf:
                t = (mb - mf) / (float(_ln(mb)) - float(_ln(mf)))
            ts.append(t)
        assert abs(ts[15] - ts[12]) < 0.5, ts
        # and the fixed point satisfies Li's criterion vs libm too
        ref_t = (mb - mf) / (math.log(mb) - math.log(mf))
        assert abs(ts[15] - ref_t) < 1e-6


def test_isodata_fixed_point_exists_and_is_intermeans():
    for v, _ in _planes(n=12):
        vals, cnts = np.unique(v, return_counts=True)
        N, Stot = int(cnts.sum()), int((vals * cnts).sum())
        b = np.cumsum(cnts)
        a = np.cumsum(vals * cnts)
        keep = b < N
        vv, bb, aa = vals[keep], b[keep], a[keep]
        cc, dd = Stot - aa, N - bb
        lhs = aa * dd + cc * bb
        lo = 2 * vv * bb * dd
        hit = (lo <= lhs) & (lhs < lo + 2 * bb * dd)
        assert hit.any()
        t = int(vv[hit][0])
        # float check of the inter-means criterion at t
        lo_m = v[v <= t].mean()
        hi_m = v[v > t].mean()
        assert 0.0 <= (lo_m + hi_m) / 2.0 - t < 1.0


def test_cloud_shadow_matches_bruteforce():
    for v, _ in _planes(n=4):
        cloud = ((v // 128) % 2) == 1
        sh = np.zeros_like(cloud)
        for d in range(3, 7):
            sh[:, d:] |= cloud[:, :-d]
        fast = sh & ~cloud
        h, w = v.shape
        for y in (0, h // 2):
            for x in range(w):
                ref = any(3 <= x - k <= 6 and cloud[y, k]
                          for k in range(max(0, x - 6), x)) \
                    and not cloud[y, x]
                assert ref == bool(fast[y, x])
        assert fast.sum() > 0  # shadows occur


def test_kurt_skew_rationalisation_matches_float_moments():
    """A2/A3/A4 integer forms == population m2/m3/m4 (scipy.stats
    bias=True semantics) on above-threshold subsets."""
    for v, _ in _planes(n=4):
        vals = v.ravel()
        for thr in (int(np.percentile(vals, 30)),
                    int(np.percentile(vals, 70))):
            sub = vals[vals > thr].astype(np.float64)
            n = sub.size
            if n < 4 or sub.var() == 0:
                continue
            m2 = ((sub - sub.mean()) ** 2).mean()
            m3 = ((sub - sub.mean()) ** 3).mean()
            m4 = ((sub - sub.mean()) ** 4).mean()
            skew = m3 / m2 ** 1.5
            kurt = m4 / m2 ** 2 - 3.0
            si = vals[vals > thr].astype(object)
            S1, S2 = int(sum(si)), int(sum(x * x for x in si))
            S3 = int(sum(x ** 3 for x in si))
            S4 = int(sum(x ** 4 for x in si))
            a2 = n * S2 - S1 * S1
            a3 = n * n * S3 - 3 * n * S1 * S2 + 2 * S1 ** 3
            a4 = (n ** 3 * S4 - 4 * n * n * S1 * S3
                  + 6 * n * S1 * S1 * S2 - 3 * S1 ** 4)
            a2d = float(a2)
            assert abs(float(a3) / (a2d * np.sqrt(a2d)) - skew) < 1e-9
            assert abs(float(a4) / (a2d * a2d) - 3.0 - kurt) < 1e-9
