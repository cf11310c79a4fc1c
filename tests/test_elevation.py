"""Elevation + calibration kernels vs direct reference-formula numpy.

The registered queries are exact-hash parity-gated; these tests pin the
SEMANTICS against a straight transcription of the C++ formulas
(atan/atan2/sin paths, RSGISDEMTools.cpp) and assert non-triviality
(NOTES lesson 15: every class/branch actually occurs on the corpus).
Pure numpy — no Spark session needed.
"""
import math

import numpy as np

from rsgislib_spark import synth
from rsgislib_spark.operators.calibration import (DEFAULT_CAL,
                                                  solar_distance,
                                                  toa_consts)
from rsgislib_spark.operators.elevation import (aspect_categories,
                                                dem_plane,
                                                fill_nodata_mean,
                                                hillshade_consts,
                                                horn_gradients,
                                                slope_class_thresholds)

from synthref import fmt_of_id


def _corpus_planes(n=40, mod=19):
    for k in range(n):
        img_id = k * mod
        w = 32 + (img_id * 7) % 97
        h = 32 + (img_id * 13) % 97
        fmt = fmt_of_id(np.array([img_id]))[0]
        v = synth.pixel_array(img_id, w, h, fmt).astype(np.int64)
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        yield dem_plane(v, x, y)


def _ref_gradients(a):
    """Direct transcription of the Horn sums (RSGISDEMTools.cpp:86-92,
    slope convention: dx = left - right, dy = bottom - top)."""
    a = a.astype(np.float64)
    h, w = a.shape
    dxs = np.empty((h - 2, w - 2))
    dys = np.empty((h - 2, w - 2))
    for i in range(1, h - 1):
        for j in range(1, w - 1):
            dxs[i - 1, j - 1] = ((a[i - 1, j - 1] + 2 * a[i, j - 1]
                                  + a[i + 1, j - 1])
                                 - (a[i - 1, j + 1] + 2 * a[i, j + 1]
                                    + a[i + 1, j + 1]))
            dys[i - 1, j - 1] = ((a[i + 1, j - 1] + 2 * a[i + 1, j]
                                  + a[i + 1, j + 1])
                                 - (a[i - 1, j - 1] + 2 * a[i - 1, j]
                                    + a[i - 1, j + 1]))
    return dxs, dys


def test_horn_gradients_match_reference():
    a = next(iter(_corpus_planes(1)))[:12, :14]
    gx, gy = horn_gradients(a)
    dxs, dys = _ref_gradients(a)
    # slope's dx = -GX, dy = GY
    assert np.array_equal(-gx, dxs.astype(np.int64))
    assert np.array_equal(gy, dys.astype(np.int64))


def test_slope_classes_match_atan_reference_and_nontrivial():
    res = 30.0
    thr2 = slope_class_thresholds((5.0, 15.0, 30.0), res)
    seen = np.zeros(4, dtype=np.int64)
    for a in _corpus_planes(25):
        gx, gy = horn_gradients(a)
        g2 = gx * gx + gy * gy
        cls = (g2 >= thr2[0]).astype(int) + (g2 >= thr2[1]) + (g2 >= thr2[2])
        # reference: slope_deg = atan(sqrt(dx^2+dy^2)/(8*res)) in degrees
        deg = np.degrees(np.arctan(np.sqrt(g2.astype(float)) / (8.0 * res)))
        ref = (deg >= 5.0).astype(int) + (deg >= 15.0) + (deg >= 30.0)
        assert np.array_equal(cls, ref)
        seen += np.bincount(cls.ravel(), minlength=4)
    assert (seen > 0).all(), seen  # every class populated on the corpus


def test_aspect_categories_match_atan2_reference_and_nontrivial():
    seen = np.zeros(9, dtype=np.int64)
    for a in _corpus_planes(25):
        gx, gy = horn_gradients(a)
        cat = aspect_categories(gx, gy)
        seen += np.bincount(cat.ravel(), minlength=9)
        # float reference on NON-boundary pixels (|Y| != |X|, not flat):
        # aspect = atan2(-dx, dy) deg wrapped to [0, 360), sector
        # floor(aspect/45) + 1 (RSGISRecodeAspect bins)
        Y, X = -gx, gy
        nb = (np.abs(Y) != np.abs(X)) & ~((X == 0) | (Y == 0))
        deg = np.degrees(np.arctan2(Y.astype(float), X.astype(float)))
        deg = np.where(deg < 0, deg + 360.0, deg)
        ref = (deg // 45.0).astype(np.int64) + 1
        assert np.array_equal(cat[nb], ref[nb])
    assert (seen[1:] > 0).all(), seen  # all 8 compass sectors occur


def test_hillshade_matches_trig_reference():
    SZ, CZ, K1, K2 = hillshade_consts(315.0, 45.0)
    # the constants themselves match the reference's ctor remap
    azp = math.radians(360.0 - 315.0 + 90.0)
    assert SZ == math.sin(math.radians(45.0))
    assert abs(K1 - math.cos(azp - math.pi / 2)) < 1e-15
    a = next(iter(_corpus_planes(1)))
    gx, gy = horn_gradients(a)
    R8 = 8.0 * 30.0
    dx, dy = gx / R8, -gy / R8
    cang = (SZ - CZ * (dy * K1 - dx * K2)) / np.sqrt(1.0 + (dx * dx + dy * dy))
    # reference trig path: sqrt(xx+yy)*sin(atan2(dy,dx) - (az - pi/2))
    az = azp
    ref = (SZ - CZ * np.sqrt(dx * dx + dy * dy)
           * np.sin(np.arctan2(dy, dx) - (az - math.pi / 2))) \
        / np.sqrt(1.0 + (dx * dx + dy * dy))
    assert np.allclose(cang, ref, rtol=0, atol=1e-12)
    shade = np.where(cang <= 0, 1.0, 1.0 + 254.0 * cang)
    assert shade.min() >= 1.0 and shade.max() <= 255.0


def test_hillshade_dark_branch_occurs():
    SZ, CZ, K1, K2 = hillshade_consts(315.0, 45.0)
    n_dark = n_tot = 0
    for a in _corpus_planes(25):
        gx, gy = horn_gradients(a)
        dx, dy = gx / 240.0, -gy / 240.0
        cang = (SZ - CZ * (dy * K1 - dx * K2)) \
            / np.sqrt(1.0 + (dx * dx + dy * dy))
        n_dark += int((cang <= 0).sum())
        n_tot += cang.size
    assert 0 < n_dark < n_tot  # both shade branches live on the corpus


def test_fill_nodata_mean():
    a = np.array([[5, -99, 7], [9, 11, -99], [13, 15, 17]], dtype=np.int64)
    f = fill_nodata_mean(a, -99)
    valid = a[a != -99]
    assert f.dtype == np.float64
    assert np.all(f[a == -99] == valid.sum() / valid.size)
    assert np.array_equal(f[a != -99], valid)
    # no sentinel -> untouched integer plane (exact path preserved)
    b = np.arange(9).reshape(3, 3)
    assert fill_nodata_mean(b, -99) is b
    # all-nodata / single-valid -> left alone (reference nVals>1 guard)
    c = np.full((2, 2), -99, dtype=np.int64)
    assert fill_nodata_mean(c, -99) is c


def test_toa_reflectance_matches_reference_formula():
    PI, DSQ, ED, SC = toa_consts(1997.0, 35.0, 196, 1000.0)
    assert PI == math.pi
    assert abs(DSQ - solar_distance(196) ** 2) < 1e-15
    g, o, esun = DEFAULT_CAL[0]
    dn = np.array([0, 1, 100, 1023], dtype=np.int64)
    L = g * dn + o
    rho = ((PI * L * DSQ) / ED) * SC
    ref = (math.pi * L * solar_distance(196) ** 2) \
        / (1997.0 * math.cos(math.radians(35.0))) * 1000.0
    assert np.allclose(rho, ref, rtol=0, atol=1e-9)


def test_toa_border_rule():
    """All-band-zero pixels emit 0 (not G*0+O) — the reference's image
    border convention (RSGISStandardDN2RadianceCalibration.cpp:68-77)."""
    v = np.array([[0, 5], [3, 0]], dtype=np.int64)
    bands = [v, v[:, ::-1]]
    border = (bands[0] == 0) & (bands[1] == 0)
    # mirror of [[0,5],[3,0]] is [[5,0],[0,3]] -> no all-zero pixel
    assert border.sum() == 0
    v2 = np.array([[0, 0], [3, 1]], dtype=np.int64)
    border2 = (v2 == 0) & (v2[:, ::-1] == 0)
    assert border2.sum() == 2  # both top pixels are zero in both bands
    g, o, _ = DEFAULT_CAL[0]
    L = np.where(border2, 0.0, g * v2 + o)
    assert L[0, 0] == 0.0 and L[0, 1] == 0.0 and L[1, 0] != 0.0


def test_6s_branches_live_and_match_reference():
    from rsgislib_spark.operators.calibration import DEFAULT_6S
    n_lo = n_clamp = 0
    for k in range(10):
        img_id = k * 19
        w, h = 32 + (img_id * 7) % 97, 32 + (img_id * 13) % 97
        fmt = fmt_of_id(np.array([img_id]))[0]
        v = synth.pixel_array(img_id, w, h, fmt).astype(np.int64)
        A, B, C = DEFAULT_6S[0]
        y = A * v - B
        t = (y / (1.0 + C * y)) * 1000.0
        # straight C++ transcription (RSGISApply6SCoefficients.cpp:87-103)
        ref = np.empty(v.shape)
        for i in range(v.shape[0]):
            for j in range(v.shape[1]):
                tmp = A * v[i, j] - B
                o = (tmp / (1.0 + C * tmp)) * 1000.0
                o = 1.0 if o < 1 else o + 1.0
                ref[i, j] = 1000.0 if o > 1000.0 else o
        mine = np.where(t < 1.0, 1.0, t + 1.0)
        mine = np.where(mine > 1000.0, 1000.0, mine)
        assert np.array_equal(mine, ref)
        n_lo += int((t < 1.0).sum())
        n_clamp += int((np.where(t < 1.0, 1.0, t + 1.0) > 1000.0).sum())
    assert n_lo > 0 and n_clamp > 0  # both reference branches fire


def test_dos_invariants():
    img_id = 38
    w, h = 32 + (img_id * 7) % 97, 32 + (img_id * 13) % 97
    fmt = fmt_of_id(np.array([img_id]))[0]
    v = synth.pixel_array(img_id, w, h, fmt).astype(np.int64)
    nodata = v == 0
    off = int(v[~nodata].min())
    res = v - off
    res = np.where(res <= 0, 1, res)
    res = np.where(nodata, 0, res)
    # dark-object pixels land exactly on the nonNegative branch
    assert (res[(~nodata) & (v == off)] == 1).all()
    assert (res[nodata] == 0).all()
    # subtraction never produces values above the input range
    assert res.max() <= v.max()


def test_fill_soille_gratin_matches_priority_flood():
    """Reconstruction-by-erosion fixpoint == the reference's
    priority-flood (heapq transcription), and the fill invariants:
    F >= dem, F == dem on the border, no interior strict local
    minimum below its neighbourhood, minimality on raised pixels."""
    import heapq
    from rsgislib_spark.operators.elevation import fill_soille_gratin

    def priority_flood(dem):
        h, w = dem.shape
        filled = dem.copy()
        seen = np.zeros(dem.shape, dtype=bool)
        pq = []
        for x in range(w):
            for y in (0, h - 1):
                heapq.heappush(pq, (int(dem[y, x]), y, x))
                seen[y, x] = True
        for y in range(h):
            for x in (0, w - 1):
                if not seen[y, x]:
                    heapq.heappush(pq, (int(dem[y, x]), y, x))
                    seen[y, x] = True
        while pq:
            lvl, y, x = heapq.heappop(pq)
            for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):
                ny, nx = y + dy, x + dx
                if 0 <= ny < h and 0 <= nx < w and not seen[ny, nx]:
                    seen[ny, nx] = True
                    filled[ny, nx] = max(int(dem[ny, nx]), lvl)
                    heapq.heappush(pq, (int(filled[ny, nx]), ny, nx))
        return filled

    total_raised = 0
    for k in range(6):
        img_id = k * 19
        w = 32 + (img_id * 7) % 97
        h = 32 + (img_id * 13) % 97
        fmt = fmt_of_id(np.array([img_id]))[0]
        v = synth.pixel_array(img_id, w, h, fmt).astype(np.int64)
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        dem = dem_plane(v, x, y)
        filled, rounds = fill_soille_gratin(dem)
        ref = priority_flood(dem)
        assert (filled == ref).all()
        assert (filled >= dem).all()
        assert (filled[0] == dem[0]).all() and (filled[-1] == dem[-1]).all()
        total_raised += int((filled > dem).sum())
        assert rounds >= 2
    assert total_raised > 0, "corpus has no depressions -> vacuous"
