"""Non-triviality + semantics for the sampling/unmixing/DEM-shadow
batch (NOTES lesson 15).  Pure numpy."""
import numpy as np

from rsgislib_spark import synth
from rsgislib_spark.operators.elevation import dem_plane, shadow_tan_q
from rsgislib_spark.operators.specunmix import (EM_SPECTRA, UNMIX_STEPS,
                                                _COMBOS)

from synthref import fmt_of_id

def _imgs(n=40, mod=19):
    for k in range(n):
        img_id = k * mod
        w = 32 + (img_id * 7) % 97
        h = 32 + (img_id * 13) % 97
        fmt = fmt_of_id(np.array([img_id]))[0]
        v = synth.pixel_array(img_id, w, h, fmt).astype(np.int64)
        yield img_id, v


def test_shadow_mask_nontrivial_and_matches_pair_scan():
    """Running-max trick == the O(n^2) per-pair definition, and the
    corpus actually casts shadows (plateau steps of 60 under a 10-deg
    sun)."""
    T = shadow_tan_q(10.0, 30.0)
    total = 0
    for img_id, v in _imgs(n=6):
        h, w = v.shape
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        a = dem_plane(v, x, y)
        key = a * 1048576 + T * np.arange(w, dtype=np.int64)[None, :]
        runmax = np.maximum.accumulate(key, axis=1)
        fast = np.zeros(a.shape, dtype=bool)
        fast[:, 1:] = runmax[:, :-1] > key[:, 1:]
        # brute-force pair scan on a few rows
        for r in (0, h // 2, h - 1):
            for xx in range(1, w):
                blocked = any(
                    (int(a[r, k]) - int(a[r, xx])) * 1048576
                    > T * (xx - k) for k in range(xx))
                assert blocked == bool(fast[r, xx]), (img_id, r, xx)
        total += int(fast.sum())
    assert total > 0, "no shadows cast on the corpus"


def test_exh_unmix_grid_is_exercised():
    """The argmin must land on interior, edge, AND full-sum-face grid
    points across the corpus — otherwise the constraint is vacuous."""
    e1, e2 = EM_SPECTRA
    S = UNMIX_STEPS
    seen = set()
    for img_id, v in _imgs(n=10):
        s1, s2 = v.ravel(), v[:, ::-1].ravel()
        d = np.stack([
            (S * s1 - a1 * e1[0] - a2 * e2[0]) ** 2
            + (S * s2 - a1 * e1[1] - a2 * e2[1]) ** 2
            for a1, a2 in _COMBOS])
        for k in np.unique(d.argmin(axis=0)):
            seen.add(_COMBOS[int(k)])
    sums = {a1 + a2 for a1, a2 in seen}
    assert len(seen) >= 5, seen
    assert S in sums, "full-sum face never optimal"
    assert any(s < S for s in sums), "interior never optimal"


def test_strat_sample_hash_is_injective_enough():
    """The integer-mix hash must produce distinct ranks within a class
    (no mass ties) so the sample is a genuine draw."""
    a, b, c, m = 2654435761, 40503, 69061, 2147483647
    for img_id, v in _imgs(n=5):
        h, w = v.shape
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        hsh = (img_id * a + x * b + y * c) % m
        hsh = np.broadcast_to(hsh, v.shape)
        assert len(np.unique(hsh)) > 0.99 * v.size


def test_detrend_residual_both_signs():
    for img_id, v in _imgs(n=5):
        h, w = v.shape
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        a = dem_plane(v, x, y)
        s9 = sum(a[1 + dy:h - 1 + dy, 1 + dx:w - 1 + dx]
                 for dy in (-1, 0, 1) for dx in (-1, 0, 1))
        num = 9 * a[1:-1, 1:-1] - s9
        assert (num > 0).any() and (num < 0).any()
