"""Mahalanobis window filters vs a direct per-window transcription of
RSGISImageWindowStats.cpp:35-219 (inline 0.001 substitution order,
gsl-style 1x1 inversion), plus lesson-15 non-triviality: the
zero-product substitution branch fires on the corpus and distances are
non-constant.  Pure numpy."""
import numpy as np

from rsgislib_spark import synth
from rsgislib_spark.operators.windowdist import (NEIGH_OFFSETS,
                                                 WIN_OFFSETS)

from synthref import fmt_of_id

_Q = 1048576.0


def _imgs(n=8, mod=19):
    for k in range(n):
        img_id = k * mod
        w = 32 + (img_id * 7) % 97
        h = 32 + (img_id * 13) % 97
        fmt = fmt_of_id(np.array([img_id]))[0]
        yield synth.pixel_array(img_id, w, h, fmt).astype(np.int64)


def _ref_neighbour_window(v, cy, cx):
    """Straight transcription: inline-ordered 0.001 substitutions,
    cov = sum over row-major neighbours; dist_k = sqrt(d_k^2 / cov)."""
    c = float(v[cy, cx])
    cov = 0.0
    for dy, dx in NEIGH_OFFSETS:
        t = (float(v[cy + dy, cx + dx]) - c) ** 2
        cov += t if t != 0 else 0.001
    ds = [np.sqrt((float(v[cy + dy, cx + dx]) - c) ** 2 / cov)
          for dy, dx in NEIGH_OFFSETS]
    s = sorted(ds)
    return (sum(ds) / 8.0, (s[3] + s[4]) * 0.5, s[0], s[7])


def test_zero_substitution_branch():
    """The synth plane's neighbour deltas (+-7/+-13/..., all < pmax)
    are never zero, so the 0.001 branch is exercised on a handcrafted
    flat patch: engine fold (sd2 + nz*0.001) == inline-ordered
    reference accumulation."""
    v = np.arange(25, dtype=np.int64).reshape(5, 5)
    v[1:4, 1:4] = 7  # flat 3x3: every neighbour delta at (2,2) is 0
    mean, med, mn, mx = _ref_neighbour_window(v, 2, 2)
    assert mn == mx == 0.0 and mean == 0.0  # 0/0.008 distances
    # mixed window: some zero deltas, some not
    v[1, 1] = 9
    v[3, 3] = 11
    mean, med, mn, mx = _ref_neighbour_window(v, 2, 2)
    c = v[2, 2]
    d2 = np.array([(v[2 + dy, 2 + dx] - c) ** 2
                   for dy, dx in NEIGH_OFFSETS], dtype=np.int64)
    nz = int((d2 == 0).sum())
    assert 0 < nz < 8
    cov = float(d2.sum()) + float(nz) * 0.001
    s = np.sqrt(d2.astype(np.float64) / cov)
    acc = s[0]
    for t in s[1:]:
        acc = acc + t
    assert abs(acc / 8.0 - mean) < 1e-12
    assert np.sort(s)[7] == mx and mx > 0


def test_neighbour_dist_matches_reference_transcription():
    for v in _imgs(n=5):
        h, w = v.shape
        for cy, cx in [(1, 1), (2, 5), (h - 2, w - 2), (h // 2, w // 2)]:
            mean, med, mn, mx = _ref_neighbour_window(v, cy, cx)
            # engine tree: cov folded as sd2 + nz*0.001
            c = v[cy, cx]
            d2 = np.array([(v[cy + dy, cx + dx] - c) ** 2
                           for dy, dx in NEIGH_OFFSETS], dtype=np.int64)
            nz = int((d2 == 0).sum())
            cov = float(d2.sum()) + float(nz) * 0.001
            s = np.sqrt(d2.astype(np.float64) / cov)
            acc = s[0]
            for t in s[1:]:
                acc = acc + t
            srt = np.sort(s)
            assert abs(acc / 8.0 - mean) < 1e-12
            assert abs((srt[3] + srt[4]) * 0.5 - med) < 1e-12
            assert srt[0] == mn and srt[7] == mx
            assert mx > 0  # non-constant window


def test_global_dist_matches_reference_transcription():
    for v in _imgs(n=5):
        n = v.size
        mu = v.sum() / n
        cov = float(((v - mu) ** 2).sum())  # unnormalised accumulation
        inv = 1.0 / cov
        h, w = v.shape
        cy, cx = h // 2, w // 2
        ref = []
        for dy, dx in WIN_OFFSETS:
            d = float(v[cy + dy, cx + dx]) - mu
            ref.append(np.sqrt(d * inv * d))
        # engine: exact-integer rationalisation
        S, S2 = int(v.sum()), int((v * v).sum())
        den = n * (n * S2 - S * S)
        eng = [np.sqrt(float((int(v[cy + dy, cx + dx]) * n - S) ** 2)
                       / float(den)) for dy, dx in WIN_OFFSETS]
        assert np.allclose(ref, eng, rtol=1e-9, atol=0)
        assert max(eng) > 0
