"""GMM histogram fitting (operators/gmm): pinned exp tree parity, the
fixed-round quantised EM vs a plain-float EM transcription, and the
reference classification invariants (RSGISSelectClumps.cpp:602)."""
import math

import duckdb
import numpy as np
import pytest

from rsgislib_spark.functions.detmath import exp_chain_sql, exp_np
from rsgislib_spark.operators.gmm import (GMM_BIN_WIDTH, GMM_KMAX,
                                          GMM_MIX_EPS, GMM_ROUNDS, GMM_VAR0,
                                          GMM_VAR_MAX, GMM_VAR_MIN,
                                          _classify, _em_rounds, _find_peaks)


def test_exp_accuracy_and_boundaries():
    xs = np.concatenate([
        np.linspace(-700.0, 0.0, 4001),
        np.array([0.0, -0.0, 1.0, -1.0, 0.5 * math.log(2.0),
                  -1e-300, 700.0, -699.999999]),
    ])
    rel = np.abs(exp_np(xs) - np.exp(xs)) / np.exp(xs)
    # pinned tree vs libm: bounded by the one-term argument reduction
    assert rel.max() < 2e-13


def test_exp_bit_equal_duckdb():
    rng = np.random.RandomState(11)
    xs = np.concatenate([
        rng.uniform(-700.0, 0.0, 20000),
        -np.exp(rng.uniform(np.log(1e-12), np.log(700.0), 5000)),
        np.array([0.0, -0.0, -700.0, -1.0, -0.5]),
    ])
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT unnest(?) AS xv", params=[xs.tolist()])
    sql = exp_chain_sql("SELECT xv FROM t", "xv", "ex")
    d = con.sql(f"SELECT xv, ex FROM ({sql}) ORDER BY xv").df()
    assert (d["ex"].values == exp_np(np.sort(xs))).all()


def gmm_em_float(counts: np.ndarray, vmin: int, rounds: int = GMM_ROUNDS):
    """Plain-float EM transcription (np.exp, float sums, no
    quantisation): the independent yardstick the pinned kernel must
    track — same seeding, same fixed rounds, textbook weighted-EM
    updates."""
    total = int(counts.sum())
    peaks = _find_peaks(counts, total)
    if not peaks:
        return None
    sel = sorted(sorted(peaks, key=lambda i: (-counts[i], i))[:GMM_KMAX])
    k = len(sel)
    bw, half = GMM_BIN_WIDTH, GMM_BIN_WIDTH // 2
    nz = np.nonzero(counts)[0]
    c = (vmin + nz * bw + half).astype(np.float64)
    w = counts[nz].astype(np.float64)
    mu = np.array([vmin + i * bw + half for i in sel], dtype=np.float64)
    var = np.full(k, GMM_VAR0)
    pi = np.full(k, 1.0 / k)
    for _ in range(rounds):
        d = c[None, :] - mu[:, None]
        dens = pi[:, None] * np.exp(
            np.maximum(-(d * d) / (2.0 * var[:, None]), -700.0))
        resp = dens / dens.sum(axis=0, keepdims=True)
        s0 = (resp * w).sum(axis=1)
        mu = (resp * w * c).sum(axis=1) / s0
        var = np.clip((resp * w * c * c).sum(axis=1) / s0 - mu * mu,
                      GMM_VAR_MIN, GMM_VAR_MAX)
        pi = s0 / s0.sum()
    return mu, var, pi


def _synthetic_hist(rng, k):
    """Histogram with k well-separated Gaussian humps over ~64 bins."""
    nb = 64
    counts = np.zeros(nb, dtype=np.int64)
    centres = np.linspace(10, nb - 10, k)
    for mu in centres:
        draws = np.clip(rng.normal(mu, 2.5, 4000).round().astype(int),
                        0, nb - 1)
        counts += np.bincount(draws, minlength=nb)
    return counts


@pytest.mark.parametrize("k", [1, 2, 3])
def test_pinned_em_tracks_float_em(k):
    """The quantised fixed-round EM must land within a bin width of the
    plain-float transcription (same seeding, textbook updates)."""
    rng = np.random.RandomState(100 + k)
    counts = _synthetic_hist(rng, k)
    vmin = 0
    ref = gmm_em_float(counts, vmin)
    assert ref is not None
    mu_f, var_f, pi_f = ref
    total = int(counts.sum())
    peaks = _find_peaks(counts, total)
    sel = sorted(sorted(peaks, key=lambda i: (-counts[i], i))[:GMM_KMAX])
    kk = len(sel)
    bw, half = GMM_BIN_WIDTH, GMM_BIN_WIDTH // 2
    nz = np.nonzero(counts)[0]
    c = (np.int64(vmin) + nz * bw + half).astype(np.int64)
    n = counts[nz]
    mu = [float(vmin + i * bw + half) for i in sel]
    var = [GMM_VAR0] * kk
    pi = [1.0 / kk] * kk
    mu, var, pi = _em_rounds(c, n, mu, var, pi, 6)
    assert kk == len(mu_f)
    for j in range(kk):
        # same seeds, 6 rounds each: quantisation (2^-16) and Laplace
        # smoothing keep the tracks within a bin width / a few percent
        assert abs(mu[j] - mu_f[j]) < GMM_BIN_WIDTH
        assert abs(pi[j] - pi_f[j]) < 0.05
    assert abs(sum(pi) - 1.0) < 1e-9


def test_classify_first_max_and_floor():
    """Argmax keeps the FIRST maximum (SelectClumps.cpp:717-734) and the
    sub-1e-5 mixture floor routes bins to class 0 (:710)."""
    c = np.array([10, 50, 1000], dtype=np.int64)
    n = np.array([5, 7, 3], dtype=np.int64)
    mu, var, pi = [10.0, 50.0], [4.0, 4.0], [0.5, 0.5]
    out = _classify(c, n, mu, var, pi)
    # bin 1000 is hundreds of sigmas from both comps -> mixture < eps
    assert out[0] == 3
    assert out[1] == 5 and out[2] == 7
    # exact tie: both comps identical -> first max wins
    mu, var, pi = [30.0, 30.0], [9.0, 9.0], [0.5, 0.5]
    out = _classify(np.array([30], dtype=np.int64),
                    np.array([2], dtype=np.int64), mu, var, pi)
    assert out[1] == 2 and out[2] == 0
    assert GMM_MIX_EPS == 1e-5


def test_peak_predicate_matches_reference_form():
    """forGrad > 0 && backGrad < 0 && n/N > 0.005
    (RSGISFitGaussianMixModel.cpp:50-61), endpoints excluded."""
    counts = np.array([9, 10, 3, 3, 4, 2, 1, 900], dtype=np.int64)
    total = int(counts.sum())
    # bin1: rise+fall and 10*200 > 932 -> peak; bin3: flat rise (==)
    # not a peak; bin4: 4*200 < 932 fails the 0.005 threshold;
    # bin7: endpoint excluded.
    assert _find_peaks(counts, total) == [1]
    assert _find_peaks(np.array([1, 500, 1, 500, 1], dtype=np.int64),
                       1003) == [1, 3]


def test_histo_sampling_stride_invariant():
    """sampleUseHistogramMethod picks indices 0, s, 2s, ... per sorted
    bin (s = floor(1/prop) = 4): per (cls, ibin) the selected count is
    floor((n-1)/4) + 1, and the first (smallest-value) entry is always
    selected."""
    import duckdb
    import os
    from rsgislib_spark.oracles import ORACLES
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM read_parquet('{p}')")
    df = con.sql(ORACLES["histo_sampling"]).df()
    assert len(df) > 0 and set(df["sel"]) <= {0, 1}
    g = df.groupby(["cls", "ibin"])["sel"]
    for (cls, ibin), s in g:
        n = len(s)
        assert s.sum() == (n - 1) // 4 + 1, (cls, ibin, n)
