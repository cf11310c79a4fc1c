"""elevation.fft_dem_fusion (python/rsgislib/elevation/__init__.py:10):
DEM fusion in the frequency domain — fft2 both DEMs, fftshift, replace
the CENTERED cSize-block of the low-res spectrum with the high-res
spectrum's (the code takes the low-frequency block FROM THE HIGH-RES
input, lines 73-75), inverse transform, magnitude.

Engine variant (documented — numpy's float FFT is not cross-engine
bit-stable and not SQL-expressible):

* works on the 4x4 block-mean pyramid of the decoded plane as the
  "high-res DEM" (grid <= 33x33) and the 16x16 block-mean expanded to
  the same grid as the "low-res DEM";
* the DFT is the QUANTIZED INTEGER transform: twiddles
  round(256 * cos/sin(2*pi*k*n/N)) from a table generated once in
  Python and shared VERBATIM with the DuckDB oracle (the Lanczos /
  harmonic-table precedent); after each of the four 1-D transform
  stages every component is floor-shifted by 2^8, so magnitudes stay
  ~N x input per stage and never exceed 2^53 before any double cast;
* the fftshift splice is the integer predicate
  ((k + N//2) % N) in [N//2 - c, N//2 + c) on the unshifted index
  (fftshift(x)[i] = x[(i - N//2) % N]), c = 4;
* forward twiddle is (c, -s), inverse (c, +s); the final magnitude is
  one sqrt of a double sum of two exact (<2^53) squares.

Emitted per image: grid shape, splice-cell count, and the fused-plane
magnitude checksum (sum/min/max of floor(|z|)).
"""
import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ..functions import codec

__all__ = ["fft_fusion_stats", "twiddle_table", "FUSE_Q", "FUSE_C",
           "FUSE_NMAX", "fuse_plane"]

FUSE_Q = 256          # twiddle quantisation scale (2^8)
FUSE_C = 4            # cSize analog on the coarse grid
FUSE_NMAX = 33        # max grid dimension (ceil(128/4) + margin)


def twiddle_table():
    """[(n_dim, k, n, c, s)] for every N in 2..FUSE_NMAX: the quantized
    cos/sin twiddles round(Q * trig(2*pi*k*n/N)).  Generated once in
    Python; consumed verbatim by the Arrow kernel AND the oracle."""
    rows = []
    for N in range(2, FUSE_NMAX + 1):
        for k in range(N):
            for n in range(N):
                a = 2.0 * math.pi * k * n / N
                rows.append((N, k, n, round(FUSE_Q * math.cos(a)),
                             round(FUSE_Q * math.sin(a))))
    return rows


def _twiddles_np(N, cache={}):
    # A grid dim outside 2..FUSE_NMAX would silently yield all-zero
    # twiddles (zero spectra) while the oracle's inner join on ftw
    # drops the image row — a silent engine/oracle row-set divergence.
    # Fail loudly instead (ADVICE r4).
    if not (2 <= N <= FUSE_NMAX):
        raise ValueError(
            f"demfusion grid dim {N} outside supported 2..{FUSE_NMAX}"
            " (image must be 8..132 px per axis at block 4)")
    if N not in cache:
        c = np.zeros((N, N), dtype=np.int64)
        s = np.zeros((N, N), dtype=np.int64)
        for (nd, k, n, cc, ss) in twiddle_table():
            if nd == N:
                c[k, n] = cc
                s[k, n] = ss
        cache[N] = (c, s)
    return cache[N]


def _block_mean(v, b):
    h, w = v.shape
    gh, gw = (h + b - 1) // b, (w + b - 1) // b
    out = np.zeros((gh, gw), dtype=np.int64)
    for gy in range(gh):
        for gx in range(gw):
            blk = v[gy * b:(gy + 1) * b, gx * b:(gx + 1) * b]
            out[gy, gx] = blk.sum() // blk.size
    return out


def _fwd_rows(re, im, N):
    """1-D forward transform along axis 0 (rows -> freq), (c, -s)
    twiddle, floor-shift by Q.  re/im are (N, M) int64."""
    c, s = _twiddles_np(N)
    outre = c @ re + s @ im
    outim = c @ im - s @ re
    return outre // FUSE_Q, outim // FUSE_Q


def _inv_rows(re, im, N):
    c, s = _twiddles_np(N)
    outre = c @ re - s @ im
    outim = c @ im + s @ re
    return outre // FUSE_Q, outim // FUSE_Q


def _fft2q(re, im=None, fwd=True):
    if im is None:
        im = np.zeros_like(re)
    f = _fwd_rows if fwd else _inv_rows
    re, im = f(re, im, re.shape[0])                       # rows
    re, im = (x.T for x in f(re.T, im.T, re.shape[1]))    # cols
    return re, im


def _splice_mask(N):
    """unshifted-index predicate of the centered fftshift block."""
    k = np.arange(N)
    sh = (k + N // 2) % N
    return (sh >= N // 2 - FUSE_C) & (sh < N // 2 + FUSE_C)


def fuse_plane(v):
    """Full fusion pipeline on one decoded plane; returns the fused
    magnitude plane floor(|z|) as int64."""
    hi = _block_mean(v, 4)
    lo16 = _block_mean(v, 16)
    lo = lo16[np.arange(hi.shape[0]) // 4][:, np.arange(hi.shape[1]) // 4]
    hre, him = _fft2q(hi)
    lre, lim = _fft2q(lo)
    my = _splice_mask(hi.shape[0])
    mx = _splice_mask(hi.shape[1])
    m = my[:, None] & mx[None, :]
    fre = np.where(m, hre, lre)
    fim = np.where(m, him, lim)
    rre, rim = _fft2q(fre, fim, fwd=False)
    # inverse col stage ran on transposed views; orientation preserved
    mag = np.sqrt(rre.astype(np.float64) ** 2
                  + rim.astype(np.float64) ** 2)
    return np.floor(mag).astype(np.int64), int(m.sum())


_FUSE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("gw", LongType()),
    StructField("gh", LongType()),
    StructField("n_splice", LongType()),
    StructField("sum_mag", LongType()),
    StructField("min_mag", LongType()),
    StructField("max_mag", LongType()),
])


def fft_fusion_stats(images: DataFrame) -> DataFrame:
    def per_image(out, image_id, v):
        mag, nsp = fuse_plane(v)
        out["image_id"].append(image_id)
        out["gw"].append(mag.shape[1])
        out["gh"].append(mag.shape[0])
        out["n_splice"].append(nsp)
        out["sum_mag"].append(int(mag.sum()))
        out["min_mag"].append(int(mag.min()))
        out["max_mag"].append(int(mag.max()))

    return codec.map_images(images, per_image, _FUSE_SCHEMA, dtype=np.int64)
