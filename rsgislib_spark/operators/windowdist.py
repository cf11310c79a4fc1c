"""Mahalanobis window-distance filters (imagecalc method table).

Reference: imagecalc.mahalanobis_dist_filter / mahalanobis_dist_to_img_filter
(python/src/imagecalc.cpp method table; RSGISCmdImageCalc.cpp:581,619;
kernels src/img/RSGISImageWindowStats.cpp:35-175 —
``RSGISCalcImgPxlNeighboursDist``: per 3x3 window, covariance of the 8
neighbour deltas vs the centre (zero products lifted to 0.001), then the
Mahalanobis distance of each neighbour, emitting the window's
mean/median/min/max; ``RSGISCalcImgPxl2WindowDist``
(RSGISImageWindowStats.cpp:177-219): distances of all 9 window pixels to
the GLOBAL image mean under the global covariance).

Single-band specialisation (the synth plane is one band):

  neighbours:  cov = sum_k d_k^2  (+ 0.001 per zero product — the
               reference adds the substitutions inline; we fold them as
               cov = sd2 + nz*0.001, a documented reassociation),
               dist_k = sqrt(d_k^2 / cov)
  to-image:    dist_p^2 = (v_p - mu)^2 / Cov  with Cov = sum (v - mu)^2,
               rationalised to the EXACT integer ratio
               (v_p*n - S)^2 / (n*(n*S2 - S^2))

Determinism contract: every distance is one correctly-rounded division
(exact-integer operands, except the pinned cov tree) followed by one
correctly-rounded sqrt; window mean adds the 8 (9) sqrt terms in
row-major order then divides by 8 (exact) / 9 (correctly rounded);
median sorts the window values (8 -> (t4+t5)*0.5 exact, 9 -> t5).
Per-pixel outputs are 2^20-quantized to ints BEFORE the per-image
aggregation so the final sums are exact.  Windows are interior-only.
"""
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ..functions import codec

__all__ = ["mahal_neighbour_stats", "mahal_to_image_stats",
           "NEIGH_OFFSETS", "WIN_OFFSETS"]

_Q = 1048576.0

# row-major 3x3 offsets (dy, dx), reference loop order i (row), j (col)
WIN_OFFSETS = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
NEIGH_OFFSETS = [o for o in WIN_OFFSETS if o != (0, 0)]

_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_win", LongType()),
    StructField("sum_mean_q", LongType()),
    StructField("sum_med_q", LongType()),
    StructField("min_q", LongType()),
    StructField("max_q", LongType()),
])


def _interior_shifts(v, offsets):
    """List of interior-window views of v at each (dy, dx) offset."""
    h, w = v.shape
    return [v[1 + dy:h - 1 + dy, 1 + dx:w - 1 + dx] for dy, dx in offsets]


def _agg_row(out, image_id, mean, med, mn, mx):
    out["image_id"].append(image_id)
    out["n_win"].append(int(mean.size))
    out["sum_mean_q"].append(int(np.floor(mean * _Q).astype(np.int64)
                                 .sum()))
    out["sum_med_q"].append(int(np.floor(med * _Q).astype(np.int64)
                                .sum()))
    out["min_q"].append(int(np.floor(mn * _Q).astype(np.int64).min()))
    out["max_q"].append(int(np.floor(mx * _Q).astype(np.int64).max()))


def _chain_sum(terms):
    """Left-to-right pinned addition chain (matches the SQL text)."""
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def mahal_neighbour_stats(images: DataFrame) -> DataFrame:
    """mahalanobis_dist_filter, winSize=3: one row per image with the
    2^20-quantized window mean/median summed and global min/max."""

    def per_image(out, image_id, v):
        c = v[1:-1, 1:-1]
        d2 = [(s - c) ** 2 for s in _interior_shifts(v, NEIGH_OFFSETS)]
        sd2 = _chain_sum(d2)              # exact int
        nz = _chain_sum([(t == 0).astype(np.int64) for t in d2])
        cov = sd2.astype(np.float64) + nz.astype(np.float64) * 0.001
        s = [np.sqrt(t.astype(np.float64) / cov) for t in d2]
        mean = _chain_sum(s) / 8.0
        srt = np.sort(np.stack(s, axis=0), axis=0)
        med = (srt[3] + srt[4]) * 0.5
        mn, mx = srt[0], srt[7]
        _agg_row(out, image_id, mean, med, mn, mx)

    return codec.map_images(images, per_image, _SCHEMA, dtype=np.int64)


def mahal_to_image_stats(images: DataFrame) -> DataFrame:
    """mahalanobis_dist_to_img_filter, winSize=3: distances of all 9
    window pixels to the global mean under the global covariance,
    dist^2 = (v*n - S)^2 / (n*(n*S2 - S^2)) — exact integer operands."""

    def per_image(out, image_id, v):
        n = int(v.size)
        S = int(v.sum())
        S2 = int((v * v).sum())
        den = n * (n * S2 - S * S)
        if den == 0:  # GSL inversion failure branch: all zeros
            zero = np.zeros((v.shape[0] - 2) * (v.shape[1] - 2))
            _agg_row(out, image_id, zero, zero, zero, zero)
            return
        num = (v * n - S) ** 2
        dist = np.sqrt(num.astype(np.float64) / float(den))
        s = _interior_shifts(dist, WIN_OFFSETS)
        mean = _chain_sum(s) / 9.0
        srt = np.sort(np.stack(s, axis=0), axis=0)
        med = srt[4]
        mn, mx = srt[0], srt[8]
        _agg_row(out, image_id, mean, med, mn, mx)

    return codec.map_images(images, per_image, _SCHEMA, dtype=np.int64)
