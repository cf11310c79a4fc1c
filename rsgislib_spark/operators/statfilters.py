"""SAR-texture and centre-difference window filters.

Reference (imagefilter method table):
* ``apply_coeff_of_var_filter`` (python/rsgislib/imagefilter/
  __init__.py:382; src/filtering/RSGISStatsFilters.cpp:295): per-pixel
  stddev/mean over the k x k window.
* ``apply_norm_var_filter`` / ``apply_norm_var_sqrt_filter`` /
  ``apply_norm_var_ln_filter`` (__init__.py:444,475,507;
  src/filtering/RSGISSARTextureFilters.cpp:29,84,142): normalised
  variance  mean(t^2)/mean(t)^2 - 1  over the NONZERO window pixels of
  t = v / sqrt(v) / ln(v); 0 where the centre pixel is 0 (scene-edge
  preservation) or fewer than 4 valid pixels.

Determinism doctrine (NOTES lessons 11/19/21):
* coeff-of-var is rationalised to exact integers:
  stddev/mean = sqrt(n*SS - S^2) / S — one correctly-rounded sqrt and
  one division on exact int64 operands (the reference's float32 mean
  accumulation is a rounding detail, not semantics);
* the norm-var family keeps the reference's op tree verbatim but PINS
  it: per-term transforms (sqrt correctly rounded; ln via the
  cross-engine ``detmath`` tree) are summed in a fixed row-major
  window order — the identical left-associated chain is emitted in the
  DuckDB oracle, so every intermediate is bit-equal;
* per-pixel outputs are 2^20-quantized BEFORE the per-image sum so the
  (order-unspecified) aggregation is an exact integer sum.

Output per image: ``n_interior`` (valid-window pixel count),
``n_guard`` (pixels where the zero-centre / nv<=3 guard fired — the
non-triviality witness), ``sum_q`` / ``min_q`` / ``max_q`` of the
quantized plane.
"""
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ..functions import codec
from ..functions.detmath import ln_pos_np

__all__ = ["window_texture_stats", "TEXTURE_KINDS"]

_Q = 1048576.0  # 2^20 output quantizer (exact power-of-two scaling)

TEXTURE_KINDS = ("cov", "nv_power", "nv_sqrt", "nv_ln")

_SF_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_interior", LongType()),
    StructField("n_guard", LongType()),
    StructField("sum_q", LongType()),
    StructField("min_q", LongType()),
    StructField("max_q", LongType()),
])


def _window_views(a: np.ndarray, r: int):
    """Shifted interior views in pinned row-major (dy, dx) order."""
    h, w = a.shape
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            yield a[r + dy:h - r + dy, r + dx:w - r + dx]


def _texture_plane(a: np.ndarray, kind: str, size: int):
    """Quantized output plane + guard mask for one image (int64 in)."""
    r = size // 2
    h, w = a.shape
    if h < size or w < size:
        z = np.zeros((0,), dtype=np.int64)
        return z, z.astype(bool)
    n = size * size
    if kind == "cov":
        s = np.zeros((h - 2 * r, w - 2 * r), dtype=np.int64)
        ss = np.zeros_like(s)
        for v in _window_views(a, r):
            s += v
            ss += v * v
        num = n * ss - s * s
        guard = s <= 0
        out = np.zeros(s.shape, dtype=np.float64)
        ok = ~guard
        out[ok] = np.sqrt(num[ok].astype(np.float64)) \
            / s[ok].astype(np.float64)
        return np.floor(out * _Q).astype(np.int64), guard

    # norm-var family: sums over NONZERO window pixels, pinned order
    centre = a[r:h - r, r:w - r]
    nv = np.zeros(centre.shape, dtype=np.int64)
    if kind == "nv_power":
        s = np.zeros(centre.shape, dtype=np.int64)
        ss = np.zeros_like(s)
        for v in _window_views(a, r):
            m = v != 0
            nv += m
            s += np.where(m, v, 0)
            ss += np.where(m, v * v, 0)
        sm, sq = s.astype(np.float64), ss.astype(np.float64)
    elif kind == "nv_sqrt":
        # iMean sums sqrt(v); iSqMean sums the RAW value (the exact
        # square of sqrt(v)) — RSGISSARTextureFilters.cpp:110-117
        sm = np.zeros(centre.shape, dtype=np.float64)
        ss = np.zeros(centre.shape, dtype=np.int64)
        for v in _window_views(a, r):
            m = v != 0
            nv += m
            sm = sm + np.where(m, np.sqrt(v.astype(np.float64)), 0.0)
            ss += np.where(m, v, 0)
        sq = ss.astype(np.float64)
    elif kind == "nv_ln":
        sm = np.zeros(centre.shape, dtype=np.float64)
        sq = np.zeros(centre.shape, dtype=np.float64)
        for v in _window_views(a, r):
            m = v != 0
            nv += m
            ln = ln_pos_np(v.astype(np.float64))
            sm = sm + np.where(m, ln, 0.0)
            sq = sq + np.where(m, ln * ln, 0.0)
    else:
        raise ValueError(f"unknown texture kind {kind!r}")

    nvf = nv.astype(np.float64)
    guard = (centre == 0) | (nv <= 3)
    out = np.zeros(centre.shape, dtype=np.float64)
    ok = ~guard
    imean = np.divide(sm, nvf, out=np.zeros_like(sm), where=ok)
    imeansq = imean * imean
    ok = ok & (imeansq > 0)          # all-ln(1) window: 0/0 guard
    guard = ~ok
    isqm = np.divide(sq, nvf, out=np.zeros_like(sq), where=ok)
    out[ok] = isqm[ok] / imeansq[ok] - 1.0
    return np.floor(out * _Q).astype(np.int64), guard


def window_texture_stats(images: DataFrame, kind: str,
                         size: int = 3) -> DataFrame:
    """One row per image: exact stats of the quantized texture plane."""
    if kind not in TEXTURE_KINDS:
        raise ValueError(f"kind must be one of {TEXTURE_KINDS}")
    if size % 2 == 0:
        raise ValueError("size must be odd")

    def per_image(out, image_id, arr):
        q, guard = _texture_plane(arr, kind, size)
        q = q.ravel()
        out["image_id"].append(image_id)
        out["n_interior"].append(int(q.size))
        out["n_guard"].append(int(guard.sum()))
        out["sum_q"].append(int(q.sum()) if q.size else 0)
        out["min_q"].append(int(q.min()) if q.size else 0)
        out["max_q"].append(int(q.max()) if q.size else 0)

    return codec.map_images(images, per_image, _SF_SCHEMA, dtype=np.int64)
