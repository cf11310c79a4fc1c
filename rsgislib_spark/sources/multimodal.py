"""Multimodal binary-payload plumbing: decode / resize / frame-sample.

Treats image/audio/video payloads as opaque ``binary`` columns with typed
metadata, processed in Arrow batches (``mapInArrow``).  The *plumbing* —
schemas, batch shapes, partitioning, UDF signatures — is real and tested;
codecs the container lacks are STUBBED exactly as the task prescribes:

* image png/raw8/raw16: real decode (functions.codec);
* image jpeg: deterministic quantization stub (codec.decode_jpeg_stub)
  bounded to PSNR >= 40 dB; raises NotImplementedError for real JPEG
  payloads;
* audio/video: no codec library is available; the Spark kernels below
  decode through ``codec.map_images``, which takes image formats only and
  raises ValueError for any other.  ``frame_sample`` demonstrates the real
  row-strided sampling plumbing on raster payloads (a video frame is one
  more leading dimension of the same layout).

Reference precedent for resize: ``resample_img_to_match`` with
INTERP_NEAREST_NEIGHBOUR (python/rsgislib/imageutils/__init__.py:2104;
kernels enum python/rsgislib/__init__.py:214-220).  Nearest-neighbour
source index: ``src = (dst * src_size) // dst_size`` — pure integer math,
so results carry an exact closed-form oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..functions import codec
from ..functions.groupmode import group_mode

__all__ = ["resize_nn", "resize_bilinear_stats",
           "resize_cubic_stats", "resize_cubicspline_stats",
           "resize_lanczos_stats", "resize_average_stats",
           "resize_mode_stats", "frame_sample_stats", "audio_window_rms"]


_RESIZE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("out_w", IntegerType()),
    StructField("out_h", IntegerType()),
    StructField("fmt", StringType()),
    StructField("bytes", BinaryType()),
    StructField("sum_pix", LongType()),
])


def resize_nn(images: DataFrame, out_w: int, out_h: int,
              encode: bool = True) -> DataFrame:
    """Nearest-neighbour resize of every payload to (out_w, out_h).

    src index = (dst * src) // dst (integer).  One decode per image, one
    Arrow batch per task; ``sum_pix`` is the exact content checksum of
    the resized plane (the oracle hook + lineage fingerprint).
    """

    def per_image(out, image_id, arr, fmt):
        h, w = arr.shape
        sx = (np.arange(out_w, dtype=np.int64) * int(w)) // out_w
        sy = (np.arange(out_h, dtype=np.int64) * int(h)) // out_h
        res = arr[np.ix_(sy, sx)]
        out["image_id"].append(image_id)
        out["out_w"].append(out_w)
        out["out_h"].append(out_h)
        out["fmt"].append(str(fmt))
        out["bytes"].append(
            codec.encode_image(res, str(fmt)) if encode else b"")
        out["sum_pix"].append(int(res.astype(np.int64).sum()))

    return codec.map_images(images, per_image, _RESIZE_SCHEMA,
                            extra_cols=("fmt",))


_BILINEAR_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_out", LongType()),
    StructField("sum_sc", LongType()),
    StructField("min_sc", LongType()),
    StructField("max_sc", LongType()),
])


def resize_bilinear_stats(images: DataFrame, out_w: int,
                          out_h: int) -> DataFrame:
    """Bilinear resize (INTERP_BILINEAR) with integer-exact outputs.

    Reference: ``resample_img_to_match`` with ``INTERP_BILINEAR``
    (python/rsgislib/imageutils/__init__.py:2104; kernel enum
    rsgislib/__init__.py:214-220) — the kernel users reach for when
    downsampling chips for ML.  Half-pixel-center mapping
    ``src = (dst + 0.5) * in/out - 0.5`` is kept RATIONAL: with
    ``Dx = 2*out_w`` the source position is ``nx/Dx`` where
    ``nx = (2*dst+1)*w_in - out_w``, so the four neighbour weights are
    exact integers ``(Dx-fx, fx) x (Dy-fy, fy)`` and each output value
    is emitted SCALED by ``Dx*Dy`` — pure int64, no rounding anywhere,
    hence an exact closed-form oracle.  Edge handling: indices clamp
    (replicate), weights keep their value.  Output: per-image exact
    stats of the scaled plane (n_out, sum_sc, min_sc, max_sc).
    """
    ow, oh = int(out_w), int(out_h)

    def per_image(out, image_id, a):
        hh, ww = a.shape
        dx, dy = 2 * ow, 2 * oh
        nx = (2 * np.arange(ow, dtype=np.int64) + 1) * ww - ow
        ny = (2 * np.arange(oh, dtype=np.int64) + 1) * hh - oh
        x0 = np.floor_divide(nx, dx)
        y0 = np.floor_divide(ny, dy)
        fx = nx - x0 * dx
        fy = ny - y0 * dy
        x0c = np.clip(x0, 0, ww - 1)
        x1c = np.clip(x0 + 1, 0, ww - 1)
        y0c = np.clip(y0, 0, hh - 1)
        y1c = np.clip(y0 + 1, 0, hh - 1)
        wx0 = (dx - fx)[None, :]
        wx1 = fx[None, :]
        wy0 = (dy - fy)[:, None]
        wy1 = fy[:, None]
        res = (wy0 * (wx0 * a[np.ix_(y0c, x0c)]
                      + wx1 * a[np.ix_(y0c, x1c)])
               + wy1 * (wx0 * a[np.ix_(y1c, x0c)]
                        + wx1 * a[np.ix_(y1c, x1c)]))
        out["image_id"].append(image_id)
        out["n_out"].append(int(res.size))
        out["sum_sc"].append(int(res.sum()))
        out["min_sc"].append(int(res.min()))
        out["max_sc"].append(int(res.max()))

    return codec.map_images(images, per_image, _BILINEAR_SCHEMA,
                            dtype=np.int64)


def _cr_weights(f: np.ndarray, d: int):
    """Catmull-Rom tap weights scaled by 2*d^3 — exact integers.

    With t = f/d the classic kernel is w0 = (-t^3+2t^2-t)/2,
    w1 = (3t^3-5t^2+2)/2, w2 = (-3t^3+4t^2+t)/2, w3 = (t^3-t^2)/2;
    multiplying through by 2*d^3 clears every division.  The four
    integer weights sum to exactly 2*d^3 for any f.
    """
    f = f.astype(np.int64)
    f2 = f * f
    f3 = f2 * f
    d2 = d * d
    d3 = d2 * d
    w0 = -f3 + 2 * f2 * d - f * d2
    w1 = 3 * f3 - 5 * f2 * d + 2 * d3
    w2 = -3 * f3 + 4 * f2 * d + f * d2
    w3 = f3 - f2 * d
    return w0, w1, w2, w3


def resize_cubic_stats(images: DataFrame, out_w: int,
                       out_h: int) -> DataFrame:
    """Bicubic (Catmull-Rom) resize with integer-exact outputs.

    Reference: ``resample_img_to_match`` with ``INTERP_CUBIC``
    (python/rsgislib/imageutils/__init__.py:2104; kernel enum
    rsgislib/__init__.py:214-220).  Same rational half-pixel-center
    mapping as the bilinear path; the 4x4 tap weights are the
    Catmull-Rom cubic scaled by ``2*D^3`` per axis (see
    :func:`_cr_weights`), so each output value is an exact int64
    (scale ``4 * Dx^3 * Dy^3``; overshoot included, all products
    < 2^53).  Indices clamp (replicate) at the edges.  Output:
    per-image exact stats of the scaled plane.
    """
    ow, oh = int(out_w), int(out_h)

    def per_image(out, image_id, a):
        hh, ww = a.shape
        dx, dy = 2 * ow, 2 * oh
        nx = (2 * np.arange(ow, dtype=np.int64) + 1) * ww - ow
        ny = (2 * np.arange(oh, dtype=np.int64) + 1) * hh - oh
        x0 = np.floor_divide(nx, dx)
        y0 = np.floor_divide(ny, dy)
        fx = nx - x0 * dx
        fy = ny - y0 * dy
        wxs = _cr_weights(fx, dx)
        wys = _cr_weights(fy, dy)
        xi = [np.clip(x0 + k, 0, ww - 1) for k in (-1, 0, 1, 2)]
        yi = [np.clip(y0 + k, 0, hh - 1) for k in (-1, 0, 1, 2)]
        res = np.zeros((oh, ow), dtype=np.int64)
        for ky in range(4):
            row_acc = np.zeros((oh, ow), dtype=np.int64)
            for kx in range(4):
                row_acc += wxs[kx][None, :] * a[np.ix_(yi[ky], xi[kx])]
            res += wys[ky][:, None] * row_acc
        out["image_id"].append(image_id)
        out["n_out"].append(int(res.size))
        out["sum_sc"].append(int(res.sum()))
        out["min_sc"].append(int(res.min()))
        out["max_sc"].append(int(res.max()))

    return codec.map_images(images, per_image, _BILINEAR_SCHEMA,
                            dtype=np.int64)


def _bs_weights(f: np.ndarray, d: int):
    """Cubic B-spline tap weights scaled by 6*d^3 — exact integers.

    With t = f/d the uniform cubic B-spline kernel is
    w0 = (1-t)^3/6, w1 = (3t^3-6t^2+4)/6, w2 = (-3t^3+3t^2+3t+1)/6,
    w3 = t^3/6; multiplying through by 6*d^3 clears every division.
    All four weights are NON-NEGATIVE (no overshoot — the property
    that distinguishes INTERP_CUBICSPLINE from INTERP_CUBIC) and sum
    to exactly 6*d^3 for any f.
    """
    f = f.astype(np.int64)
    f2 = f * f
    f3 = f2 * f
    d2 = d * d
    d3 = d2 * d
    w0 = d3 - 3 * d2 * f + 3 * d * f2 - f3
    w1 = 3 * f3 - 6 * d * f2 + 4 * d3
    w2 = -3 * f3 + 3 * d * f2 + 3 * d2 * f + d3
    w3 = f3
    return w0, w1, w2, w3


def resize_cubicspline_stats(images: DataFrame, out_w: int,
                             out_h: int) -> DataFrame:
    """Cubic B-spline resize (INTERP_CUBICSPLINE) with exact integers.

    Reference: ``resample_img_to_match`` with ``INTERP_CUBICSPLINE``
    (python/rsgislib/imageutils/__init__.py:2104; kernel enum
    rsgislib/__init__.py:214-220) — the smoothing cubic (approximating,
    not interpolating; never overshoots).  Same rational
    half-pixel-center mapping as the other separable kernels; 4x4 tap
    weights are the uniform cubic B-spline scaled by ``6*D^3`` per axis
    (:func:`_bs_weights`), so each output value is an exact int64 at
    scale ``36 * Dx^3 * Dy^3``.  Keep ``out_w/out_h`` modest (e.g.
    24x16) so the per-image scaled SUM stays < 2^63: bound is
    ``1023 * 36*Dx^3*Dy^3 * out_w*out_h``.  Indices clamp (replicate)
    at the edges.  Output: per-image exact stats of the scaled plane.
    """
    ow, oh = int(out_w), int(out_h)

    def per_image(out, image_id, a):
        hh, ww = a.shape
        dx, dy = 2 * ow, 2 * oh
        nx = (2 * np.arange(ow, dtype=np.int64) + 1) * ww - ow
        ny = (2 * np.arange(oh, dtype=np.int64) + 1) * hh - oh
        x0 = np.floor_divide(nx, dx)
        y0 = np.floor_divide(ny, dy)
        fx = nx - x0 * dx
        fy = ny - y0 * dy
        wxs = _bs_weights(fx, dx)
        wys = _bs_weights(fy, dy)
        xi = [np.clip(x0 + k, 0, ww - 1) for k in (-1, 0, 1, 2)]
        yi = [np.clip(y0 + k, 0, hh - 1) for k in (-1, 0, 1, 2)]
        res = np.zeros((oh, ow), dtype=np.int64)
        for ky in range(4):
            row_acc = np.zeros((oh, ow), dtype=np.int64)
            for kx in range(4):
                row_acc += wxs[kx][None, :] * a[np.ix_(yi[ky], xi[kx])]
            res += wys[ky][:, None] * row_acc
        out["image_id"].append(image_id)
        out["n_out"].append(int(res.size))
        out["sum_sc"].append(int(res.sum()))
        out["min_sc"].append(int(res.min()))
        out["max_sc"].append(int(res.max()))

    return codec.map_images(images, per_image, _BILINEAR_SCHEMA,
                            dtype=np.int64)


LANCZOS_SCALE = 4096


def lanczos_table(d: int, a: int = 3, scale: int = LANCZOS_SCALE):
    """Quantized Lanczos-a tap-weight table — the determinism bridge.

    Lanczos weights are transcendental (sinc products), so per
    determinism lesson 3 they cannot be evaluated independently in two
    engines and hash-match.  Instead the table of all ``d`` possible
    fractional offsets is computed ONCE here (driver-side float64),
    normalized to unit DC gain, quantized to integers summing exactly
    to ``scale`` (the residual is folded into the center tap), and the
    SAME integers are consumed by both the Arrow kernel and the SQL
    oracle (inlined as literals) — bit-identical by construction.

    Returns an int64 array of shape ``(d, 2*a)``: row f holds the taps
    for source offsets ``k - (a-1)`` (k = 0..2a-1) at fractional
    position t = f/d.
    """
    d = int(d)
    t = np.arange(d, dtype=np.float64) / d
    ks = np.arange(-(a - 1), a + 1, dtype=np.float64)
    x = t[:, None] - ks[None, :]

    def _sinc(v):
        v = np.where(v == 0.0, 1e-300, v)
        return np.sin(np.pi * v) / (np.pi * v)

    w = np.where(np.abs(x) < a, _sinc(x) * _sinc(x / a), 0.0)
    w[0, a - 1] = 1.0  # t=0: exact unit center tap
    w = w / w.sum(axis=1, keepdims=True)
    q = np.rint(w * scale).astype(np.int64)
    q[:, a - 1] += scale - q.sum(axis=1)  # force exact partition of unity
    return q


def resize_lanczos_stats(images: DataFrame, out_w: int,
                         out_h: int) -> DataFrame:
    """Lanczos-3 resize (INTERP_LANCZOS) with exact integer outputs.

    Reference: ``resample_img_to_match`` with ``INTERP_LANCZOS``
    (python/rsgislib/imageutils/__init__.py:2104; kernel enum
    rsgislib/__init__.py:214-220) — the high-quality windowed-sinc
    kernel.  Same rational half-pixel-center mapping; the 6x6 tap
    weights come from the per-axis quantized table
    (:func:`lanczos_table`, scale 4096, exact partition of unity), so
    each output value is an exact int64 at scale ``4096^2``.  Indices
    clamp (replicate) at the edges.  Output: per-image exact stats of
    the scaled plane.
    """
    ow, oh = int(out_w), int(out_h)
    tab_x = lanczos_table(2 * ow)
    tab_y = lanczos_table(2 * oh)

    def per_image(out, image_id, a):
        hh, ww = a.shape
        dx, dy = 2 * ow, 2 * oh
        nx = (2 * np.arange(ow, dtype=np.int64) + 1) * ww - ow
        ny = (2 * np.arange(oh, dtype=np.int64) + 1) * hh - oh
        x0 = np.floor_divide(nx, dx)
        y0 = np.floor_divide(ny, dy)
        fx = nx - x0 * dx
        fy = ny - y0 * dy
        wxs = tab_x[fx]           # (ow, 6)
        wys = tab_y[fy]           # (oh, 6)
        xi = [np.clip(x0 + k, 0, ww - 1) for k in range(-2, 4)]
        yi = [np.clip(y0 + k, 0, hh - 1) for k in range(-2, 4)]
        res = np.zeros((oh, ow), dtype=np.int64)
        for ky in range(6):
            row_acc = np.zeros((oh, ow), dtype=np.int64)
            for kx in range(6):
                row_acc += (wxs[:, kx][None, :]
                            * a[np.ix_(yi[ky], xi[kx])])
            res += wys[:, ky][:, None] * row_acc
        out["image_id"].append(image_id)
        out["n_out"].append(int(res.size))
        out["sum_sc"].append(int(res.sum()))
        out["min_sc"].append(int(res.min()))
        out["max_sc"].append(int(res.max()))

    return codec.map_images(images, per_image, _BILINEAR_SCHEMA,
                            dtype=np.int64)


def _block_index(n_src: int, n_out: int) -> np.ndarray:
    """Output-cell index of each source pixel: ``(i * n_out) // n_src``.

    A contiguous, exhaustive partition of source pixels into ``n_out``
    cells (every cell non-empty when ``n_out <= n_src``) — the same
    integer map GROUPed BY in the SQL oracle, so block membership is
    identical by construction.
    """
    return (np.arange(n_src, dtype=np.int64) * n_out) // n_src


def resize_average_stats(images: DataFrame, out_w: int,
                         out_h: int) -> DataFrame:
    """Block-average downsample (INTERP_AVERAGE) with exact integers.

    Reference: ``resample_img_to_match`` with ``INTERP_AVERAGE``
    (python/rsgislib/imageutils/__init__.py:2104; kernel enum
    rsgislib/__init__.py:214-220) — the pyramid/overview workhorse.
    Each output pixel is the mean of its source block (the integer
    partition of :func:`_block_index`), emitted as ``floor(sum / n)`` —
    sums via two ``np.add.reduceat`` passes (rows then cols), all int64,
    so the oracle is a plain GROUP BY.  Requires out <= in per axis
    (downsample; undersized payloads yield zero rows).
    Output: per-image exact stats of the mean plane.
    """
    ow, oh = int(out_w), int(out_h)

    def per_image(out, image_id, a):
        hh, ww = a.shape
        if ow > ww or oh > hh:
            return
        bx = _block_index(ww, ow)
        by = _block_index(hh, oh)
        xs = np.searchsorted(bx, np.arange(ow))
        ys = np.searchsorted(by, np.arange(oh))
        sums = np.add.reduceat(
            np.add.reduceat(a, ys, axis=0), xs, axis=1)
        cnt = (np.diff(np.append(ys, hh))[:, None]
               * np.diff(np.append(xs, ww))[None, :])
        res = sums // cnt
        out["image_id"].append(image_id)
        out["n_out"].append(int(res.size))
        out["sum_sc"].append(int(res.sum()))
        out["min_sc"].append(int(res.min()))
        out["max_sc"].append(int(res.max()))

    return codec.map_images(images, per_image, _BILINEAR_SCHEMA,
                            dtype=np.int64)


def resize_mode_stats(images: DataFrame, out_w: int,
                      out_h: int) -> DataFrame:
    """Block-mode downsample (INTERP_MODE) with exact integers.

    Reference: ``resample_img_to_match`` with ``INTERP_MODE``
    (python/rsgislib/imageutils/__init__.py:2104) — the categorical /
    classification-raster downsampler.  Each output pixel is the most
    frequent value of its source block, ties -> SMALLEST value (the
    engine's standing deterministic tiebreak, same as ``mosaic_mode`` /
    ``window_rank_stats``), one :func:`group_mode` over the block index
    of every source pixel.  Output: per-image exact stats of the mode
    plane.
    """
    ow, oh = int(out_w), int(out_h)

    def per_image(out, image_id, a):
        hh, ww = a.shape
        if ow > ww or oh > hh:
            return
        bx = _block_index(ww, ow)
        by = _block_index(hh, oh)
        idx = by[:, None] * ow + bx[None, :]
        res = group_mode(idx.ravel(), a.ravel(), ow * oh - 1)
        out["image_id"].append(image_id)
        out["n_out"].append(int(res.size))
        out["sum_sc"].append(int(res.sum()))
        out["min_sc"].append(int(res.min()))
        out["max_sc"].append(int(res.max()))

    return codec.map_images(images, per_image, _BILINEAR_SCHEMA,
                            dtype=np.int64)


_FRAME_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_frames", LongType()),
    StructField("sum_sampled", LongType()),
])


def frame_sample_stats(images: DataFrame, every: int = 4) -> DataFrame:
    """Row-strided frame sampling: keep every k-th row ("frame").

    The video analog: a (frames, h, w) payload keeps every k-th frame;
    on 2-D rasters the same stride applies to rows, which keeps the
    plumbing (stride slicing in Arrow batches, exact checksums) fully
    exercised without a video codec.
    """

    def per_image(out, image_id, arr):
        sampled = arr[::every]
        out["image_id"].append(image_id)
        out["n_frames"].append(int(sampled.shape[0]))
        out["sum_sampled"].append(int(sampled.astype(np.int64).sum()))

    return codec.map_images(images, per_image, _FRAME_SCHEMA)


_AUDIO_SCHEMA = StructType([
    StructField("audio_id", StringType()),
    StructField("win_id", LongType()),
    StructField("n_samples", LongType()),
    StructField("sumsq", LongType()),
    StructField("peak", LongType()),
    StructField("rms", DoubleType()),
])


def audio_window_rms(images: DataFrame, win: int = 1024) -> DataFrame:
    """Audio feature extraction: windowed RMS/energy over PCM frames.

    The audio analog of the decode->feature pipeline: a ``raw16``
    payload is reinterpreted as a mono PCM16 stream (sample i = pixel
    ``i`` of the row-major plane, centered by -512), cut into windows
    of ``win`` samples, and reduced to per-window energy features —
    exact int64 ``sumsq``/``peak`` plus ``rms`` as one IEEE division +
    ``sqrt`` (both correctly rounded, so bit-identical across engines).
    The final short window keeps its true sample count.

    Plan shape: metadata filter -> payload materialization -> ONE
    Arrow stage; windows of one stream never straddle batches because
    each row carries its whole payload, so no shuffle at any scale.
    """
    win = int(win)

    def per_image(out, image_id, a):
        a = a.ravel() - 512
        n = a.size
        if n == 0:
            return
        idx = np.arange(0, n, win)
        ssq = np.add.reduceat(a * a, idx)
        pk = np.maximum.reduceat(np.abs(a), idx)
        cnt = np.minimum(win, n - idx)
        k = idx.size
        out["audio_id"].extend([image_id] * k)
        out["win_id"].extend((idx // win).tolist())
        out["n_samples"].extend(cnt.tolist())
        out["sumsq"].extend(ssq.tolist())
        out["peak"].extend(pk.tolist())
        out["rms"].extend(
            np.sqrt(ssq.astype(np.float64)
                    / cnt.astype(np.float64)).tolist())

    return codec.map_images(images, per_image, _AUDIO_SCHEMA, dtype=np.int64)
