"""Remaining imagecalc method-table scalar/aggregate operators.

Reference (python/src/imagecalc.cpp method table; command layer
src/cmds/RSGISCmdImageCalc.cpp):

* ``calc_prop_true_exp``   — RSGISCalcPropExpTruePxls (:2325): proportion
  of pixels where a muParser expression evaluates true.
* ``calculate_img_band_rmse`` — per-band RMSE between two bands.
* ``calc_img_rescale``     — RSGISRescaleImageData
  (src/img/RSGISApplyGainOffset2Img.cpp:40-53):
  out = ((v - cOffset)/cGain)*nGain + nOffset with cNoData -> nNoData.
* ``calc_img_mean_in_mask`` — (:2801) mean of valid band pixels where the
  mask plane equals mskValue.
* ``all_bands_equal_to``   — RSGISAllBandsEqualTo (:1532): trueVal where
  every band equals imgValue else falseVal.
* ``get_img_band_stats_in_env`` / ``get_img_band_mode_in_env`` — (:1766)
  band stats restricted to a lon/lat envelope; mode tie rule = first
  (smallest) bin on strict > (src/math/RSGISMathsUtils.cpp:711-723).
* ``image_pixel_column_summary`` — RSGISImagePixelSummary
  (src/img/RSGISImageStatistics.cpp:1445): per-pixel stats across the
  band stack, here aggregated per image.

Bands follow the repo's imagemath convention: band1 = decoded plane v,
band2 = its horizontal mirror.  Determinism: counts/sums/extrema are
exact int64; each emitted ratio is ONE correctly-rounded IEEE division
of exact integers (std adds one correctly-rounded sqrt), 2^20-quantized.
The rescale constants are dyadic (cGain 2, nGain 8) so the rescale plane
is exactly representable.  The envelope predicate tests the pixel-CENTER
coordinate with the identical expression tree both engines evaluate:
lon + (x+0.5)*res >= L0 etc. — no index rounding anywhere.
"""
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .. import synth
from ..functions import codec
from ..functions.groupmode import pair_counts

__all__ = ["prop_true_stats", "band_rmse_stats", "rescale_stats",
           "mean_in_mask_stats", "all_bands_equal_stats",
           "stats_in_env", "column_summary_stats", "ENV_DEFAULT", "norm_pxl_stats"]

_Q = 1048576.0

# default analysis envelope: covers the whole western population plus
# the "megacity" cluster (lat 45..45.05), whose top edge the 45.0009
# limit slices through — so images fall fully inside, fully outside,
# AND partially clipped on the corpus (pytest asserts all three).
ENV_DEFAULT = (-180.0, 11.0, -60.0, 45.0009)


_PROP_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_true", LongType()),
    StructField("prop_q", LongType()),
])


def prop_true_stats(images: DataFrame) -> DataFrame:
    """calc_prop_true_exp with the expression ``b1 > b2``."""

    def one(out, image_id, v):
        m = v[:, ::-1]
        n, t = int(v.size), int((v > m).sum())
        out["image_id"].append(image_id)
        out["n_pix"].append(n)
        out["n_true"].append(t)
        out["prop_q"].append(int(np.floor((float(t) / float(n)) * _Q)))

    return codec.map_images(images, one, _PROP_SCHEMA, dtype=np.int64)


_RMSE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("sum_d2", LongType()),
    StructField("rmse_q", LongType()),
])


def band_rmse_stats(images: DataFrame) -> DataFrame:
    """calculate_img_band_rmse between band1 and band2."""

    def one(out, image_id, v):
        m = v[:, ::-1]
        d = v - m
        n, sd2 = int(v.size), int((d * d).sum())
        out["image_id"].append(image_id)
        out["n_pix"].append(n)
        out["sum_d2"].append(sd2)
        out["rmse_q"].append(int(np.floor(
            np.sqrt(float(sd2) / float(n)) * _Q)))

    return codec.map_images(images, one, _RMSE_SCHEMA, dtype=np.int64)


_RESC_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_nodata", LongType()),
    StructField("sum_out_q", LongType()),
    StructField("min_out_q", LongType()),
    StructField("max_out_q", LongType()),
])


def rescale_stats(images: DataFrame, c_nodata=0, c_offset=1.0,
                  c_gain=2.0, n_nodata=-1.0, n_offset=100.0,
                  n_gain=8.0) -> DataFrame:
    """calc_img_rescale on band1; dyadic constants keep the plane exact."""

    def one(out, image_id, v):
        nod = v == c_nodata
        res = np.where(nod, n_nodata,
                       ((v - c_offset) / c_gain) * n_gain + n_offset)
        q = np.floor(res * _Q).astype(np.int64)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(v.size))
        out["n_nodata"].append(int(nod.sum()))
        out["sum_out_q"].append(int(q.sum()))
        out["min_out_q"].append(int(q.min()))
        out["max_out_q"].append(int(q.max()))

    return codec.map_images(images, one, _RESC_SCHEMA, dtype=np.int64)


_MIM_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_msk", LongType()),
    StructField("sum_v", LongType()),
    StructField("mean_q", LongType()),
])


def mean_in_mask_stats(images: DataFrame, msk_value: int = 3) -> DataFrame:
    """calc_img_mean_in_mask: band1 mean where the mask plane
    (band2 // 64) equals msk_value, noDataVal 0 excluded."""

    def one(out, image_id, v):
        m = v[:, ::-1]
        sel = ((m // 64) == msk_value) & (v != 0)
        n, s = int(sel.sum()), int(v[sel].sum())
        out["image_id"].append(image_id)
        out["n_msk"].append(n)
        out["sum_v"].append(s)
        out["mean_q"].append(
            -1 if n == 0 else int(np.floor((float(s) / float(n)) * _Q)))

    return codec.map_images(images, one, _MIM_SCHEMA, dtype=np.int64)


_ABE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_true", LongType()),
    StructField("sum_out", LongType()),
])


def all_bands_equal_stats(images: DataFrame, img_value: int = 100,
                          true_val: int = 255,
                          false_val: int = 1) -> DataFrame:
    """all_bands_equal_to over the (v, mirror) stack: both bands must
    equal img_value (possible only on the mirror symmetry axis)."""

    def one(out, image_id, v):
        m = v[:, ::-1]
        t = int(((v == img_value) & (m == img_value)).sum())
        n = int(v.size)
        out["image_id"].append(image_id)
        out["n_pix"].append(n)
        out["n_true"].append(t)
        out["sum_out"].append(t * true_val + (n - t) * false_val)

    return codec.map_images(images, one, _ABE_SCHEMA, dtype=np.int64)


_ENV_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_env", LongType()),
    StructField("min_v", LongType()),
    StructField("max_v", LongType()),
    StructField("sum_v", LongType()),
    StructField("mode_v", LongType()),
    StructField("mean_q", LongType()),
    StructField("std_q", LongType()),
])


def stats_in_env(images: DataFrame, env=ENV_DEFAULT) -> DataFrame:
    """get_img_band_stats_in_env + get_img_band_mode_in_env: band1
    stats over pixels whose CENTER lies inside the lon/lat envelope.
    Empty intersection emits an all -1 row (branch kept visible)."""
    L0, L1, B0, B1 = env
    res = synth.IMG_RES_DEG

    def one(out, image_id, v, lon, lat):
        h, w = v.shape
        cx = float(lon) + (np.arange(w, dtype=np.float64)[None, :]
                           + 0.5) * res
        cy = float(lat) - (np.arange(h, dtype=np.float64)[:, None]
                           + 0.5) * res
        sel = ((cx >= L0) & (cx <= L1)
               & np.broadcast_to((cy >= B0) & (cy <= B1), v.shape))
        vals = v[sel]
        out["image_id"].append(image_id)
        if vals.size == 0:
            for c in ("n_env", "min_v", "max_v", "sum_v", "mode_v",
                      "mean_q", "std_q"):
                out[c].append(-1 if c != "n_env" else 0)
            return
        n, s = int(vals.size), int(vals.sum())
        s2 = int((vals * vals).sum())
        mode = int(np.bincount(vals).argmax())  # first max = smallest
        out["n_env"].append(n)
        out["min_v"].append(int(vals.min()))
        out["max_v"].append(int(vals.max()))
        out["sum_v"].append(s)
        out["mode_v"].append(mode)
        out["mean_q"].append(int(np.floor((float(s) / float(n)) * _Q)))
        out["std_q"].append(int(np.floor(np.sqrt(
            float(n * s2 - s * s) / float(n * n)) * _Q)))

    return codec.map_images(images, one, _ENV_SCHEMA,
                            extra_cols=("lon", "lat"),
                            dtype=np.int64)


_COL_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("sum_min", LongType()),
    StructField("sum_max", LongType()),
    StructField("sum_sum", LongType()),
    StructField("sum_mean_q", LongType()),
    StructField("sum_std_q", LongType()),
])


def column_summary_stats(images: DataFrame) -> DataFrame:
    """image_pixel_column_summary over the (v, mirror) stack: per-pixel
    min/max/sum/mean/stddev across bands, integer-aggregated per image.
    For two bands mean = (b1+b2)/2 and population stddev = |b1-b2|/2 —
    both exactly representable, so the quantization is exact."""

    def one(out, image_id, v):
        m = v[:, ::-1]
        mn = np.minimum(v, m)
        mx = np.maximum(v, m)
        sm = v + m
        mean_q = np.floor((sm.astype(np.float64) / 2.0) * _Q)
        std_q = np.floor((np.abs(v - m).astype(np.float64) / 2.0) * _Q)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(v.size))
        out["sum_min"].append(int(mn.sum()))
        out["sum_max"].append(int(mx.sum()))
        out["sum_sum"].append(int(sm.sum()))
        out["sum_mean_q"].append(int(mean_q.astype(np.int64).sum()))
        out["sum_std_q"].append(int(std_q.astype(np.int64).sum()))

    return codec.map_images(images, one, _COL_SCHEMA, dtype=np.int64)


_NORM_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("v_min", LongType()),
    StructField("v_max", LongType()),
    StructField("sum_norm_q", LongType()),
])


def norm_pxl_stats(images: DataFrame) -> DataFrame:
    """imageutils.normalise_img_pxl_vals (python/src/imageutils.cpp
    method table): rescale band 1 to [0, 1] by the per-image min/max,
    norm = (v - min)/(max - min) — one exact-int division per pixel,
    2^20-quantized and summed.  Constant images emit -1 (degenerate
    range)."""

    def one(out, image_id, v):
        mn, mx = int(v.min()), int(v.max())
        out["image_id"].append(image_id)
        out["n_pix"].append(int(v.size))
        out["v_min"].append(mn)
        out["v_max"].append(mx)
        if mx == mn:
            out["sum_norm_q"].append(-1)
            return
        q = np.floor(((v - mn).astype(np.float64) / float(mx - mn))
                     * _Q).astype(np.int64)
        out["sum_norm_q"].append(int(q.sum()))

    return codec.map_images(images, one, _NORM_SCHEMA, dtype=np.int64)


# 4-class colour table (class -> r, g, b), shared with the SQL oracle
CLR_TABLE = ((166, 206, 227), (31, 120, 180), (178, 223, 138),
             (51, 160, 44))

_CLR_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("cls", LongType()),
    StructField("n_pix", LongType()),
    StructField("sum_r", LongType()),
    StructField("sum_g", LongType()),
    StructField("sum_b", LongType()),
])


def colour_classes_stats(images: DataFrame) -> DataFrame:
    """classification.gen_rgb_img_from_clr_tbl +
    rastergis.colour_rat_classes (python/src method tables): map the
    quartile class plane through the colour table; per (image, class)
    pixel count and the exact r/g/b sums of the rendered plane."""

    def per_image(out, image_id, v, fmt):
        cls = (v * 4) // synth.pmax(fmt)
        for c, (r, g, b) in enumerate(CLR_TABLE):
            n = int((cls == c).sum())
            out["image_id"].append(image_id)
            out["cls"].append(c)
            out["n_pix"].append(n)
            out["sum_r"].append(n * r)
            out["sum_g"].append(n * g)
            out["sum_b"].append(n * b)

    return codec.map_images(images, per_image, _CLR_SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)


_TSF_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_ref1", LongType()),
    StructField("n_ref2", LongType()),
    StructField("n_ref3", LongType()),
    StructField("n_unfilled", LongType()),
    StructField("sum_comp", LongType()),
    StructField("ref_ck", LongType()),
])


def ts_fill_composite_stats(images: DataFrame) -> DataFrame:
    """imageutils.gen_timeseries_fill_composite_img (python/src/
    imageutils.cpp:2706): walk the date-ordered image stack and take
    the first VALID observation per pixel, recording which reference
    image filled it.  Dates here are the plane and two deterministic
    circular shifts; validity = value % 5 != 0 (so ~20% gaps chain
    through the stack and the unfilled branch occurs).  All integer."""

    def per_image(out, image_id, v):
        _, w = v.shape
        dates = (v, np.roll(v, 3, axis=1), np.roll(v, 5, axis=0))
        comp = np.zeros_like(v)
        ref = np.zeros_like(v)
        for i, p in enumerate(dates, start=1):
            take = (ref == 0) & (p % 5 != 0)
            comp = np.where(take, p, comp)
            ref = np.where(take, i, ref)
        ww = int(w)
        ys, xs = np.nonzero(ref)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(v.size))
        out["n_ref1"].append(int((ref == 1).sum()))
        out["n_ref2"].append(int((ref == 2).sum()))
        out["n_ref3"].append(int((ref == 3).sum()))
        out["n_unfilled"].append(int((ref == 0).sum()))
        out["sum_comp"].append(int(comp.sum()))
        out["ref_ck"].append(int((ref[ys, xs]
                                  * (ys * ww + xs)).sum()))

    return codec.map_images(images, per_image, _TSF_SCHEMA, dtype=np.int64)


_CSH_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_cloud", LongType()),
    StructField("n_shadow", LongType()),
    StructField("shadow_ck", LongType()),
])

CSH_DMIN, CSH_DMAX = 3, 6  # projected shadow offset range in pixels


def cloud_shadow_stats(images: DataFrame) -> DataFrame:
    """imagecalibration.calc_cloud_shadow_mask (python/src/
    imagecalibration.cpp method table): project the cloud mask along
    the sun vector over the plausible cloud-height range and flag
    non-cloud pixels the projection covers.  Engine variant
    (documented): azimuth 270 (eastward cast), heights spanning
    offsets 3..6 px — shadow(x) = OR of cloud(x-d), d in [3,6], i.e.
    ONE sliding-window maximum per row (the SQL twin is a window frame
    ROWS BETWEEN 6 PRECEDING AND 3 PRECEDING); cloud = bit 7 of the
    value plane.  All integer."""

    def per_image(out, image_id, v):
        _, w = v.shape
        cloud = ((v // 128) % 2) == 1
        sh = np.zeros_like(cloud)
        for d in range(CSH_DMIN, CSH_DMAX + 1):
            sh[:, d:] |= cloud[:, :-d]
        shadow = sh & ~cloud
        ys, xs = np.nonzero(shadow)
        ww = int(w)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(v.size))
        out["n_cloud"].append(int(cloud.sum()))
        out["n_shadow"].append(int(shadow.sum()))
        out["shadow_ck"].append(int((ys * ww + xs).sum()))

    return codec.map_images(images, per_image, _CSH_SCHEMA, dtype=np.int64)


_SG_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("gx", LongType()),
    StructField("gy", LongType()),
    StructField("v", LongType()),
])

SG_OFF, SG_STEP = 4, 8


def sampling_grid_stats(images: DataFrame) -> DataFrame:
    """imageutils.gen_sampling_grid (python/src/imageutils.cpp method
    table): a regular sample lattice over each image — offset 4,
    step 8 in both axes — emitting the sampled value per node."""

    def per_image(out, image_id, v):
        h, w = v.shape
        for gy in range(SG_OFF, int(h), SG_STEP):
            for gx in range(SG_OFF, int(w), SG_STEP):
                out["image_id"].append(image_id)
                out["gx"].append(gx)
                out["gy"].append(gy)
                out["v"].append(int(v[gy, gx]))

    return codec.map_images(images, per_image, _SG_SCHEMA, dtype=np.int64)


_SWS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_lo", LongType()),
    StructField("n_hi", LongType()),
    StructField("sum_out_q", LongType()),
])

SWS_MIN, SWS_MAX = 50, 800  # the GIVEN stretch stats


def stretch_with_stats(images: DataFrame, in_min: int = SWS_MIN,
                       in_max: int = SWS_MAX) -> DataFrame:
    """imageutils.stretch_img_with_stats (python/src/imageutils.cpp
    method table): linear stretch using SUPPLIED statistics rather
    than per-image ones — out = (v - in_min)*255/(in_max - in_min)
    saturating at [0, 255].  One exact-int division per pixel,
    2^20-quantized; both clamp branches counted."""

    def one(out, image_id, v):
        num = (v - in_min) * 255
        lo = num <= 0
        hi = num >= 255 * (in_max - in_min)
        res = np.where(
            lo, 0.0,
            np.where(hi, 255.0,
                     num.astype(np.float64) / float(in_max - in_min)))
        q = np.floor(res * _Q).astype(np.int64)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(v.size))
        out["n_lo"].append(int(lo.sum()))
        out["n_hi"].append(int(hi.sum()))
        out["sum_out_q"].append(int(q.sum()))

    return codec.map_images(images, one, _SWS_SCHEMA, dtype=np.int64)


# --------------------------------------------------------------------------
# buffer_img_pxl_vals / calc_histograms_for_msk_vals / calc_fill_regions_knn
# --------------------------------------------------------------------------

_BUF_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_src", LongType()),
    StructField("n_buf", LongType()),
    StructField("sum_d2_in", LongType()),
])


def buffer_pxl_vals_stats(images: DataFrame, pxl_vals=(42, 99),
                          buf_thres: int = 5) -> DataFrame:
    """imagecalc.buffer_img_pxl_vals (imagecalc/__init__.py:459-520):
    threshold the distance-to-target-values plane into a binary buffer
    mask (dist <= buf_thres, pixel units / unit_geo=False so the test
    is the exact integer d2 <= buf_thres^2).  Emits the mask size plus
    the summed squared distance inside the buffer — all exact ints.

    Same kernel family as dist_to_value_stats (the reference composes
    buffer_img_pxl_vals from calc_dist_to_img_vals + a band_math
    threshold, exactly as done here)."""
    vals = tuple(int(a) for a in pxl_vals)
    bt2 = int(buf_thres) * int(buf_thres)

    def per_image(out, image_id, arr):
        h, w = arr.shape
        src = np.isin(arr, vals)
        tys, txs = np.nonzero(src)
        n_pix = w * h
        if tys.size == 0:
            out["image_id"].append(image_id)
            out["n_pix"].append(n_pix)
            out["n_src"].append(0)
            out["n_buf"].append(0)
            out["sum_d2_in"].append(0)
            return
        ys, xs = np.mgrid[0:h, 0:w]
        dx = xs.ravel()[:, None] - txs[None, :]
        dy = ys.ravel()[:, None] - tys[None, :]
        d2 = (dx * dx + dy * dy).min(axis=1)
        inb = d2 <= bt2
        out["image_id"].append(image_id)
        out["n_pix"].append(n_pix)
        out["n_src"].append(int(tys.size))
        out["n_buf"].append(int(inb.sum()))
        out["sum_d2_in"].append(int(d2[inb].sum()))

    return codec.map_images(images, per_image, _BUF_SCHEMA, dtype=np.int64)


_MVH_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("msk_val", LongType()),
    StructField("bin", LongType()),
    StructField("cnt", LongType()),
])


def msk_val_hist_stats(images: DataFrame,
                       bin_width: int = 32) -> DataFrame:
    """imagecalc.calc_histograms_for_msk_vals (imagecalc/__init__.py:
    908-960): one histogram of the values plane per mask value, mask 0
    = no data (excluded, the reference's rule).  Values plane
    b = (v*7+3) % pmax, mask plane m = (v//64) % 8; bins are
    [min_val, max_val) at ``bin_width`` with min_val = 0, so
    bin = b // bin_width exactly.  Sparse form: only nonzero-count
    (msk_val, bin) rows are emitted (the reference returns dense
    zero-padded arrays; the dense pad carries no information)."""
    bw = int(bin_width)

    def per_image(out, image_id, v, fmt):
        v = v.ravel()
        b = (v * 7 + 3) % synth.pmax(fmt)
        m = (v // 64) % 8
        keep = m != 0
        msk, bins, cnt = pair_counts(m[keep], b[keep] // bw)
        out["image_id"].extend([image_id] * msk.size)
        out["msk_val"].extend(msk)
        out["bin"].extend(bins)
        out["cnt"].extend(cnt)

    return codec.map_images(images, per_image, _MVH_SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)


_FILL_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_fill", LongType()),
    StructField("sum_fill", LongType()),
    StructField("min_fill", LongType()),
    StructField("max_fill", LongType()),
    StructField("sum_kd2", LongType()),
])

_FILL_OFFS = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
              if not (dx == 0 and dy == 0)]


def fill_regions_knn_stats(images: DataFrame, k: int = 5) -> DataFrame:
    """imagecalc.calc_fill_regions_knn (imagecalc/__init__.py:
    1233-1330) with SUMTYPE_MODE: fill-region pixels take the modal
    value of their k spatially-nearest reference pixels.

    Engine adaptation (scale-safe candidate set): the fill lattice is
    (x+y) % 9 == 0, so every 8-neighbour of a fill pixel is a
    reference pixel — the k=5 nearest are always within the 3x3 ring
    (4 at d2=1, then 4 at d2=2; ties broken by flat index, the rtree
    iteration order stand-in).  The reference builds a global rtree
    for the same purpose (:1273); a radius-bounded candidate join is
    the distributed equivalent, and is exact here by construction.
    Mode ties -> smallest value (scipy.stats.mode).  Emits per-image
    aggregates of the filled plane, all exact ints."""

    def per_image(out, image_id, v):
        h, w = v.shape
        ys, xs = np.mgrid[0:h, 0:w]
        fill = (xs + ys) % 9 == 0
        fy, fx = np.nonzero(fill)
        n_fill = int(fy.size)
        s = mn = mx = skd = 0
        mn = None
        for py, px in zip(fy, fx):
            cand = []
            for dx, dy in _FILL_OFFS:
                nx, ny = px + dx, py + dy
                if 0 <= nx < w and 0 <= ny < h:
                    cand.append((dx * dx + dy * dy,
                                 ny * w + nx,
                                 int(v[ny, nx])))
            cand.sort()
            top = cand[:k]
            vals = sorted(c[2] for c in top)
            best_v, best_c = -1, 0
            for val in vals:
                c = sum(1 for q in vals if q == val)
                if c > best_c:
                    best_v, best_c = val, c
            s += best_v
            skd += sum(c[0] for c in top)
            mn = best_v if mn is None else min(mn, best_v)
            mx = max(mx, best_v)
        out["image_id"].append(image_id)
        out["n_fill"].append(n_fill)
        out["sum_fill"].append(int(s))
        out["min_fill"].append(int(mn if mn is not None else -1))
        out["max_fill"].append(int(mx))
        out["sum_kd2"].append(int(skd))

    return codec.map_images(images, per_image, _FILL_SCHEMA, dtype=np.int64)


# --------------------------------------------------------------------------
# imagecalc utility quartet: recode_int_raster / normalise_image_band /
# rescale_img_pxl_vals (RIOS formula) / calc_img_basic_stats_for_ref_region
# --------------------------------------------------------------------------

#: recode_int_raster dict (key -> recode), applied in both keep modes
RECODE_DICT = ((3, 103), (7, 0), (250, 11))

#: normalise_image_band / rescale nodata value on the input plane
IC_NODATA = 7

#: rescale_img_pxl_vals ImageBandRescale params
#: (in_min, in_max, out_min, out_max, out_no_data)
RESCALE_PARAMS = (0.0, 1024.0, 600.0, 2000.0, -9999.0)

_RECODE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_recoded", LongType()),
    StructField("sum_keep", LongType()),
    StructField("sum_drop", LongType()),
    StructField("n_drop_nonzero", LongType()),
])


def recode_raster_stats(images: DataFrame) -> DataFrame:
    """imagecalc.recode_int_raster (imagecalc/__init__.py:1172-1232):
    dict recode of an integer raster under BOTH keep_vals_not_in_dict
    modes (True: unmapped pixels copied; False: unmapped pixels 0).
    The reference applies each dict entry as a mask on the INPUT plane,
    so entry order is immaterial.  Exact int64 throughout."""

    def per_image(out, image_id, v):
        keep = v.copy()
        drop = np.zeros_like(v)
        nrec = 0
        for src, dst in RECODE_DICT:
            m = v == src
            nrec += int(m.sum())
            keep[m] = dst
            drop[m] = dst
        out["image_id"].append(image_id)
        out["n_pix"].append(v.size)
        out["n_recoded"].append(nrec)
        out["sum_keep"].append(int(keep.sum()))
        out["sum_drop"].append(int(drop.sum()))
        out["n_drop_nonzero"].append(int((drop != 0).sum()))

    return codec.map_images(images, per_image, _RECODE_SCHEMA, dtype=np.int64)


_BNORM_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("v_min", LongType()),
    StructField("v_max", LongType()),
    StructField("n_nodata", LongType()),
    StructField("sum_norm_q", LongType()),
])

_Q30 = 1073741824.0  # 2^30 (dyadic scale: the multiply is exact)


def band_normalise_stats(images: DataFrame) -> DataFrame:
    """imagecalc.normalise_image_band (imagecalc/__init__.py:1140-1169):
    (v - min)/range with nodata pixels mapped to 0.0 and min/max taken
    over the non-nodata pixels (get_img_band_min_max use_no_data path).
    norm is ONE correctly-rounded IEEE division of exact ints; the 2^30
    quantisation multiply is exact, so Σ floor(norm * 2^30) passes the
    exact-hash gate."""

    def per_image(out, image_id, v):
        valid = v != IC_NODATA
        mn = int(v[valid].min())
        mx = int(v[valid].max())
        rng = float(mx - mn)
        if rng == 0.0:
            norm = np.zeros_like(v, dtype=np.float64)
        else:
            norm = (v - mn).astype(np.float64) / rng
        norm = np.where(valid, norm, 0.0)
        out["image_id"].append(image_id)
        out["v_min"].append(mn)
        out["v_max"].append(mx)
        out["n_nodata"].append(int((~valid).sum()))
        out["sum_norm_q"].append(int(np.floor(norm * _Q30).sum()))

    return codec.map_images(images, per_image, _BNORM_SCHEMA, dtype=np.int64)


_RIOS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_nodata", LongType()),
    StructField("n_clamp_lo", LongType()),
    StructField("n_clamp_hi", LongType()),
    StructField("sum_out_q", LongType()),
])


def rescale_rios_stats(images: DataFrame) -> DataFrame:
    """imagecalc.rescale_img_pxl_vals (imagecalc/__init__.py:819-918):
    the RIOS _applyRescale expression REPLICATED VERBATIM, including
    the reference's literal denominator/factor algebra
    ``(v - in_min) / (v - in_max - v - in_min)
      * (v - out_max - v - out_min) + v - out_min``
    (left-to-right: den folds to -(in_max+in_min), factor to
    -(out_max+out_min)), nodata remap first, then trim_to_limits
    clamps (nodata excluded).  Every op is an exact int-valued double
    or one correctly-rounded division/multiply/add, mirrored step for
    step in the oracle; quantised at 2^20."""
    in_min, in_max, out_min, out_max, out_nd = RESCALE_PARAMS

    def per_image(out, image_id, v):
        vf = v.astype(np.float64)
        num = vf - in_min
        den = vf - in_max - vf - in_min
        fac = vf - out_max - vf - out_min
        o = (num / den) * fac + vf - out_min
        o = np.where(v == IC_NODATA, out_nd, o)
        lo = (o != out_nd) & (o < out_min)
        o = np.where(lo, out_min, o)
        hi = (o != out_nd) & (o > out_max)
        o = np.where(hi, out_max, o)
        out["image_id"].append(image_id)
        out["n_nodata"].append(int((v == IC_NODATA).sum()))
        out["n_clamp_lo"].append(int(lo.sum()))
        out["n_clamp_hi"].append(int(hi.sum()))
        out["sum_out_q"].append(int(np.floor(o * _Q).sum()))

    return codec.map_images(images, per_image, _RIOS_SCHEMA, dtype=np.int64)


#: ref-region stack: T derived input planes + nodata holes
RR_T = 4
RR_NODATA = -1


def _rr_planes(v, x, y, pmax):
    """T=4 derived 'input images': plane_t = (v*(3+t) + t*17) % pmax
    with nodata (-1) where (v+x+y)%13==0 (kills every t at once -> the
    all-nodata branch) or (v*3 + t*5)%6 < 2 (t-varying holes)."""
    planes = []
    hole_all = (v + x + y) % 13 == 0
    for t in range(RR_T):
        p = (v * (3 + t) + t * 17) % pmax
        hole = hole_all | ((v * 3 + t * 5) % 6 < 2)
        planes.append(np.where(hole, RR_NODATA, p))
    return planes


_RR_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_allnodata", LongType()),
    StructField("sum_n", LongType()),
    StructField("sum_mean_q", LongType()),
    StructField("sum_std_q", LongType()),
])


def ref_region_stats(images: DataFrame) -> DataFrame:
    """imagecalc.calc_img_basic_stats_for_ref_region
    (imagecalc/__init__.py:1018-1137): per-pixel nanmean/nanstd across
    a stack of input images (nodata -> nan), mean of an all-nodata
    pixel remapped to the nodata value and its std to 0.  The mean is
    pinned as S/n (one division) and the population std as
    sqrt(n*SS - S*S)/n (exact int argument, correctly-rounded sqrt
    then division) — algebraically identical to nanstd, bit-exact
    across engines.  2^20-quantised sums."""

    def per_image(out, image_id, v, fmt):
        h, w = v.shape
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.broadcast_to(x, v.shape)
        y = np.broadcast_to(y, v.shape)
        planes = _rr_planes(v, x, y, synth.pmax(fmt))
        stack = np.stack(planes)                  # (T, h, w)
        valid = stack != RR_NODATA
        n = valid.sum(axis=0).astype(np.int64)
        s = np.where(valid, stack, 0).sum(axis=0)
        ss = np.where(valid, stack * stack, 0).sum(axis=0)
        nz = n > 0
        mean = np.where(
            nz, s / np.where(nz, n, 1), float(RR_NODATA))
        std = np.where(
            nz,
            np.sqrt((n * ss - s * s).astype(np.float64))
            / np.where(nz, n, 1),
            0.0)
        out["image_id"].append(image_id)
        out["n_allnodata"].append(int((~nz).sum()))
        out["sum_n"].append(int(n.sum()))
        out["sum_mean_q"].append(
            int(np.floor(mean * _Q).sum()))
        out["sum_std_q"].append(int(np.floor(std * _Q).sum()))

    return codec.map_images(images, per_image, _RR_SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)
