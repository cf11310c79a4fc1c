"""DEM derivatives: slope, aspect, hillshade (reference `elevation`).

Reference: python/src/elevation.cpp method table (slope, aspect,
catagorise_aspect, hillshade) backed by the Horn 3x3 kernels in
src/calibration/RSGISDEMTools.cpp:38-470.

Determinism contract (NOTES lessons 3/19): the Horn gradients are
exact int64 sums over the 3x3 window; transcendentals appear only as
DRIVER-side Python constants (tan of class thresholds, sin/cos of the
sun position) shared verbatim with the SQL oracle, and the per-pixel
hillshade is a pinned IEEE expression tree of correctly-rounded ops
(+ - * / sqrt floor) mirrored term-for-term in SQL.  Aspect
categorisation needs no floats at all: the eight 45-degree compass
sectors reduce to sign tests and |GX| vs |GY| comparisons on the exact
integer gradients.
"""
import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions import codec

__all__ = ["horn_gradients", "slope_class_stats", "aspect_cat_stats",
           "hillshade_stats", "slope_class_thresholds", "hillshade_consts",
           "fill_nodata_mean", "dem_plane", "dem_plane_sql"]


def dem_plane(v: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Synthetic DEM derived from the payload plane: 60 m plateaus from
    the value's high bits plus two incommensurate integer microreliefs,
    so the Horn gradient population spans flat/gentle/moderate/steep
    (the raw payload plane is affine almost everywhere — every pixel
    would land in one slope class, NOTES lesson 15).  Pure integer
    expression, mirrored in SQL by :func:`dem_plane_sql`."""
    return (v // 256) * 60 + (x * y) % 7 + (x + 2 * y) % 5


def dem_plane_sql(v: str, x: str = "x", y: str = "y") -> str:
    """DuckDB mirror of :func:`dem_plane` (all operands non-negative,
    so // and % agree between numpy and DuckDB)."""
    return f"(({v}) // 256) * 60 + (({x}) * ({y})) % 7 + (({x}) + 2 * ({y})) % 5"


def fill_nodata_mean(a: np.ndarray, nodata) -> np.ndarray:
    """RSGISDEMTools.cpp:52-80 window prep, applied whole-plane: if any
    pixel equals ``nodata`` and >1 valid pixels remain, replace nodata
    pixels with the valid mean (float64 plane).  The registered synth
    planes never contain the sentinel, so the registered queries stay
    on the integer fast path; this branch is pytest-covered."""
    m = a == nodata
    if not m.any():
        return a
    valid = a[~m]
    if valid.size <= 1:
        return a
    out = a.astype(np.float64)
    out[m] = valid.astype(np.float64).sum() / valid.size
    return out


def _dem(v: np.ndarray, nodata=None) -> np.ndarray:
    """Lift a decoded int64 plane to the synthetic DEM plane."""
    h, w = v.shape
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    a = dem_plane(v, x, y)
    if nodata is not None:
        a = fill_nodata_mean(a, nodata)
    return a


def horn_gradients(a: np.ndarray):
    """Exact integer Horn 3x3 gradients over the valid interior.

    GX = (right column, weights 1/2/1) - (left column);
    GY = (bottom row)                 - (top row).
    The reference's slope uses (dx, dy) = (-GX, GY), aspect uses
    (GX, GY), hillshade uses (GX/8, -GY/8) (RSGISDEMTools.cpp:86-92,
    262-268, 537-541; ewRes = nsRes = 1 on the synthetic grid).
    """
    a = np.asarray(a)
    if not np.issubdtype(a.dtype, np.floating):
        a = a.astype(np.int64)  # exact path; float only after nodata fill
    h, w = a.shape
    if h < 3 or w < 3:
        z = np.zeros((0, 0), dtype=a.dtype)
        return z, z
    colw = a[:-2, :] + 2 * a[1:-1, :] + a[2:, :]      # vertical 1/2/1
    roww = a[:, :-2] + 2 * a[:, 1:-1] + a[:, 2:]      # horizontal 1/2/1
    gx = colw[:, 2:] - colw[:, :-2]
    gy = roww[2:, :] - roww[:-2, :]
    return gx, gy


def slope_class_thresholds(thresholds_deg=(5.0, 15.0, 30.0),
                           res: float = 30.0):
    """(8 * res * tan(T))^2 literals — with ewRes = nsRes = res,
    slope >= T  <=>  GX^2 + GY^2 >= thr2 (atan is monotone)."""
    return [float((8.0 * res * math.tan(math.radians(t))) ** 2)
            for t in thresholds_deg]


_SLOPE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("slope_cls", LongType()),
    StructField("n_pix", LongType()),
    StructField("sum_g2", LongType()),
])


def slope_class_stats(images: DataFrame,
                      thresholds_deg=(5.0, 15.0, 30.0),
                      res: float = 30.0, nodata=None) -> DataFrame:
    """elevation.slope (python/src/elevation.cpp:46;
    RSGISCalcSlope::calcImageValue, RSGISDEMTools.cpp:38-105) binned
    into threshold classes.

    slope_rad = atan(sqrt(GX^2 + GY^2) / (8 * res)) is monotone in the
    exact integer g2 = GX^2 + GY^2, so class membership (slope >= T)
    is the exact comparison g2 >= (8 res tan T)^2 with the right side
    a shared driver literal — the atan itself never needs to be
    evaluated.  Output: one row per (image, class
    0..len(thresholds)), n_pix + exact sum of g2.
    """
    thr2 = slope_class_thresholds(thresholds_deg, res)

    def per_image(out, image_id, v):
        gx, gy = horn_gradients(_dem(v, nodata))
        g2 = gx * gx + gy * gy
        cls = np.zeros(g2.shape, dtype=np.int64)
        for t2 in thr2:
            cls += (g2 >= t2)
        for c in range(len(thr2) + 1):
            m = cls == c
            out["image_id"].append(image_id)
            out["slope_cls"].append(c)
            out["n_pix"].append(int(m.sum()))
            out["sum_g2"].append(int(g2[m].sum()))

    return codec.map_images(images, per_image, _SLOPE_SCHEMA, dtype=np.int64)


_ASPECT_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("aspect_cat", LongType()),
    StructField("n_pix", LongType()),
])


def aspect_categories(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """catagorise_aspect over aspect = atan2(-dx, dy) degrees in
    [0, 360) (RSGISDEMTools.cpp:214-296 + RSGISRecodeAspect:416-455),
    with dx = GX, dy = GY: eight 45-degree sectors 1..8, flat = 0.

    Engine variant with EXACT boundary semantics: writing Y = -GX and
    X = GY (so the sector angle is atan2(Y, X)), every `aspect >= 45k`
    test is a sign test or an |Y| vs |X| integer comparison — no
    floating point anywhere, so half-boundary pixels (Y == +-X) land
    deterministically in the sector whose closed lower edge they sit
    on, which is the recode's [lo, hi) convention.
    """
    Y = -gx
    X = gy
    cat = np.zeros(Y.shape, dtype=np.int64)
    flat = (X == 0) & (Y == 0)
    c1 = (Y >= 0) & (X > Y)                      # [0, 45)
    c2 = (Y > 0) & (X > 0) & (X <= Y)            # [45, 90)
    c3 = (Y > 0) & (X <= 0) & (Y > -X)           # [90, 135)
    c4 = (Y > 0) & (X < 0) & (Y <= -X)           # [135, 180)
    c5 = ((Y == 0) & (X < 0)) | \
         ((Y < 0) & (X < 0) & (Y > X))           # [180, 225)
    c6 = (Y < 0) & (X < 0) & (Y <= X)            # [225, 270)
    c7 = (Y < 0) & (X >= 0) & (-Y > X)           # [270, 315)
    c8 = (Y < 0) & (X > 0) & (-Y <= X)           # [315, 360)
    for v, m in enumerate((c1, c2, c3, c4, c5, c6, c7, c8), start=1):
        cat[m] = v
    cat[flat] = 0
    return cat


def aspect_cat_stats(images: DataFrame, nodata=None) -> DataFrame:
    """elevation.aspect + catagorise_aspect: per (image, compass
    category 0..8) pixel counts over the valid interior."""

    def per_image(out, image_id, v):
        gx, gy = horn_gradients(_dem(v, nodata))
        cat = aspect_categories(gx, gy)
        cnt = np.bincount(cat.ravel(), minlength=9)
        for c in range(9):
            out["image_id"].append(image_id)
            out["aspect_cat"].append(c)
            out["n_pix"].append(int(cnt[c]))

    return codec.map_images(images, per_image, _ASPECT_SCHEMA, dtype=np.int64)


def hillshade_consts(azimuth: float = 315.0, zenith: float = 45.0):
    """The four driver-side sun literals shared with the SQL oracle.

    The reference remaps azimuth az' = wrap(360 - az + 90)
    (RSGISCalcHillShade ctor, RSGISDEMTools.cpp:466-477) and then uses
    C = az'_rad - pi/2 inside sin(aspect - C); expanding the sine of a
    difference against aspect = atan2(dy, dx) gives
    sqrt(xx+yy) * sin(aspect - C) = dy*cos(C) - dx*sin(C), so the only
    transcendentals are these four constants.
    """
    azp = 360.0 - azimuth + 90.0
    if azp > 360.0:
        azp -= 360.0
    c = math.radians(azp) - math.pi / 2.0
    return (math.sin(math.radians(zenith)), math.cos(math.radians(zenith)),
            math.cos(c), math.sin(c))


_HS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_dark", LongType()),
    StructField("sum_shade_q", LongType()),
    StructField("min_shade_q", LongType()),
    StructField("max_shade_q", LongType()),
])

_HS_QSCALE = 1048576.0  # 2^20: exact dyadic scale, floor-quantize


def hillshade_stats(images: DataFrame, azimuth: float = 315.0,
                    zenith: float = 45.0, res: float = 30.0,
                    nodata=None) -> DataFrame:
    """elevation.hillshade (python/src/elevation.cpp:188;
    RSGISCalcHillShade::calcImageValue, RSGISDEMTools.cpp:479-572).

    Pinned IEEE tree per interior pixel, mirrored verbatim in the SQL
    oracle (SZ/CZ/K1/K2 from :func:`hillshade_consts`; R8 = 8 * res):

        dx = GX / R8;  dy = -GY / R8
        cang  = (SZ - CZ * (dy*K1 - dx*K2)) / sqrt(1 + (dx*dx + dy*dy))
        shade = 1.0 if cang <= 0 else 1.0 + 254.0 * cang
        q     = floor(shade * 2^20)

    Every op is an IEEE correctly-rounded primitive on identical
    inputs, so q is bit-identical across engines.  Output per image:
    n_pix, n_dark (cang <= 0 count), sum/min/max of q.
    """
    SZ, CZ, K1, K2 = hillshade_consts(azimuth, zenith)
    R8 = 8.0 * res

    def per_image(out, image_id, v):
        gx, gy = horn_gradients(_dem(v, nodata))
        dx = gx / R8
        dy = -gy / R8
        num = SZ - CZ * (dy * K1 - dx * K2)
        cang = num / np.sqrt(1.0 + (dx * dx + dy * dy))
        dark = cang <= 0.0
        shade = np.where(dark, 1.0, 1.0 + 254.0 * cang)
        q = np.floor(shade * _HS_QSCALE).astype(np.int64)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(q.size))
        out["n_dark"].append(int(dark.sum()))
        out["sum_shade_q"].append(int(q.sum()) if q.size else 0)
        out["min_shade_q"].append(int(q.min()) if q.size else 0)
        out["max_shade_q"].append(int(q.max()) if q.size else 0)

    return codec.map_images(images, per_image, _HS_SCHEMA, dtype=np.int64)


def shadow_tan_q(solar_elev_deg: float = 10.0, res: float = 30.0,
                 qscale: int = 1048576) -> int:
    """Integer shadow threshold T = floor(tan(elev) * res * 2^20),
    shared verbatim with the SQL oracle (driver-side trig)."""
    import math
    return int(math.floor(math.tan(math.radians(solar_elev_deg))
                          * res * qscale))


_SHADOW_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_shadow", LongType()),
    StructField("shadow_ck", LongType()),
])


def shadow_mask_stats(images: DataFrame,
                      solar_elev_deg: float = 10.0,
                      res: float = 30.0) -> DataFrame:
    """elevation.shadow_mask for solar azimuth 270 (sun due west).

    Reference: RSGISCalcShadowBinaryMask
    (RSGISCmdElevationTools.cpp:388-446; ray-walk toward the sun).
    For an axis-aligned azimuth the ray test rationalises exactly:
    pixel x is shadowed iff some k < x on its row has

        (dem_k - dem_x) * 2^20 > T * (x - k),   T = tan(elev)*res*2^20

    i.e. iff  max_{k<x}(dem_k * 2^20 + T*k)  >  dem_x * 2^20 + T*x —
    ONE running maximum per row (O(n) scan / one SQL window frame),
    all-integer, no per-pair work.  maxHeight is infinite (the scan is
    exact, not stepped).  Output: n_shadow + position checksum."""
    T = shadow_tan_q(solar_elev_deg, res)

    def per_image(out, image_id, v):
        _, w = v.shape
        a = _dem(v)
        w_i = int(w)
        key = a * 1048576 + T * np.arange(w_i, dtype=np.int64)[None, :]
        runmax = np.maximum.accumulate(key, axis=1)
        blocked = np.zeros(a.shape, dtype=bool)
        blocked[:, 1:] = runmax[:, :-1] > key[:, 1:]
        ys, xs = np.nonzero(blocked)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(a.size))
        out["n_shadow"].append(int(blocked.sum()))
        out["shadow_ck"].append(int((ys * w_i + xs).sum()))

    return codec.map_images(images, per_image, _SHADOW_SCHEMA, dtype=np.int64)


_DETREND_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("sum_res_q", LongType()),
    StructField("min_res_q", LongType()),
    StructField("max_res_q", LongType()),
])


def detrend_stats(images: DataFrame) -> DataFrame:
    """elevation.plane_fit_detreat_dem (RSGISCmdElevationTools,
    RSGISDEMTools plane-fit detrend): subtract the 3x3
    least-squares-plane fit from the centre pixel.  For the symmetric
    3x3 design the fitted centre value IS the window mean, so the
    residual is the exact rational (9*v_c - sum9)/9 — one
    correctly-rounded division, 2^20-quantized.  Interior pixels."""

    def per_image(out, image_id, v):
        a = _dem(v)
        hh, ww = a.shape
        s9 = sum(a[1 + dy:hh - 1 + dy, 1 + dx:ww - 1 + dx]
                 for dy in (-1, 0, 1) for dx in (-1, 0, 1))
        c = a[1:-1, 1:-1]
        num = 9 * c - s9
        q = np.floor((num.astype(np.float64) / 9.0)
                     * 1048576.0).astype(np.int64)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(q.size))
        out["sum_res_q"].append(int(q.sum()))
        out["min_res_q"].append(int(q.min()))
        out["max_res_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _DETREND_SCHEMA, dtype=np.int64)


def slope_pxlres_consts(thresholds_deg=(5.0, 15.0, 30.0)):
    """64*tan^2(T) driver literals for the per-pixel-resolution slope
    classes (slope >= T  <=>  g2 >= 64 tan^2(T) * res_px^2)."""
    import math
    return tuple(64.0 * math.tan(math.radians(t)) ** 2
                 for t in thresholds_deg)


_SPR_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("slope_cls", LongType()),
    StructField("n_pix", LongType()),
    StructField("sum_g2", LongType()),
])


def slope_pxlres_stats(images: DataFrame,
                       thresholds_deg=(5.0, 15.0, 30.0)) -> DataFrame:
    """elevation.slope_pxl_res_img (python/src/elevation.cpp method
    table): Horn slope with a PER-PIXEL resolution image instead of a
    constant — res_px = 30 + ((x + y) % 3) * 5 here.  The class test
    is the pinned comparison  g2 >= C_T * (res_px*res_px)  with C_T =
    64 tan^2(T) a shared dlit literal and res_px^2 an exact integer —
    one multiply per threshold, no atan."""
    import numpy as _np

    cts = slope_pxlres_consts(thresholds_deg)

    def per_image(out, image_id, v):
        h, w = v.shape
        a = _dem(v)
        gx, gy = horn_gradients(a)
        g2 = gx * gx + gy * gy
        x = _np.arange(1, int(w) - 1, dtype=_np.int64)[None, :]
        y = _np.arange(1, int(h) - 1, dtype=_np.int64)[:, None]
        res = 30 + ((x + y) % 3) * 5
        r2 = _np.broadcast_to(res * res, g2.shape)
        cls = _np.zeros(g2.shape, dtype=_np.int64)
        for ct in cts:
            cls += (g2.astype(_np.float64)
                    >= ct * r2.astype(_np.float64))
        for c in range(len(cts) + 1):
            m = cls == c
            out["image_id"].append(image_id)
            out["slope_cls"].append(c)
            out["n_pix"].append(int(m.sum()))
            out["sum_g2"].append(int(g2[m].sum()))

    return codec.map_images(images, per_image, _SPR_SCHEMA, dtype=np.int64)


_AMF_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("aspect_cat", LongType()),
    StructField("n_pix", LongType()),
    StructField("cat_ck", LongType()),
])


def aspect_median_stats(images: DataFrame) -> DataFrame:
    """elevation.dtm_aspect_median_filter (python/src/elevation.cpp
    method table): 3x3 median filter over the aspect CATEGORY plane
    (catagorise_aspect codes 0..8 — exact integer octant tests, see
    :func:`aspect_categories`); median of 9 small ints is exact.
    Applies on the doubly-interior region; output per (image, cat)
    with a position checksum."""
    import numpy as _np

    def per_image(out, image_id, v):
        h, w = v.shape
        a = _dem(v)
        gx, gy = horn_gradients(a)
        cat = aspect_categories(gx, gy)
        hh, ww2 = cat.shape
        stack = _np.stack([cat[1 + dy:hh - 1 + dy,
                               1 + dx:ww2 - 1 + dx]
                           for dy in (-1, 0, 1)
                           for dx in (-1, 0, 1)])
        med = _np.sort(stack, axis=0)[4]
        # doubly-interior pixel coordinates in the FULL image
        ww = int(w)
        xs0 = _np.arange(2, ww - 2, dtype=_np.int64)[None, :]
        ys0 = _np.arange(2, int(h) - 2, dtype=_np.int64)[:, None]
        flat = _np.broadcast_to(ys0 * ww + xs0, med.shape)
        for c in range(9):
            m = med == c
            out["image_id"].append(image_id)
            out["aspect_cat"].append(c)
            out["n_pix"].append(int(m.sum()))
            out["cat_ck"].append(int(flat[m].sum()))

    return codec.map_images(images, per_image, _AMF_SCHEMA, dtype=np.int64)


_FILL_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_raised", LongType()),
    StructField("sum_fill", LongType()),
    StructField("sum_raise", LongType()),
    StructField("n_rounds", LongType()),
])


def fill_dem_stats(images: DataFrame) -> DataFrame:
    """elevation.fill_dem_soille_gratin_1994 (python/src/elevation.cpp
    method table; RSGISHydroDEMFillSoilleGratin1994): flood-fill of DEM
    depressions — the filled surface is the MINIMAL surface >= dem
    with no interior local minimum, equivalently
    F(p) = min over border paths of max(dem along path).

    Engine realisation: morphological reconstruction by erosion —
    F = dem on the border, +inf inside, then iterate
    F <- max(dem, min(F, 4-neighbour mins)) to the fixpoint (converges
    in O(w+h) vectorized rounds; the reference's priority-flood queue
    computes the same fixpoint, pytest-verified against a heapq
    transcription).  Pure integers.  No SQL oracle — the minimax-path
    fixpoint is not SQL-expressible (rows-only check, like
    alpha_shape); correctness carried by the pytest invariants."""
    import numpy as _np

    def per_image(out, image_id, v):
        dem = _dem(v)
        filled, rounds = fill_soille_gratin(dem)
        raised = filled > dem
        out["image_id"].append(image_id)
        out["n_pix"].append(int(dem.size))
        out["n_raised"].append(int(raised.sum()))
        out["sum_fill"].append(int(filled.sum()))
        out["sum_raise"].append(int((filled - dem).sum()))
        out["n_rounds"].append(rounds)

    return codec.map_images(images, per_image, _FILL_SCHEMA, dtype=np.int64)


def fill_soille_gratin(dem: np.ndarray):
    """Vectorized reconstruction-by-erosion fixpoint (see
    :func:`fill_dem_stats`); returns (filled, rounds)."""
    big = int(dem.max()) + 1
    f = np.full_like(dem, big)
    f[0, :] = dem[0, :]
    f[-1, :] = dem[-1, :]
    f[:, 0] = dem[:, 0]
    f[:, -1] = dem[:, -1]
    rounds = 0
    while True:
        rounds += 1
        nmin = f.copy()
        nmin[1:, :] = np.minimum(nmin[1:, :], f[:-1, :])
        nmin[:-1, :] = np.minimum(nmin[:-1, :], f[1:, :])
        nmin[:, 1:] = np.minimum(nmin[:, 1:], f[:, :-1])
        nmin[:, :-1] = np.minimum(nmin[:, :-1], f[:, 1:])
        new = np.maximum(dem, nmin)
        if (new == f).all():
            return f, rounds
        f = new


_INC_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_facing_away", LongType()),
    StructField("sum_cosi_q", LongType()),
    StructField("min_cosi_q", LongType()),
    StructField("max_cosi_q", LongType()),
])


def incidence_stats(images: DataFrame, azimuth: float = 135.0,
                    zenith: float = 60.0, res: float = 30.0) -> DataFrame:
    """elevation.local_incidence_angle (python/src/elevation.cpp
    method table; RSGISCalcRayIncidentAngle): the angle between the
    surface normal and the sun vector.  Engine variant (documented):
    emits the 2^20-quantized COSINE of the incidence angle — the same
    pinned hillshade-core tree without the 1+254 display scaling; the
    reference's final acos is monotone, so orderings/threshold tests
    agree and the transcendental stays out of the hash path."""
    SZ, CZ, K1, K2 = hillshade_consts(azimuth, zenith)
    R8 = 8.0 * res

    def per_image(out, image_id, v):
        gx, gy = horn_gradients(_dem(v))
        dx = gx / R8
        dy = -gy / R8
        num = SZ - CZ * (dy * K1 - dx * K2)
        cosi = num / np.sqrt(1.0 + (dx * dx + dy * dy))
        q = np.floor(cosi * 1048576.0).astype(np.int64)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(q.size))
        out["n_facing_away"].append(int((cosi <= 0.0).sum()))
        out["sum_cosi_q"].append(int(q.sum()))
        out["min_cosi_q"].append(int(q.min()))
        out["max_cosi_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _INC_SCHEMA, dtype=np.int64)


# --------------------------------------------------------------------------
# local incidence ANGLE in degrees — the monotone acos step
# --------------------------------------------------------------------------

#: Abramowitz & Stegun 4.4.46 minimax coefficients for
#: acos(x) = sqrt(1-x) * P(x), 0 <= x <= 1, |err| <= 2e-8 rad — a fixed
#: polynomial with literal coefficients, so the transcendental is
#: cross-engine exact by construction (same arithmetic both sides).
ACOS_C = (1.5707963050, -0.2145988016, 0.0889789874, -0.0501743046,
          0.0308918810, -0.0170881256, 0.0066700901, -0.0012624911)

_PI_LIT = 3.141592653589793
_R2D_LIT = 180.0 / _PI_LIT


def acos_branch_sql(x: str) -> str:
    """sqrt(1-x)*P(x) Horner text for 0 <= x <= 1 (one branch of acos)."""
    from ..geo.transverse_mercator import dlit
    p = dlit(ACOS_C[-1])
    for c in reversed(ACOS_C[:-1]):
        p = f"({dlit(c)} + ({x}) * {p})"
    return f"(sqrt(1.0 - ({x})) * {p})"


def acos_deg_np(x: np.ndarray) -> np.ndarray:
    """numpy twin of the acos SQL (evaluates the SAME generated text via
    the warp SQL->numpy evaluator — zero transcription risk); the x<0
    branch acos(x) = pi - acos(-x) is selected by an exact comparison.
    Inputs are clamped to [-1, 1] first (a unit-vector cosine can exceed
    1 by one ulp of rounding, and DuckDB errors on sqrt(negative)) —
    exact comparisons, so both engines clamp identically."""
    from .warp import np_eval_sql
    from ..geo.transverse_mercator import dlit
    x = np.minimum(np.maximum(np.asarray(x, np.float64), -1.0), 1.0)
    pos = np_eval_sql(acos_branch_sql("xx"), {"xx": x})
    neg = np_eval_sql(f"({dlit(_PI_LIT)} - {acos_branch_sql('(0.0 - xx)')})",
                      {"xx": x})
    return np.where(x < 0.0, neg, pos) * _R2D_LIT


def acos_deg_sql(x: str) -> str:
    """Full acos in DEGREES as portable SQL (shared with the oracle);
    includes the same [-1, 1] clamp as :func:`acos_deg_np`."""
    from ..geo.transverse_mercator import dlit
    xc = f"least(greatest(({x}), -1.0), 1.0)"
    return (f"(CASE WHEN {xc} < 0.0 THEN ({dlit(_PI_LIT)}"
            f" - {acos_branch_sql(f'(0.0 - {xc})')})"
            f" ELSE {acos_branch_sql(xc)} END * {dlit(_R2D_LIT)})")


_INCD_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_facing_away", LongType()),
    StructField("sum_deg_q", LongType()),
    StructField("min_deg_q", LongType()),
    StructField("max_deg_q", LongType()),
])


def incidence_deg_stats(images: DataFrame, azimuth: float = 135.0,
                        zenith: float = 60.0,
                        res: float = 30.0) -> DataFrame:
    """local_incidence_angle emitting the ANGLE in degrees — the
    reference's actual output (RSGISCalcRayIncidentAngle,
    src/calibration/RSGISDEMTools.cpp: angle = acos(cosi) * 180/pi;
    python/src/elevation.cpp:257) — closing the documented
    cos-only gap: acos via the fixed A&S 4.4.46 polynomial (ACOS_C),
    2^20-quantized degrees, exact integer aggregates."""
    SZ, CZ, K1, K2 = hillshade_consts(azimuth, zenith)
    R8 = 8.0 * res

    def per_image(out, image_id, v):
        gx, gy = horn_gradients(_dem(v))
        dx = gx / R8
        dy = -gy / R8
        num = SZ - CZ * (dy * K1 - dx * K2)
        cosi = num / np.sqrt(1.0 + (dx * dx + dy * dy))
        deg = acos_deg_np(cosi)
        q = np.floor(deg * 1048576.0).astype(np.int64)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(q.size))
        out["n_facing_away"].append(int((cosi <= 0.0).sum()))
        out["sum_deg_q"].append(int(q.sum()))
        out["min_deg_q"].append(int(q.min()))
        out["max_deg_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _INCD_SCHEMA, dtype=np.int64)
