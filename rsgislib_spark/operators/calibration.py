"""Radiometric calibration: DN -> radiance -> TOA reflectance.

Reference: imagecalibration (python/src/imagecalibration.cpp;
RSGISLandsatRadianceCalibrationMultiAdd::calcImageValue,
src/calibration/RSGISStandardDN2RadianceCalibration.cpp:66-98:
L = multi*DN + add with the all-bands-zero border rule;
RSGISCalculateTopOfAtmosphereReflectance::calcImageValue,
src/calibration/RSGISCalculateTopOfAtmosphereReflectance.cpp:37-48:
rho = ((pi * L * d^2) / (ESUN_i * cos(theta_s))) * scale; solar
distance d from the day-of-year series in the same header:87-89).

Determinism contract: all transcendentals (pi, cos of the solar
zenith, the solar-distance cosine series) are DRIVER-side Python
constants shared verbatim with the SQL oracle via exact
integer-mantissa literals; the per-pixel tree

    L   = 0                 if every band's DN is 0 (border rule)
        = G_i * v + O_i     otherwise
    rho = ((PI * L * DSQ) / ED_i) * SC      with ED_i = ESUN_i*cos(zen)
    q   = floor(rho * 2^20)

is IEEE correctly-rounded ops only, mirrored term-for-term in SQL, so
q is bit-identical across engines.  Band 1 is the decoded plane, band
2 its horizontal mirror (the imagemath b2 convention).
"""
import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from .. import synth
from ..functions import codec
from ..functions.detmath import ln_pos_np

__all__ = ["solar_distance", "toa_consts", "radiance_toa_stats",
           "DEFAULT_CAL", "DEFAULT_6S", "sref_6s_stats",
           "dos_subtract_stats", "saturated_stats", "thermal_brightness_stats", "THERM_K1", "THERM_K2", "spot_radiance_stats", "SPOT_GAINS", "subtract_offsets_stats", "SUB_OFFSETS"]


def solar_distance(day_of_year: int) -> float:
    """Earth-sun distance in AU for a day of year
    (RSGISCalculateTopOfAtmosphereReflectance.h:85-90)."""
    g = (357.529 + 0.98560028 * float(day_of_year)) * (math.pi / 180.0)
    return 1.00014 - 0.01671 * math.cos(g) - 0.00014 * math.cos(2.0 * g)


# two synthetic Landsat-ish bands: (gain, offset, esun)
DEFAULT_CAL = ((0.012, -1.52, 1997.0), (0.021, 0.87, 1812.0))


def toa_consts(esun: float, solar_zenith_deg: float,
               day_of_year: int = 196, scale: float = 1000.0):
    """(PI, DSQ, ED, SC) driver literals for one band."""
    d = solar_distance(day_of_year)
    return (math.pi, d * d,
            esun * math.cos(math.radians(solar_zenith_deg)), scale)


_TOA_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("band", LongType()),
    StructField("n_pix", LongType()),
    StructField("n_border", LongType()),
    StructField("sum_rho_q", LongType()),
    StructField("min_rho_q", LongType()),
    StructField("max_rho_q", LongType()),
])

_TOA_QSCALE = 1048576.0  # 2^20 dyadic quantizer


def radiance_toa_stats(images: DataFrame, cal=DEFAULT_CAL,
                       solar_zenith_deg: float = 35.0,
                       day_of_year: int = 196,
                       scale: float = 1000.0) -> DataFrame:
    """imagecalibration.landsat_to_radiance_multi_add +
    calc_standard_toa_reflectance fused per band.

    Output: one row per (image, band 1..len(cal)): pixel count, border
    count (all-band-zero rule), and sum/min/max of the 2^20-quantized
    TOA reflectance (scaled by ``scale``, reference scaleFactor).
    """
    consts = [toa_consts(esun, solar_zenith_deg, day_of_year, scale)
              for _, _, esun in cal]

    def per_image(out, image_id, v):
        bands = [v, v[:, ::-1]]
        border = (bands[0] == 0) & (bands[1] == 0)
        for bi, ((g, o, _), (PI, DSQ, ED, SC)) in enumerate(
                zip(cal, consts), start=1):
            dn = bands[bi - 1]
            L = np.where(border, 0.0, g * dn + o)
            rho = ((PI * L * DSQ) / ED) * SC
            q = np.floor(rho * _TOA_QSCALE).astype(np.int64)
            out["image_id"].append(image_id)
            out["band"].append(bi)
            out["n_pix"].append(int(q.size))
            out["n_border"].append(int(border.sum()))
            out["sum_rho_q"].append(int(q.sum()))
            out["min_rho_q"].append(int(q.min()))
            out["max_rho_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _TOA_SCHEMA, dtype=np.int64)


# per-band 6S coefficients (aX, bX, cX) for the two synthetic bands
DEFAULT_6S = ((0.0021, 0.31, 0.041), (0.0038, 0.12, 0.027))

_S6_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("band", LongType()),
    StructField("n_pix", LongType()),
    StructField("n_lo", LongType()),
    StructField("n_clamp", LongType()),
    StructField("sum_sref_q", LongType()),
    StructField("min_sref_q", LongType()),
    StructField("max_sref_q", LongType()),
])


def sref_6s_stats(images: DataFrame, coeffs=DEFAULT_6S,
                  scale: float = 1000.0) -> DataFrame:
    """imagecalibration.apply_6s_coeff_single_param
    (RSGISApply6SCoefficientsSingleParam::calcImageValue,
    src/calibration/RSGISApply6SCoefficients.cpp:40-106).

    Per band i:  y = aX*v - bX;  t = (y / (1.0 + cX*y)) * scale;
    with useNoDataVal and noDataVal == 0 (the reference's Landsat
    convention): all-band-zero pixels emit 0; otherwise t < 1 lifts to
    1 else t + 1, then clamp at scale.  Pinned IEEE tree, 2^20
    quantizer; n_lo / n_clamp count the two branch populations so the
    oracle row proves both branches fire.
    """

    def per_image(out, image_id, v):
        bands = [v, v[:, ::-1]]
        border = (bands[0] == 0) & (bands[1] == 0)
        for bi, (A, B, C) in enumerate(coeffs, start=1):
            dn = bands[bi - 1]
            y = A * dn - B
            t = (y / (1.0 + C * y)) * scale
            lo = t < 1.0
            o1 = np.where(lo, 1.0, t + 1.0)
            clamp = o1 > scale
            o2 = np.where(clamp, scale, o1)
            res = np.where(border, 0.0, o2)
            q = np.floor(res * _TOA_QSCALE).astype(np.int64)
            valid = ~border
            out["image_id"].append(image_id)
            out["band"].append(bi)
            out["n_pix"].append(int(q.size))
            out["n_lo"].append(int((lo & valid).sum()))
            out["n_clamp"].append(int((clamp & valid).sum()))
            out["sum_sref_q"].append(int(q.sum()))
            out["min_sref_q"].append(int(q.min()))
            out["max_sref_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _S6_SCHEMA, dtype=np.int64)


_DOS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("band", LongType()),
    StructField("n_pix", LongType()),
    StructField("n_nodata", LongType()),
    StructField("dark_off", LongType()),
    StructField("sum_out", LongType()),
    StructField("min_out", LongType()),
    StructField("max_out", LongType()),
])


def dos_subtract_stats(images: DataFrame, dark_refl: int = 0) -> DataFrame:
    """imagecalibration.apply_subtract_single_offsets with the
    perform_dos_calc offset estimate
    (RSGISApplyDarkObjSubtractSingleOffsets::calcImageValue,
    src/calibration/RSGISApplySubtractOffsets.cpp:98-135;
    imagecalibration/__init__.py perform_dos_calc).

    The dark-object offset per (image, band) is the minimum VALID
    (non-zero: noDataVal = 0) DN; out = (v - off) + dark_refl with the
    nonNegative rule (out <= 0 -> 1) and nodata pass-through (v == 0
    -> 0).  With dark_refl = 0 the dark-object pixels themselves land
    exactly on the nonNegative branch.  Everything is int64 — no
    floats anywhere.
    """

    def per_image(out, image_id, v):
        bands = [v, v[:, ::-1]]
        for bi, dn in enumerate(bands, start=1):
            nodata = dn == 0
            valid = dn[~nodata]
            off = int(valid.min()) if valid.size else 0
            res = dn - off + int(dark_refl)
            res = np.where(res <= 0, 1, res)
            res = np.where(nodata, 0, res)
            out["image_id"].append(image_id)
            out["band"].append(bi)
            out["n_pix"].append(int(res.size))
            out["n_nodata"].append(int(nodata.sum()))
            out["dark_off"].append(off)
            out["sum_out"].append(int(res.sum()))
            out["min_out"].append(int(res.min()))
            out["max_out"].append(int(res.max()))

    return codec.map_images(images, per_image, _DOS_SCHEMA, dtype=np.int64)


_SAT_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("band", LongType()),
    StructField("n_pix", LongType()),
    StructField("n_sat", LongType()),
    StructField("sat_ck", LongType()),
])


def saturated_stats(images: DataFrame) -> DataFrame:
    """imagecalibration.saturated_pixels_mask (python/src/
    imagecalibration.cpp method table): per-band mask of pixels at the
    format's saturation value (pmax - 1).  Emits the count and the
    flat-index checksum per (image, band); band 2 is the mirror plane,
    whose saturation POSITIONS differ even though the count matches
    (the mirror is a permutation), which the checksum captures."""
    import numpy as _np

    def per_image(out, image_id, v, fmt):
        _, w = v.shape
        pmax = synth.pmax(fmt)
        ww = int(w)
        for bi, plane in enumerate((v, v[:, ::-1]), start=1):
            ys, xs = _np.nonzero(plane == pmax - 1)
            out["image_id"].append(image_id)
            out["band"].append(bi)
            out["n_pix"].append(int(plane.size))
            out["n_sat"].append(int(ys.size))
            out["sat_ck"].append(int((ys * ww + xs).sum()))

    return codec.map_images(images, per_image, _SAT_SCHEMA,
                            extra_cols=("fmt",), dtype=_np.int64)


# Landsat-ish thermal constants: K1, K2 (band 6 style) and the rational
# radiance calibration L = (37*DN + 3200)/1000 (exact-integer numerator)
THERM_K1, THERM_K2 = 607.76, 1260.56

_THB_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("band", LongType()),
    StructField("n_pix", LongType()),
    StructField("sum_tb_q", LongType()),
    StructField("min_tb_q", LongType()),
    StructField("max_tb_q", LongType()),
])


def thermal_brightness_stats(images: DataFrame) -> DataFrame:
    """imagecalibration.landsat_thermal_rad_to_brightness
    (RSGISCalculateTOAThermalBrightness::calcImageValue,
    src/calibration/RSGISCalculateTopOfAtmosphereReflectance.cpp:75:
    temp = K2 / log(K1/L + 1)).

    The log goes through the pinned cross-engine tree
    (functions/detmath.ln_pos_np — bit-identical in numpy and DuckDB),
    radiance L is the exact rational (37*DN + 3200)/1000, and every
    other op is one correctly-rounded IEEE primitive, so the
    2^20-quantized temperature is exact-hash safe."""
    import numpy as _np

    def per_image(out, image_id, v):
        for bi, dn in enumerate((v, v[:, ::-1]), start=1):
            L = (37 * dn + 3200).astype(_np.float64) / 1000.0
            arg = THERM_K1 / L + 1.0
            tb = THERM_K2 / ln_pos_np(arg)
            q = _np.floor(tb * 1048576.0).astype(_np.int64)
            out["image_id"].append(image_id)
            out["band"].append(bi)
            out["n_pix"].append(int(q.size))
            out["sum_tb_q"].append(int(q.sum()))
            out["min_tb_q"].append(int(q.min()))
            out["max_tb_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _THB_SCHEMA, dtype=_np.int64)


# SPOT5-style physical gains/biases for the two synthetic bands
SPOT_GAINS = ((1.264, 0.52), (1.402, 0.31))

_SPOT_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("band", LongType()),
    StructField("n_pix", LongType()),
    StructField("sum_l_q", LongType()),
    StructField("min_l_q", LongType()),
    StructField("max_l_q", LongType()),
])


def spot_radiance_stats(images: DataFrame, gains=SPOT_GAINS) -> DataFrame:
    """imagecalibration.spot5_to_radiance
    (RSGISSPOTRadianceCalibration::calcImageValue,
    src/calibration/RSGISStandardDN2RadianceCalibration.cpp:107:
    L = DN/gain + bias — SPOT's physical gain DIVIDES).  Gains/biases
    are shared dlit literals; per-pixel tree is one division + one
    add, 2^20-quantized."""
    import numpy as _np

    def per_image(out, image_id, v):
        for bi, ((g, b), dn) in enumerate(
                zip(gains, (v, v[:, ::-1])), start=1):
            L = dn.astype(_np.float64) / g + b
            q = _np.floor(L * 1048576.0).astype(_np.int64)
            out["image_id"].append(image_id)
            out["band"].append(bi)
            out["n_pix"].append(int(q.size))
            out["sum_l_q"].append(int(q.sum()))
            out["min_l_q"].append(int(q.min()))
            out["max_l_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _SPOT_SCHEMA, dtype=_np.int64)


# constant per-band dark offsets for apply_subtract_offsets
SUB_OFFSETS = (17, 42)

_SUBO_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("band", LongType()),
    StructField("n_pix", LongType()),
    StructField("n_nodata", LongType()),
    StructField("n_lifted", LongType()),
    StructField("sum_out", LongType()),
])


def subtract_offsets_stats(images: DataFrame,
                           offsets=SUB_OFFSETS) -> DataFrame:
    """imagecalibration.apply_subtract_offsets
    (RSGISApplyDarkObjSubtractOffsets::calcImageValue,
    src/calibration/RSGISApplySubtractOffsets.cpp — the CONSTANT
    per-band offset variant of dos_subtract): out = v - off with
    nonNegative (<= 0 -> 1) and nodata-0 pass-through; pure int64.
    ``n_lifted`` counts the nonNegative branch so it provably fires."""
    import numpy as _np

    def per_image(out, image_id, v):
        for bi, (off, dn) in enumerate(
                zip(offsets, (v, v[:, ::-1])), start=1):
            nodata = dn == 0
            res = dn - off
            lifted = (res <= 0) & ~nodata
            res = _np.where(res <= 0, 1, res)
            res = _np.where(nodata, 0, res)
            out["image_id"].append(image_id)
            out["band"].append(bi)
            out["n_pix"].append(int(res.size))
            out["n_nodata"].append(int(nodata.sum()))
            out["n_lifted"].append(int(lifted.sum()))
            out["sum_out"].append(int(res.sum()))

    return codec.map_images(images, per_image, _SUBO_SCHEMA, dtype=_np.int64)


# elevation-indexed 6S coefficient LUT: (elev, aX, bX, cX)
LUT_6S = ((0, 0.0021, 0.31, 0.041), (60, 0.0024, 0.28, 0.038),
          (120, 0.0027, 0.25, 0.034), (180, 0.0030, 0.22, 0.031))

_S6L_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("lut_idx", LongType()),
    StructField("n_pix", LongType()),
    StructField("sum_sref_q", LongType()),
    StructField("min_sref_q", LongType()),
    StructField("max_sref_q", LongType()),
])


def sref_6s_lut_stats(images: DataFrame, lut=LUT_6S,
                      scale: float = 1000.0) -> DataFrame:
    """imagecalibration.apply_6s_coeff_elev_lut_param
    (RSGISApply6SCoefficientsElevLUTParam::calcImageValue,
    src/calibration/RSGISApply6SCoefficients.cpp:140-205): per pixel,
    pick the LUT entry whose elevation is NEAREST (squared distance,
    strict <, first/lowest index wins ties — the C++ scan order), then
    apply that entry's (aX, bX, cX) through the same pinned 6S tree as
    sref_6s.  Engine variant (documented): the reference's secondary
    two-entry interpolation is omitted — nearest-entry coefficients
    only.  Elevation = the synthetic DEM plane; with sorted integer
    LUT elevations the nearest-entry rule is the midpoint ladder
    e <= 30 -> 0, e <= 90 -> 1, e <= 150 -> 2 else 3 (ties at the
    exact midpoints go to the lower index).  Output grouped per
    (image, lut_idx) so every LUT branch is hash-visible."""
    import numpy as _np
    from .elevation import dem_plane

    elevs = [e for e, *_ in lut]
    mids = [(elevs[i] + elevs[i + 1]) // 2 for i in range(len(lut) - 1)]

    def per_image(out, image_id, v):
        h, w = v.shape
        x = _np.arange(int(w), dtype=_np.int64)[None, :]
        y = _np.arange(int(h), dtype=_np.int64)[:, None]
        e = dem_plane(v, x, y)
        idx = _np.zeros_like(e)
        for m in mids:
            idx += (e > m)
        for li, (_, A, B, C) in enumerate(lut):
            sel = idx == li
            n = int(sel.sum())
            out["image_id"].append(image_id)
            out["lut_idx"].append(li)
            out["n_pix"].append(n)
            if n == 0:
                out["sum_sref_q"].append(-1)
                out["min_sref_q"].append(-1)
                out["max_sref_q"].append(-1)
                continue
            dn = v[sel]
            yv = A * dn - B
            t = (yv / (1.0 + C * yv)) * scale
            o1 = _np.where(t < 1.0, 1.0, t + 1.0)
            o2 = _np.where(o1 > scale, scale, o1)
            q = _np.floor(o2 * 1048576.0).astype(_np.int64)
            out["sum_sref_q"].append(int(q.sum()))
            out["min_sref_q"].append(int(q.min()))
            out["max_sref_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _S6L_SCHEMA, dtype=_np.int64)


_T2R_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("sum_l_q", LongType()),
    StructField("min_l_q", LongType()),
    StructField("max_l_q", LongType()),
])


def toa_to_radiance_stats(images: DataFrame,
                          solar_zenith_deg: float = 35.0,
                          day_of_year: int = 196,
                          scale: float = 1000.0) -> DataFrame:
    """imagecalibration.toa_refl_to_radiance (python/src/
    imagecalibration.cpp method table): the inverse of
    calc_standard_toa_reflectance — L = ((rho/SC) * ED) / (PI * DSQ),
    with the value plane read as scaled TOA reflectance.  Same driver
    literals as radiance_toa_stats; pinned three-op tree."""
    import numpy as _np

    PI, DSQ, ED, SC = toa_consts(DEFAULT_CAL[0][2], solar_zenith_deg,
                                 day_of_year, scale)

    def per_image(out, image_id, v):
        L = ((v.astype(_np.float64) / SC) * ED) / (PI * DSQ)
        q = _np.floor(L * 1048576.0).astype(_np.int64)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(q.size))
        out["sum_l_q"].append(int(q.sum()))
        out["min_l_q"].append(int(q.min()))
        out["max_l_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _T2R_SCHEMA, dtype=_np.int64)


_QA_SCHEMA = None  # built lazily below


def _qa_schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    global _QA_SCHEMA
    if _QA_SCHEMA is None:
        _QA_SCHEMA = StructType(
            [StructField("image_id", StringType()),
             StructField("n_pix", LongType())]
            + [StructField(c, LongType()) for c in
               ("n_fill", "n_dilated", "n_cirrus", "n_cloud", "n_shadow",
                "n_snow", "n_clear", "n_water", "s_cloud_conf",
                "s_shadow_conf", "s_snow_conf", "s_cirrus_conf",
                "n_cloud_high")])
    return _QA_SCHEMA


def qa_pixel_parse_stats(images: DataFrame) -> DataFrame:
    """parse_landsat_c2_qa_pixel_img (imagecalibration/
    sensorlvl2data.py:535): decode the Collection-2 QA_PIXEL bit
    layout — 8 single-bit flags (Fill..Water, bits 0-7) and four 2-bit
    confidence fields mapped (00,01,10,11) -> (1,2,3,4) with bit 8/10/
    12/14 as the HIGH bit (the reference's val_bin branch table).

    The QA plane is ``qa = (v * 67) % 65536`` over the payload plane —
    a deterministic 16-bit stand-in that populates all 16 bits (the
    synthetic planes only carry 8-10).  Aggregates per image: flag
    counts, confidence sums, and the high-cloud-confidence count.
    All exact integer arithmetic.
    """
    schema = _qa_schema()

    def per_image(out, image_id, v):
        qa = (v * 67) % 65536

        def bit(j):
            return (qa >> j) & 1

        conf = [1 + 2 * bit(hi) + bit(hi + 1)
                for hi in (8, 10, 12, 14)]
        out["image_id"].append(str(image_id))
        out["n_pix"].append(int(qa.size))
        for k, j in zip(("n_fill", "n_dilated", "n_cirrus",
                         "n_cloud", "n_shadow", "n_snow",
                         "n_clear", "n_water"), range(8)):
            out[k].append(int(bit(j).sum()))
        for k, c in zip(("s_cloud_conf", "s_shadow_conf",
                         "s_snow_conf", "s_cirrus_conf"), conf):
            out[k].append(int(c.sum()))
        out["n_cloud_high"].append(int((conf[0] == 4).sum()))

    return codec.map_images(images, per_image, schema, dtype=np.int64)


def dsq_table():
    """(doy, round(1e9 * solar_distance^2)) for doy 1..365 — shared
    verbatim between engines (harmonic-table pattern; the /1e9
    rescale is one identical correctly-rounded division)."""
    return [(d, round(1e9 * solar_distance(d) ** 2))
            for d in range(1, 366)]


def calib_scalar_panel(images: DataFrame) -> DataFrame:
    """imagecalibration.visibility_to_aot (imagecalibration/
    __init__.py:417): aot = 3.9449/vis + 0.08498; and get_esun_value
    (:391): esun = pi*L*d^2 / toaRefl / cos(zenith), with the
    reference's step order and the polynomial cos (zenith < 65deg)."""
    from ..geo.transverse_mercator import dlit, cos_sql
    import math as _m
    spark = images.sparkSession
    tbl = spark.createDataFrame(dsq_table(), "doy int, dsqq long")
    df = images.selectExpr(
        "image_id", "id", "CAST(id % 365 + 1 AS INT) AS doy",
        "CAST(5 + id % 40 AS DOUBLE) AS vis",
        "CAST(id % 900 AS DOUBLE) * 0.25 + CAST(10.0 AS DOUBLE) AS rad",
        "(CAST(id % 37 AS DOUBLE) + CAST(5.0 AS DOUBLE))"
        " / CAST(64.0 AS DOUBLE) AS toa_refl",
        f"CAST(id % 60 + 5 AS DOUBLE) * {dlit(_m.pi / 180.0)} AS zrad")
    df = df.join(F.broadcast(tbl), "doy")
    return df.selectExpr(
        "image_id", "CAST(doy AS BIGINT) AS doy",
        f"({dlit(3.9449)} / vis) + {dlit(0.08498)} AS aot",
        f"((({dlit(_m.pi)} * rad)"
        f" * (CAST(dsqq AS DOUBLE) / CAST(1000000000.0 AS DOUBLE)))"
        f" / toa_refl) / ({cos_sql('zrad')}) AS esun")


# --------------------------------------------------------------------------
# calc_standardised_reflectance_sd2010 — the topographic-correction chain
# --------------------------------------------------------------------------

#: per-elevation-rung solar irradiance (elev_m, direct, diffuse, env) —
#: the synthetic analog of the calc_irradiance_image_elev_lut product
#: (python/src/imagecalibration.cpp:1519: executeCalcIrradianceElevLUT);
#: total = direct + diffuse + env is folded driver-side.
SD2010_IRR_LUT = ((0, 620.0, 110.0, 30.0), (60, 640.0, 100.0, 28.0),
                  (120, 660.0, 90.0, 26.0), (180, 680.0, 80.0, 24.0))

_SD_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("n_shade", LongType()),
    StructField("sum_sd_q", LongType()),
    StructField("min_sd_q", LongType()),
    StructField("max_sd_q", LongType()),
])


def sd2010_consts(out_inc: float = 45.0, out_exit: float = 45.0):
    """cos(outInc) + cos(outExit), folded driver-side (the gamma
    denominator of RSGISCalcStandardisedReflectanceSD2010,
    src/calibration/RSGISApply6SCoefficients.cpp:756)."""
    d2r = math.pi / 180.0
    return math.cos(out_inc * d2r) + math.cos(out_exit * d2r)


def sref_sd2010_stats(images: DataFrame, azimuth: float = 135.0,
                      zenith: float = 30.0, res: float = 30.0,
                      irr_lut=SD2010_IRR_LUT, scale: float = 1000.0,
                      beta: float = 0.9, out_inc: float = 45.0,
                      out_exit: float = 45.0) -> DataFrame:
    """calc_standardised_reflectance_sd2010 (python/src/
    imagecalibration.cpp:1543; core math RSGISCalcStandardised-
    ReflectanceSD2010::calcImageValue, src/calibration/
    RSGISApply6SCoefficients.cpp:728-796):

        gamma = (cos(inc) + cos(exit)) / (cos(outInc) + cos(outExit))
        L     = (sref / scale) * irrTotal
        out   = L / (irrDirect * gamma + irrDiffuse * beta) * scale
        out   = 1 when out < 1 and scale > 99;  out = 0 where mask != 1

    The chain is composed end-to-end from the synthetic plane: the
    incidence cosine is the pinned hillshade-core tree (sun az/zen),
    the exitance cosine is the NADIR view angle cos(slope) =
    1/sqrt(1+|grad|^2) (the reference workflow's view-angle image for a
    nadir sensor), irradiance comes from the per-pixel elevation LUT
    ladder (calc_irradiance_image_elev_lut analog), and the data mask
    is the self-shadow test cosi <= 0 at a LOW sun (the param enters
    the pinned tree as sin(zenith), i.e. GDAL-altitude convention, so
    30 deg = 30 deg solar altitude — low enough that the DEM plateau
    scarps self-shadow) — so BOTH branches (lit + shade) populate on
    the synthetic corpus.  All constants folded
    driver-side; per-pixel ops mirrored term-for-term in the oracle;
    outputs 2^20-quantized integer aggregates."""
    from .elevation import dem_plane, hillshade_consts, horn_gradients

    SZ, CZ, K1, K2 = hillshade_consts(azimuth, zenith)
    R8 = 8.0 * res
    c45 = sd2010_consts(out_inc, out_exit)
    elevs = [e for e, *_ in irr_lut]
    mids = [(elevs[i] + elevs[i + 1]) // 2 for i in range(len(irr_lut) - 1)]
    # (direct, diffuse*beta, total) folded per rung
    rungs = [(d, f * beta, d + f + e_) for _, d, f, e_ in irr_lut]

    def per_image(out, image_id, v):
        h, w = v.shape
        x = np.arange(int(w), dtype=np.int64)[None, :]
        y = np.arange(int(h), dtype=np.int64)[:, None]
        e = dem_plane(v, x, y)
        gx, gy = horn_gradients(e)
        vc = v[1:-1, 1:-1]
        ec = e[1:-1, 1:-1]
        dx = gx / R8
        dy = -gy / R8
        den = np.sqrt(1.0 + (dx * dx + dy * dy))
        cosi = (SZ - CZ * (dy * K1 - dx * K2)) / den
        cose = 1.0 / den
        gamma = (cosi + cose) / c45
        idx = np.zeros_like(ec)
        for m in mids:
            idx += (ec > m)
        outv = np.zeros(ec.shape, dtype=np.float64)
        for li, (dirv, difb, totv) in enumerate(rungs):
            sel = idx == li
            lv = (vc[sel] / scale) * totv
            o = lv / (dirv * gamma[sel] + difb) * scale
            outv[sel] = np.where(o < 1.0, 1.0, o)
        shade = cosi <= 0.0
        outv[shade] = 0.0
        q = np.floor(outv * 1048576.0).astype(np.int64)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(q.size))
        out["n_shade"].append(int(shade.sum()))
        out["sum_sd_q"].append(int(q.sum()))
        out["min_sd_q"].append(int(q.min()))
        out["max_sd_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _SD_SCHEMA, dtype=np.int64)


# --------------------------------------------------------------------------
# apply_6s_coeff_elev_aot_lut_param — the 2-D (elevation x AOT) LUT
# --------------------------------------------------------------------------

#: (elev_m, ((aot, aX, bX, cX), ...)) — one AOT sub-LUT per elevation
#: rung (LUT6SBaseElevAOT, src/calibration/RSGISApply6SCoefficients.h).
LUT_6S_ELEV_AOT = (
    (0,   ((0.10, 0.0021, 0.31, 0.041), (0.25, 0.0022, 0.33, 0.043),
           (0.40, 0.0023, 0.35, 0.045))),
    (60,  ((0.10, 0.0024, 0.28, 0.038), (0.25, 0.0025, 0.30, 0.040),
           (0.40, 0.0026, 0.32, 0.042))),
    (120, ((0.10, 0.0027, 0.25, 0.034), (0.25, 0.0028, 0.27, 0.036),
           (0.40, 0.0029, 0.29, 0.038))),
    (180, ((0.10, 0.0030, 0.22, 0.031), (0.25, 0.0031, 0.24, 0.033),
           (0.40, 0.0032, 0.26, 0.035))),
)

#: synthetic per-pixel AOT plane: 9 levels 0.05..0.45 from exact
#: integer arithmetic (the AOT input image of the reference workflow)
AOT_LEVELS = tuple(0.05 + 0.05 * m for m in range(9))


def aot_m_np(v: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """integer AOT-level selector plane (0..8), exact in every engine"""
    return (v + 3 * x + 5 * y) % 9


def aot_m_sql(v: str, x: str = "x", y: str = "y") -> str:
    return f"((({v}) + 3 * ({x}) + 5 * ({y})) % 9)"


def aot_nearest_ladder(aots) -> tuple:
    """m-level -> nearest AOT index (squared distance, strict <, first
    index wins ties — the C++ scan order), folded driver-side into an
    exact integer lookup table."""
    out = []
    for lvl in AOT_LEVELS:
        best, bd = 0, None
        for i, a in enumerate(aots):
            d = (a - lvl) * (a - lvl)
            if bd is None or d < bd:
                best, bd = i, d
        out.append(best)
    return tuple(out)


_S6A_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("cell_idx", LongType()),
    StructField("n_pix", LongType()),
    StructField("n_nodata", LongType()),
    StructField("sum_sref_q", LongType()),
    StructField("min_sref_q", LongType()),
    StructField("max_sref_q", LongType()),
])


def sref_6s_elev_aot_stats(images: DataFrame, lut=LUT_6S_ELEV_AOT,
                           scale: float = 1000.0) -> DataFrame:
    """imagecalibration.apply_6s_coeff_elev_aot_lut_param
    (python/src/imagecalibration.cpp:705; core RSGISApply6S-
    CoefficientsElevAOTLUTParam::calcImageValue, src/calibration/
    RSGISApply6SCoefficients.cpp:310-436): nearest elevation rung, then
    nearest AOT entry INSIDE that rung (both squared-distance scans,
    strict <, first index wins ties), then the standard 6S tree with
    the noDataVal==0 lift (<1 -> 1 else +1) and the scale clamp;
    all-zero-DN pixels emit 0 (nodata branch).  Elevation = the
    synthetic DEM plane, AOT = the 9-level synthetic AOT plane; both
    nearest scans fold driver-side into exact integer ladders.  Output
    grouped per (image, elev*nAOT + aot) cell so every exercised 2-D
    LUT cell is hash-visible."""
    from .elevation import dem_plane

    elevs = [e for e, _ in lut]
    mids = [(elevs[i] + elevs[i + 1]) // 2 for i in range(len(lut) - 1)]
    n_aot = len(lut[0][1])
    # per elev rung: the m-level -> aot index ladder + coeff triples
    rung_ladders = [aot_nearest_ladder([a for a, *_ in sub])
                    for _, sub in lut]
    coeffs = [[(A, B, C) for _, A, B, C in sub] for _, sub in lut]

    def per_image(out, image_id, v):
        h, w = v.shape
        x = np.arange(int(w), dtype=np.int64)[None, :]
        y = np.arange(int(h), dtype=np.int64)[:, None]
        e = dem_plane(v, x, y)
        m = aot_m_np(v, x, y)
        eidx = np.zeros_like(e)
        for mm in mids:
            eidx += (e > mm)
        nodata = v == 0
        for ei in range(len(lut)):
            lad = rung_ladders[ei]
            aidx = np.take(np.asarray(lad, dtype=np.int64), m)
            for ai in range(n_aot):
                sel = (eidx == ei) & (aidx == ai)
                cell = ei * n_aot + ai
                n = int(sel.sum())
                out["image_id"].append(image_id)
                out["cell_idx"].append(cell)
                out["n_pix"].append(n)
                if n == 0:
                    out["n_nodata"].append(-1)
                    out["sum_sref_q"].append(-1)
                    out["min_sref_q"].append(-1)
                    out["max_sref_q"].append(-1)
                    continue
                A, B, C = coeffs[ei][ai]
                dn = v[sel]
                yv = A * dn - B
                t = (yv / (1.0 + C * yv)) * scale
                o1 = np.where(t < 1.0, 1.0, t + 1.0)
                o2 = np.where(o1 > scale, scale, o1)
                res = np.where(nodata[sel], 0.0, o2)
                q = np.floor(res * 1048576.0).astype(np.int64)
                out["n_nodata"].append(int(nodata[sel].sum()))
                out["sum_sref_q"].append(int(q.sum()))
                out["min_sref_q"].append(int(q.min()))
                out["max_sref_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _S6A_SCHEMA, dtype=np.int64)


_S6I_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_pix", LongType()),
    StructField("sum_sref_q", LongType()),
    StructField("min_sref_q", LongType()),
    StructField("max_sref_q", LongType()),
])


def sref_6s_lut_interp_stats(images: DataFrame, lut=LUT_6S,
                             scale: float = 1000.0) -> DataFrame:
    """The elevation-LUT LINEAR INTERPOLATION variant (the branch
    sref_6s_lut documented as omitted): RSGISApply6SCoefficients-
    ElevLUTParam::calcImageValue with lut.size() > 1 (src/calibration/
    RSGISApply6SCoefficients.cpp:205-270) — second entry chosen by the
    reference's rule (first rung -> +1, last -> -1, else the sign of
    elev - nearest.elev), proportions 1 - |elev - e_i| / |e1 - e2|,
    out = refl1*prop1 + refl2*prop2, then the noDataVal==0 lift and
    scale clamp.  Integer rung selection; float tree mirrored
    term-for-term in the oracle."""
    from .elevation import dem_plane

    elevs = np.asarray([e for e, *_ in lut], dtype=np.int64)
    mids = [(int(elevs[i]) + int(elevs[i + 1])) // 2
            for i in range(len(lut) - 1)]
    As = np.asarray([a for _, a, _, _ in lut])
    Bs = np.asarray([b for _, _, b, _ in lut])
    Cs = np.asarray([c for _, _, _, c in lut])
    last = len(lut) - 1

    def per_image(out, image_id, v):
        h, w = v.shape
        x = np.arange(int(w), dtype=np.int64)[None, :]
        y = np.arange(int(h), dtype=np.int64)[:, None]
        e = dem_plane(v, x, y)
        idx = np.zeros_like(e)
        for mm in mids:
            idx += (e > mm)
        # reference's second-entry rule
        idx2 = np.where(idx == 0, 1,
                        np.where(idx == last, last - 1,
                                 np.where(e - np.take(elevs, idx) < 0,
                                          idx - 1, idx + 1)))
        e1 = np.take(elevs, idx)
        e2 = np.take(elevs, idx2)
        d12 = np.abs(e1 - e2)
        p1 = 1.0 - (np.abs(e - e1) / d12)
        p2 = 1.0 - (np.abs(e - e2) / d12)
        t1 = np.take(As, idx) * v - np.take(Bs, idx)
        r1 = (t1 / (1.0 + np.take(Cs, idx) * t1)) * scale
        t2 = np.take(As, idx2) * v - np.take(Bs, idx2)
        r2 = (t2 / (1.0 + np.take(Cs, idx2) * t2)) * scale
        o = (r1 * p1) + (r2 * p2)
        o1 = np.where(o < 1.0, 1.0, o + 1.0)
        o2 = np.where(o1 > scale, scale, o1)
        q = np.floor(o2 * 1048576.0).astype(np.int64)
        out["image_id"].append(image_id)
        out["n_pix"].append(int(q.size))
        out["sum_sref_q"].append(int(q.sum()))
        out["min_sref_q"].append(int(q.min()))
        out["max_sref_q"].append(int(q.max()))

    return codec.map_images(images, per_image, _S6I_SCHEMA, dtype=np.int64)
