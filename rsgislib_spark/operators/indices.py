"""Spectral-index family (reference ``imagecalc/calcindices.py``).

Covers, in ONE decoded Arrow pass per image: calc_ndwi (:127),
calc_gndvi (:723), calc_ndsi (:445), calc_nbr (:483), calc_wbi (:84),
calc_whiteness (:253), calc_brightness (:294), calc_bai (:521),
calc_ctvi (:409), calc_evi (:619), calc_evi2 (:676) and calc_mvi
(:572) — the band-ratio expressions the reference feeds to muParser
``band_math`` with a ``den != 0 ? expr : -999`` guard.

Band model (single-plane payloads; same convention as
``imagemath._BAND_DERIVS``): blue = the plane, green = horizontal
mirror, red = vertical flip, nir = 180° rotation, swir = intensity
negation (pmax-1-v).  All five are closed-form in (id, x, y, fmt), so
the DuckDB oracle enumerates them exactly.

Determinism: every index is rationalised to (exact int numerator) /
(exact int denominator) — ONE correctly-rounded IEEE division — then
quantised ``floor(idx * 2^20)`` and aggregated as exact int64 sums
(NOTES lessons: order-free float sums via per-term quantisation).
Non-dyadic reference constants are cleared by scaling both sides:
EVI's ``2.5*(n'-r')/(n'+6r'-7.5b'+1)`` over 0.001-scaled reflectances
becomes ``5*(nir-red) / (2*nir+12*red-15*blue+2000)``; EVI2 becomes
``25*(nir-red) / (10*nir+24*red+10000)``; BAI's
``1/((0.1-r')^2+(0.06-n')^2)`` becomes
``10^6 / ((100-red)^2+(60-nir)^2)``.  Two reference quirks are
documented rather than reproduced: calc_evi's expression string
carries typographic en-dashes (muParser parse error as shipped) and
calc_mvi's ``nir-green/swir-green`` parses as
``nir-(green/swir)-green`` under muParser precedence — we compute the
formulas the docstrings intend, with the reference's -999 guard on
every zero denominator.

Brightness keeps the reference's float shape (three /1000 divisions,
left-associated sum, /3) — each step is a correctly-rounded IEEE op on
identical inputs, hence bit-equal across engines (NOTES lesson 19).
CTVI is ``sign(ndvi+0.5)*sqrt(|ndvi+0.5|)`` — add and sqrt are single
correctly-rounded ops on the one-division NDVI.

Scale shape: one mapInArrow over late-materialised payloads, 14
int64 columns out per image, pixels never cross a shuffle.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .. import synth
from ..functions import codec

_Q = 1048576.0  # 2^20 per-term quantiser (exact power-of-two multiply)
_GUARD = -999.0

_IDX_COLS = ("ndwi", "gndvi", "ndsi", "nbr", "wbi", "white",
             "bright", "bai", "ctvi", "evi", "evi2", "mvi")

_SCHEMA = StructType(
    [StructField("image_id", StringType()), StructField("n_pix", LongType())]
    + [StructField(f"s_{c}", LongType()) for c in _IDX_COLS]
    + [StructField("mn_ndwi", LongType()), StructField("mx_ndwi", LongType())])


def _ratio(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    """(int num)/(int den) as ONE IEEE division; den==0 -> -999."""
    z = den == 0
    return np.where(z, _GUARD, num / np.where(z, 1, den))


def _index_planes(v: np.ndarray, pmax: int) -> dict[str, np.ndarray]:
    blue = v
    green = v[:, ::-1]
    red = v[::-1, :]
    nir = v[::-1, ::-1]
    swir = pmax - 1 - v

    out = {}
    out["ndwi"] = _ratio(green - nir, green + nir)
    out["gndvi"] = _ratio(nir - green, nir + green)
    out["ndsi"] = _ratio(green - swir, green + swir)
    out["nbr"] = _ratio(nir - swir, nir + swir)
    out["wbi"] = _ratio(blue, nir + 0)  # guard: nir == 0
    s = blue + green + red
    out["white"] = _ratio(np.abs(3 * blue - s) + np.abs(3 * green - s)
                          + np.abs(3 * red - s), s)
    zs = s == 0
    bright = (blue / 1000.0 + green / 1000.0 + red / 1000.0) / 3.0
    out["bright"] = np.where(zs, _GUARD, bright)
    out["bai"] = _ratio(np.full_like(v, 1000000),
                        (100 - red) ** 2 + (60 - nir) ** 2)
    nd_den = nir + red
    ndz = nd_den == 0
    x = np.where(ndz, 1.0, (nir - red) / np.where(ndz, 1, nd_den)) + 0.5
    out["ctvi"] = np.where(ndz, _GUARD, np.sign(x) * np.sqrt(np.abs(x)))
    out["evi"] = _ratio(5 * (nir - red),
                        2 * nir + 12 * red - 15 * blue + 2000)
    out["evi2"] = _ratio(25 * (nir - red), 10 * nir + 24 * red + 10000)
    out["mvi"] = _ratio(nir - green, swir - green)
    return out


def spectral_indices_stats(images: DataFrame) -> DataFrame:
    """Per-image quantised sums of the 12-index family (see module doc).

    Output: ``image_id, n_pix, s_<idx> (floor(idx*2^20) int64 sums)``
    plus ``mn_ndwi / mx_ndwi`` representative bounds.
    """

    def per_image(rows, image_id, arr, fmt):
        planes = _index_planes(arr, synth.pmax(fmt))
        rows["image_id"].append(str(image_id))
        rows["n_pix"].append(int(arr.size))
        for c in _IDX_COLS:
            q = np.floor(planes[c] * _Q).astype(np.int64)
            rows[f"s_{c}"].append(int(q.sum()))
            if c == "ndwi":
                rows["mn_ndwi"].append(int(q.min()))
                rows["mx_ndwi"].append(int(q.max()))

    return codec.map_images(images, per_image, _SCHEMA,
                            extra_cols=("fmt",), dtype=np.int64)
