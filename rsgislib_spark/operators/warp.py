"""Cross-CRS raster warp: ``resample_img_to_match`` re-expressed for Spark.

Reference: ``resample_img_to_match`` (python/rsgislib/imageutils/
__init__.py:2104-2214) warps a "process" image onto the grid *and* CRS of
a reference image via ``gdal.Warp`` — the output grid is the reference
image's grid (``create_copy_img``), every output pixel is inverse-mapped
into the process image's CRS, and the value is sampled there with the
chosen kernel (GRA_NearestNeighbour default; GRA_Bilinear etc.), writing
``no_data_val`` outside the source footprint.  ``reproject_image``
(ibid.:2210-2451) is the same inverse-mapping warp with an explicit
target CRS.

Spark shape — a SINGLE zero-shuffle Arrow pass per image:

1. the target reference grid is derived per image (forward transverse-
   Mercator projection of the image anchor, then a fixed out_w x out_h
   metre grid centred there — the synthetic analog of "the reference
   image's grid");
2. every output pixel centre is inverse-projected (Snyder series,
   ``geo/transverse_mercator.tm_inverse_steps``) back to lon/lat and
   mapped into source pixel coordinates;
3. the kernel samples the *decoded* payload (nearest-neighbour, or
   bilinear with edge pixels -> nodata) and emits per-image
   integer-exact aggregates (count / sum / position-weighted checksum /
   min / max) — nothing per-pixel ever becomes a row and the payload
   never crosses an Exchange.  Embarrassingly parallel across images:
   the shape survives 10^12 images unchanged.

Determinism contract (what makes the DuckDB oracle exact): the whole
coordinate chain — window remap, forward series, grid origin, inverse
series, source-pixel mapping — is *generated once as SQL text* and then

* the oracle evaluates that text as chained DuckDB projections
  (:func:`rsgislib_spark.oracles._sql_chain`), while
* the engine evaluates the IDENTICAL text with numpy via
  :func:`run_steps_np` — same literals, same operation order, IEEE-754
  double semantics on both sides, so every floored pixel index matches
  bit-for-bit (proven in tests/test_warp.py against DuckDB directly).

Only the comparisons (in-bounds tests) and the sampling itself happen
outside the shared text; both are exact given identical indices.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions import codec
from ..geo.transverse_mercator import (dlit, epsg_tm_params,
                                       tm_forward_steps, tm_inverse_steps)
from ..synth import IMG_RES_DEG

__all__ = ["np_eval_sql", "run_steps_np", "warp_exprs", "warp_img_stats",
           "WARP_WINDOWS", "QUANT"]

#: series-validity remap window per TM EPSG: (lon0, lon_span, lat0,
#: lat_span) — the same exact-fmod remap spelling as the reproj_epsg
#: query (queries.py q_reproj_epsg), bit-identical in every engine.
WARP_WINDOWS = {
    27700: (-12.0, 20.0, 40.0, 15.0),
    32632: (3.0, 12.0, -55.0, 125.0),
}

#: bilinear values are quantized to integers before aggregation so sums
#: are order-free (same 2^20 scale as the pixel_locations oracle).
QUANT = 1048576.0

_CAST_D = re.compile(r"CAST\(([^()]*?) AS DOUBLE\)")


def _np_f64(x):
    return np.asarray(x, dtype=np.float64)


def np_eval_sql(expr: str, env: dict):
    """Evaluate generated projection SQL text with numpy.

    Supports exactly the grammar our step generators emit: + - * / %
    parentheses, ``sqrt(..)``, ``floor(..)``, ``CAST(<literal-or-name>
    AS DOUBLE)`` (no nested parens inside the CAST — StepBuilder text
    never produces any), and ``//`` integer division.  ``%`` maps to
    Python/numpy ``%``; for the non-negative dividends every generated
    window remap produces, that equals SQL fmod, and integer ``k %
    out_w`` is sign-free too.  Python and SQL share precedence and left
    associativity for this grammar, so the IEEE operation order is
    identical to DuckDB's evaluation of the same text.
    """
    t = _CAST_D.sub(r"np_f64(\1)", expr)
    t = re.sub(r"\bsqrt\(", "np.sqrt(", t)
    t = re.sub(r"\bfloor\(", "np.floor(", t)
    return eval(t, {"np": np, "np_f64": _np_f64, "__builtins__": {}}, env)


def run_steps_np(steps, env: dict) -> dict:
    """Evaluate (name, sql_text) steps sequentially — the numpy analog of
    chained projection columns.  Returns env extended with every step."""
    env = dict(env)
    for name, expr in steps:
        env[name] = np_eval_sql(expr, env)
    return env


def warp_exprs(epsg: int, out_w: int, out_h: int, out_res: float,
               kernel: str = "nn"):
    """(img_steps, px_steps, extras) — the shared SQL-text pipeline.

    ``img_steps`` run once per image over columns (lon, lat): the window
    remap, the forward series, and the target-grid origin (__wgox,
    __wgoy = projected top-left corner of the out_w x out_h reference
    grid centred on the image anchor).

    ``px_steps`` run once per output pixel over columns (k, rlon, rlat,
    __wgox, __wgoy): output-pixel centre -> inverse series -> fractional
    source pixel coordinates, ending at

    * kernel "nn":       __wsx, __wsy   (floored source indices, DOUBLE)
    * kernel "bilinear": __wi0/__wj0 (floored top-left of the 2x2
      support) and __wfx/__wfy (fractional weights), plus
      ``extras["interp"]`` — the interpolation expression over sampled
      values v00/v10/v01/v11 — and ``extras["quant"]``.
    """
    if epsg not in WARP_WINDOWS:
        raise ValueError(f"no remap window registered for EPSG:{epsg}")
    lon0, lon_span, lat0, lat_span = WARP_WINDOWS[epsg]
    p = epsg_tm_params(epsg)
    fsteps, fe, fn = tm_forward_steps("rlon", "rlat", p, pfx="__wf")
    img_steps = [
        ("rlon", f"CAST({lon0} AS DOUBLE) + ((lon + 180.0) % {lon_span})"),
        ("rlat", f"CAST({lat0} AS DOUBLE) + ((lat + 60.0) % {lat_span})"),
    ] + fsteps + [
        ("__wgfx", fe),
        ("__wgfy", fn),
        ("__wgox", f"(__wgfx - {dlit(out_w * out_res / 2.0)})"),
        ("__wgoy", f"(__wgfy + {dlit(out_h * out_res / 2.0)})"),
    ]
    isteps, ilon, ilat = tm_inverse_steps("__wppe", "__wppn", p, pfx="__wi")
    px_steps = [
        ("__wpox", f"CAST(k % {out_w} AS DOUBLE)"),
        ("__wpoy", f"CAST(k // {out_w} AS DOUBLE)"),
        ("__wppe", f"(__wgox + (__wpox + 0.5) * {dlit(out_res)})"),
        ("__wppn", f"(__wgoy - (__wpoy + 0.5) * {dlit(out_res)})"),
    ] + isteps + [
        ("__wlon", ilon),
        ("__wlat", ilat),
        ("__wsxf", f"((__wlon - rlon) / {dlit(IMG_RES_DEG)})"),
        ("__wsyf", f"((rlat - __wlat) / {dlit(IMG_RES_DEG)})"),
    ]
    extras = {}
    if kernel == "nn":
        px_steps += [("__wsx", "floor(__wsxf)"), ("__wsy", "floor(__wsyf)")]
    elif kernel == "bilinear":
        px_steps += [
            ("__wu", "(__wsxf - 0.5)"),
            ("__wv", "(__wsyf - 0.5)"),
            ("__wi0", "floor(__wu)"),
            ("__wj0", "floor(__wv)"),
            ("__wfx", "(__wu - __wi0)"),
            ("__wfy", "(__wv - __wj0)"),
        ]
        # one fixed spelling of bilinear, shared verbatim by both
        # engines (fully parenthesized => identical IEEE order)
        extras["interp"] = (
            "(((v00 + (__wfx * (v10 - v00))) + (__wfy * (v01 - v00)))"
            " + ((__wfx * __wfy) * (((v00 - v10) - v01) + v11)))"
        )
        extras["quant"] = f"floor({extras['interp']} * {dlit(QUANT)})"
    else:
        raise ValueError(f"unknown warp kernel {kernel!r}")
    return img_steps, px_steps, extras


_NN_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_valid", LongType()),
    StructField("sum_warp", LongType()),
    StructField("chk_warp", LongType()),
    StructField("min_warp", LongType()),
    StructField("max_warp", LongType()),
])

_BL_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_valid", LongType()),
    StructField("sum_q", LongType()),
    StructField("chk_q", LongType()),
])


def warp_img_stats(images: DataFrame, epsg: int = 27700, out_w: int = 24,
                   out_h: int = 18, out_res: float = 150.0,
                   kernel: str = "nn", nodata: int = 0) -> DataFrame:
    """Warp every image onto its per-image reference grid in EPSG:``epsg``
    and aggregate the warped plane (one row per image).

    ``images`` needs (image_id, bytes, w, h, fmt, lon, lat).  Kernels:

    * ``nn`` — GDAL GRA_NearestNeighbour semantics: the source pixel
      containing the inverse-mapped point; outside the footprint counts
      as nodata (excluded from n_valid/sum; chk position slot carries 0).
    * ``bilinear`` — GRA_Bilinear over the 2x2 support; output pixels
      whose support is not fully interior are nodata (GDAL consults
      partial support at edges — documented divergence, the interior is
      identical), values quantized at 2^20 so sums stay integer-exact.
    """
    img_steps, px_steps, extras = warp_exprs(epsg, out_w, out_h, out_res,
                                             kernel)
    K = out_w * out_h
    bilinear = kernel == "bilinear"
    schema = _BL_SCHEMA if bilinear else _NN_SCHEMA

    def warp_img_stats(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            env = run_steps_np(img_steps, {
                c: np.asarray(batch.column(c).to_pylist(), np.float64)
                for c in ("lon", "lat")})
            kcol = np.tile(np.arange(K, dtype=np.int64), n)
            penv = run_steps_np(px_steps, {
                "k": kcol,
                "rlon": np.repeat(env["rlon"], K),
                "rlat": np.repeat(env["rlat"], K),
                "__wgox": np.repeat(env["__wgox"], K),
                "__wgoy": np.repeat(env["__wgoy"], K),
            })
            out = {f.name: [] for f in schema.fields}
            kw = np.arange(K, dtype=np.int64) + 1  # position weights
            for i, (image_id, arr) in enumerate(
                    codec.planes(batch, dtype=np.int64)):
                h, w = arr.shape
                sl = slice(i * K, (i + 1) * K)
                out["image_id"].append(image_id)
                if bilinear:
                    i0 = penv["__wi0"][sl]
                    j0 = penv["__wj0"][sl]
                    ok = ((i0 >= 0.0) & (i0 <= float(w - 2))
                          & (j0 >= 0.0) & (j0 <= float(h - 2)))
                    ii = i0[ok].astype(np.int64)
                    jj = j0[ok].astype(np.int64)
                    venv = {
                        "v00": arr[jj, ii].astype(np.float64),
                        "v10": arr[jj, ii + 1].astype(np.float64),
                        "v01": arr[jj + 1, ii].astype(np.float64),
                        "v11": arr[jj + 1, ii + 1].astype(np.float64),
                        "__wfx": penv["__wfx"][sl][ok],
                        "__wfy": penv["__wfy"][sl][ok],
                    }
                    q = np_eval_sql(extras["quant"], venv).astype(np.int64)
                    out["n_valid"].append(int(ok.sum()))
                    out["sum_q"].append(int(q.sum()))
                    out["chk_q"].append(int((kw[ok] * q).sum()))
                else:
                    sx = penv["__wsx"][sl]
                    sy = penv["__wsy"][sl]
                    ok = ((sx >= 0.0) & (sx <= float(w - 1))
                          & (sy >= 0.0) & (sy <= float(h - 1)))
                    v = arr[sy[ok].astype(np.int64), sx[ok].astype(np.int64)]
                    out["n_valid"].append(int(ok.sum()))
                    out["sum_warp"].append(int(v.sum()))
                    out["chk_warp"].append(int((kw[ok] * (v + 1)).sum()))
                    out["min_warp"].append(int(v.min()) if v.size else nodata)
                    out["max_warp"].append(int(v.max()) if v.size else nodata)
            yield codec.to_batch(out, schema)

    return images.select(*codec.IMAGE_COLS, "lon", "lat") \
        .mapInArrow(warp_img_stats, schema=schema)
