"""imageutils utility family.

Reference (python/rsgislib/imageutils/__init__.py):

* ``calc_pixel_locations``   (:2681) — 2-band X/Y pixel-centre world
  coordinate planes (RIOS getBlockCoordArrays).
* ``do_images_overlap``      (:2778) — bbox overlap test with the
  reference's min/max corner update rule and ``over_thres``.
* ``extract_img_pxl_sample`` (:2949) — every n-th valid pixel in
  row-major order (RIOS block flatten; our images fit one block).
* ``assign_random_pxls``     (:3665) — n random in-bounds pixels with
  an edge buffer, rejecting nodata.  numpy's seeded MT is not
  SQL-expressible; the documented engine variant draws candidates from
  a deterministic integer hash sequence and takes the first n valid —
  same rejection semantics, reproducible everywhere.
* ``calc_wsg84_pixel_size``  (:4193) — per-pixel X/Y resolution in
  metres via tools.projection.degrees_to_metres (projection.py:66),
  constant along each image row.  Trig through the repo's polynomial
  sin/cos (bit-exact across engines, see geo/transverse_mercator);
  ``Rsq**1.5`` is pinned as ``Rsq * sqrt(Rsq)`` (algebraically equal,
  both correctly-rounded).

Everything except the two payload-reading ops is pure Catalyst on the
metadata table — zero payload decode, zero shuffle beyond the final
aggregate.
"""
import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ..functions import codec
from ..geo.transverse_mercator import (_COS_C, _SIN_C, _horner, dlit,
                                       StepBuilder)

__all__ = ["pixel_locations_stats", "imgs_overlap_pairs",
           "pxl_sample_stats", "rand_pxls_stats",
           "wgs84_pxl_size_steps", "RES_DEG"]

RES_DEG = 0.001
_RES = dlit(RES_DEG)
_QS = "1048576.0"


def pixel_locations_stats(images: DataFrame) -> DataFrame:
    """calc_pixel_locations: X plane depends only on the column index
    and Y only on the row index, so the per-image quantised plane sums
    fold to (h * sum over x) and (w * sum over y) — exact integers,
    no explode, no shuffle beyond the projection."""
    xq = (f"floor((lon + (CAST(x AS DOUBLE) + CAST(0.5 AS DOUBLE))"
          f" * {_RES}) * {_QS})")
    yq = (f"floor((lat - (CAST(y AS DOUBLE) + CAST(0.5 AS DOUBLE))"
          f" * {_RES}) * {_QS})")
    return images.selectExpr(
        "image_id",
        "CAST(w AS BIGINT) * h AS n_pix",
        f"h * aggregate(sequence(0, w - 1), CAST(0 AS BIGINT),"
        f" (acc, x) -> acc + CAST({xq} AS BIGINT)) AS sum_xq",
        f"w * aggregate(sequence(0, h - 1), CAST(0 AS BIGINT),"
        f" (acc, y) -> acc + CAST({yq} AS BIGINT)) AS sum_yq")


def imgs_overlap_pairs(images_a: DataFrame, images_b: DataFrame,
                       over_thres: float = 0.0) -> DataFrame:
    """do_images_overlap over same-1°-cell candidate pairs (a.id <
    b.id): the reference's corner update rule (TL/BR from the
    geotransform, if-chain == greatest/least on doubles) and the
    ``<= over_thres`` non-overlap test.  The cell equi-join keeps the
    pair population bounded; most same-cell pairs do NOT overlap, so
    both outcomes occur."""
    def corners(df, p):
        return df.selectExpr(
            f"id AS {p}id", f"image_id AS {p}image_id",
            f"lon AS {p}tlx", f"lat AS {p}tly",
            f"lon + w * {_RES} AS {p}brx",
            f"lat - h * {_RES} AS {p}bry",
            f"CAST(floor(lon) AS BIGINT) AS {p}cx",
            f"CAST(floor(lat) AS BIGINT) AS {p}cy")

    a = corners(images_a, "a_")
    b = corners(images_b, "b_")
    j = a.join(b, on=[F.expr("a_cx = b_cx"), F.expr("a_cy = b_cy"),
                      F.expr("a_id < b_id")])
    thres = dlit(over_thres)
    return j.selectExpr(
        "a_image_id", "b_image_id",
        "greatest(a_tlx, b_tlx) AS ixmin",
        "least(a_brx, b_brx) AS ixmax",
        "greatest(a_bry, b_bry) AS iymin",
        "least(a_tly, b_tly) AS iymax",
        f"CAST(CASE WHEN (least(a_brx, b_brx) - greatest(a_tlx, b_tlx)"
        f" <= {thres}) OR (least(a_tly, b_tly) - greatest(a_bry, b_bry)"
        f" <= {thres}) THEN 0 ELSE 1 END AS BIGINT) AS overlaps")


_SAMP_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_valid", LongType()),
    StructField("n_samp", LongType()),
    StructField("sum_samp", LongType()),
    StructField("min_samp", LongType()),
    StructField("max_samp", LongType()),
])

SAMPLE_STEP = 50
SAMPLE_NODATA = 7


def pxl_sample_stats(images: DataFrame) -> DataFrame:
    """extract_img_pxl_sample: flatten row-major, drop nodata, take
    indices {0, s, 2s, ..., (n//s - 1)*s} of the valid subsequence
    (the reference's arange(n//s)*s)."""

    def per_image(out, image_id, v):
        v = v.ravel()
        valid = v[v != SAMPLE_NODATA]
        n = valid.size
        ns = n // SAMPLE_STEP
        if ns == 0:
            return
        samp = valid[np.arange(ns) * SAMPLE_STEP]
        out["image_id"].append(image_id)
        out["n_valid"].append(int(n))
        out["n_samp"].append(int(ns))
        out["sum_samp"].append(int(samp.sum()))
        out["min_samp"].append(int(samp.min()))
        out["max_samp"].append(int(samp.max()))

    return codec.map_images(images, per_image, _SAMP_SCHEMA, dtype=np.int64)


_RAND_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("rnk", LongType()),
    StructField("x", LongType()),
    StructField("y", LongType()),
    StructField("v", LongType()),
])

RAND_N_PTS = 20
RAND_EDGE = 2
RAND_K = 64
_RMX = 2654435761
_RMY = 40503


def rand_pxls_stats(images: DataFrame) -> DataFrame:
    """assign_random_pxls (n_pts=20, edge_pxl=2, use_no_data=True):
    candidate k -> (x, y) = (hash_x(k, id) in [edge, w-edge),
    hash_y(k, id) in [edge, h-edge)); first 20 candidates whose value
    is not nodata win (duplicates allowed, as with randint)."""

    def per_image(out, image_id, v, iid):
        h, w = v.shape
        iid = int(iid)
        rnk = 0
        for k in range(RAND_K):
            x = (k * _RMX + iid * 97) % (w - 2 * RAND_EDGE) \
                + RAND_EDGE
            y = (k * _RMY + iid * 31) % (h - 2 * RAND_EDGE) \
                + RAND_EDGE
            val = int(v[y, x])
            if val == SAMPLE_NODATA:
                continue
            rnk += 1
            out["image_id"].append(image_id)
            out["rnk"].append(rnk)
            out["x"].append(x)
            out["y"].append(y)
            out["v"].append(val)
            if rnk >= RAND_N_PTS:
                break

    return codec.map_images(images, per_image, _RAND_SCHEMA,
                            extra_cols=("id",), dtype=np.int64)


#: WGS84 semi-major / semi-minor (degrees_to_metres, projection.py:87)
_ELL_A = 6378137.0
_ELL_B = 6356752.314245
_D2R = math.pi / 180.0


def wgs84_pxl_size_steps(pfx: str = "__ws"):
    """degrees_to_metres at a row-centre latitude column ``lat_c``:
    returns (steps, x_size_expr, y_size_expr) via StepBuilder so Spark
    projects named steps while the oracle inlines the identical tree.

      radlat = lat_c * pi/180
      Rsq    = (a*cos)^2 + (b*sin)^2
      Mlat   = (a*b)^2 / (Rsq * sqrt(Rsq))     [Rsq**1.5 pinned]
      Nlon   = a^2 / sqrt(Rsq)
      x_size = pi/180 * cos * Nlon * res
      y_size = pi/180 * Mlat * res
    """
    b = StepBuilder(pfx)
    rad = b.add(f"(lat_c * {dlit(_D2R)})")
    x2 = b.add(f"({rad} * {rad})")
    c = b.add(_horner(x2, _COS_C))
    s = b.add(f"({rad} * {_horner(x2, _SIN_C)})")
    ac = b.add(f"({dlit(_ELL_A)} * {c})")
    bs = b.add(f"({dlit(_ELL_B)} * {s})")
    rsq = b.add(f"(({ac} * {ac}) + ({bs} * {bs}))")
    mlat = b.add(f"({dlit((_ELL_A * _ELL_B) ** 2)}"
                 f" / ({rsq} * sqrt({rsq})))")
    nlon = b.add(f"({dlit(_ELL_A * _ELL_A)} / sqrt({rsq}))")
    xs = b.add(f"((({dlit(_D2R)} * {c}) * {nlon}) * {_RES})")
    ys = b.add(f"(({dlit(_D2R)} * {mlat}) * {_RES})")
    return b.steps, xs, ys
