"""Zonal statistics: GROUP BY polygon over decoded pixels.

Re-expresses ``calc_zonal_band_stats`` (reference: python/rsgislib/
zonalstats/__init__.py:167-522): per zone, aggregate the raster pixels
whose centers fall inside the zone geometry (the reference rasterizes each
feature with GDAL — pixel-center-in-poly semantics — then masks by
nodata/min_thres/max_thres; aggregates are numpy min/max/mean/std
(population)/sum/count plus scipy-mode and numpy-median,
zonalstats/__init__.py:424-476; an empty pixel set writes
``out_no_data_val`` into every stat, :477-499).

Spark shape (SURVEY.md §3.3): instead of exploding pixels into rows,

1. candidate pairs: image footprints x zones joined on grid-cell rows
   (``spatial_join.cell_pairs``, broadcast zones), refined by strict
   bbox intersection;
2. per-image sparse value counts computed inside one Arrow pass over the
   image's decoded plane: one ``(zone_id, v, cnt)`` row per distinct
   pixel value of each candidate zone (``groupmode.pair_counts``), with
   no limit on the pixel value;
3. final per-zone merge: one grouped ``applyInArrow`` sums the counts of
   repeated values, and every statistic is *exact* from the zone's
   sorted distinct values and counts (moments, median, percentiles;
   mode ties resolve to the smallest value, the scipy.stats.mstats.mode
   convention the reference inherits).

Two shuffles total (candidate join is broadcast -> zero; final merge ->
one), independent of pixel count: the pixel volume never crosses the
network, only the sparse value-count partials do.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from ..functions import codec
from ..functions.groupmode import pair_counts
from ..geo.cellindex import DEFAULT_RES
from .spatial_join import _bbox_intersects, cell_pairs

__all__ = ["zonal_stats", "zonal_stats_poly", "zonal_stats_hybrid",
           "zonal_stats_weighted", "mask_by_vec_stats",
           "extract_point_values"]

_PARTIAL_SCHEMA = StructType([
    StructField("zone_id", LongType()),
    StructField("v", LongType()),
    StructField("cnt", LongType()),
])


_IMG_BOX = ("xmin", "xmax", "ymin", "ymax")
_ZONE_BOX = ("zxmin", "zxmax", "zymin", "zymax")


def _footprint_pairs(images: DataFrame, zones: DataFrame, zone_box,
                     res: int) -> DataFrame:
    """(image_id, zones' columns) for every image footprint strictly
    overlapping a zone's bbox, each pair once (zones broadcast)."""
    return cell_pairs(images.select("image_id", *_IMG_BOX), zones,
                      _IMG_BOX, zone_box, _bbox_intersects(_IMG_BOX, zone_box),
                      res=res).drop(*_IMG_BOX)


def _pair_work(pairs: DataFrame, images: DataFrame, salt_key: str,
               n_salt: int = 8) -> DataFrame:
    """Candidate pairs joined to their image's payload columns, laid out by
    (image, salt-of-``salt_key``): an image with many pairs fans across up
    to ``n_salt`` tasks instead of one straggler.  Each task decodes the
    image once; the kernels' outputs are order-independent, so salting
    cannot change results."""
    px_cols = images.select("image_id", "bytes", "w", "h", "fmt",
                            "xmin", "ymax")
    return pairs.join(px_cols, "image_id", "inner").repartition(
        F.col("image_id"),
        F.pmod(F.xxhash64(F.col(salt_key)), F.lit(int(n_salt))))


def _image_groups(batch, *pair_cols, dtype=np.int64):
    """``(image_id, plane, xmin, ymax, pairs)`` per image of an Arrow
    batch of (image, pair) rows: each image is decoded once, and
    ``pairs`` holds the ``pair_cols`` values of each of its rows."""
    groups = {}
    for i, image_id in enumerate(batch.column("image_id").to_pylist()):
        groups.setdefault(image_id, []).append(i)
    cols = [batch.column(c).to_pylist() for c in pair_cols]
    for rows in groups.values():
        image_id, plane, xmin, ymax = next(codec.planes(
            batch.slice(rows[0], 1), "xmin", "ymax", dtype=dtype))
        yield (image_id, plane, float(xmin), float(ymax),
               [tuple(c[i] for c in cols) for i in rows])


def _zone_counts(zone_vals):
    """One image's sparse ``(zone_id, v, cnt)`` arrays, from the (zone_id,
    int64 pixel values) of each of its candidate zones."""
    zones, vals = zip(*zone_vals)
    keys = np.repeat(np.asarray(zones, np.int64), [a.size for a in vals])
    return pair_counts(keys, np.concatenate(vals))


def _partial_batch(parts):
    """The Arrow batch of a kernel's :func:`_zone_counts` arrays."""
    cols = [np.concatenate(c) for c in zip(*parts)] if parts else [[]] * 3
    return codec.to_batch(dict(zip(_PARTIAL_SCHEMA.names, cols)),
                          _PARTIAL_SCHEMA)


def _pair_partials(batches, res_deg: float, min_thres: float,
                   max_thres: float, nodata, membership: str = "center"):
    """mapInArrow kernel: decode each image once, emit the sparse value
    counts of each (image, zone) candidate pair.  ``membership`` = the
    pixel-in-poly mode (reference enum src/img/RSGISPixelInPoly.h:48-60):

    * ``center`` — pixel-center-in-rect, half-open on the max edges
      (``polyContainsPixelCenter``, the default everywhere);
    * ``envelope`` — the pixel's BOX strictly overlaps the zone
      (``polyOverlapsPixel`` / envelope mode);
    * ``contains`` — the pixel's box lies fully inside the zone
      (``polyContainsPixel``);
    * ``overlaps_or_contains`` — GEOS ``Overlaps(poly, pixel) |
      Contains(poly, pixel)`` (``polyOverlapsOrContainsPixel``,
      RSGISPixelInPoly.cpp:63-74): interiors intersect AND NOT
      (pixel strictly contains the zone) — a pixel whose box swallows
      the whole zone is neither overlapped nor contained BY the zone;
    * ``pixel_contains_poly`` — the pixel box fully contains the zone
      (``pixelContainsPoly``, cpp:75-78);
    * ``pixel_contains_poly_center`` — the ZONE's centroid lies
      strictly inside the pixel box (``pixelContainsPolyCenter``;
      NOTE the reference's dispatch at cpp:84-92 computes the poly
      centroid then tests ``poly->Contains(centerPoint)`` — testing
      the polygon against its own centroid, a reference bug; we
      implement the enum's documented semantics "Polygon center is
      within pixel".  GEOS Contains excludes the boundary, hence the
      strict inequalities);
    * ``adaptive`` — per (image, zone) pair, pick by relative areas
      (``adaptive``, cpp:97-120): zone larger than a pixel ->
      ``contains``; zone smaller -> ``pixel_contains_poly``; equal ->
      ``center``.  (The reference's branch bodies are swapped —
      ``pixel->Contains(poly)`` for the LARGER poly, which is
      identically false; we implement the documented intent, matching
      the branch CONDITIONS exactly.)
    """
    for batch in batches:
        parts = []
        for _, arr, tlx, tly, pairs in _image_groups(
                batch, "zone_id", *_ZONE_BOX):
            zone_vals = []
            h, w = arr.shape
            cx = tlx + (np.arange(w) + 0.5) * res_deg          # pixel centers
            cy = tly - (np.arange(h) + 0.5) * res_deg
            if membership != "center":
                ex0 = tlx + np.arange(w) * res_deg             # box edges
                ex1 = tlx + (np.arange(w) + 1) * res_deg
                ey1 = tly - np.arange(h) * res_deg             # top edge
                ey0 = tly - (np.arange(h) + 1) * res_deg       # bottom edge
            for zone_id, zxmin, zxmax, zymin, zymax in pairs:
                mode = membership
                if mode == "adaptive":
                    # branch by relative areas, exactly the reference's
                    # conditions (RSGISPixelInPoly.cpp:97-120, factor=1)
                    zone_area = (zxmax - zxmin) * (zymax - zymin)
                    pixel_area = res_deg * res_deg
                    if zone_area > pixel_area:
                        mode = "contains"
                    elif zone_area < pixel_area:
                        mode = "pixel_contains_poly"
                    else:
                        mode = "center"
                if mode == "center":
                    in_x = (cx >= zxmin) & (cx < zxmax)
                    in_y = (cy >= zymin) & (cy < zymax)
                elif mode == "envelope":
                    in_x = (ex1 > zxmin) & (ex0 < zxmax)
                    in_y = (ey1 > zymin) & (ey0 < zymax)
                elif mode == "contains":
                    in_x = (ex0 >= zxmin) & (ex1 <= zxmax)
                    in_y = (ey0 >= zymin) & (ey1 <= zymax)
                elif mode == "pixel_contains_poly":
                    in_x = (ex0 <= zxmin) & (ex1 >= zxmax)
                    in_y = (ey0 <= zymin) & (ey1 >= zymax)
                elif mode == "pixel_contains_poly_center":
                    zcx = (zxmin + zxmax) / 2.0
                    zcy = (zymin + zymax) / 2.0
                    in_x = (ex0 < zcx) & (zcx < ex1)
                    in_y = (ey0 < zcy) & (zcy < ey1)
                elif mode == "overlaps_or_contains":
                    # Overlaps(z,p) | Contains(z,p) on rects reduces to:
                    # interiors intersect AND (pixel inside zone OR NOT
                    # zone inside pixel) — closed containment on both
                    # sides, so pixel == zone is included (GEOS
                    # Contains(A,A) is true) while a pixel that swallows
                    # the zone, even sharing an edge, is excluded.
                    # Evaluated per axis, combined on the 2-D grid.
                    ov_x = (ex1 > zxmin) & (ex0 < zxmax)
                    ov_y = (ey1 > zymin) & (ey0 < zymax)
                    pip_x = (ex0 >= zxmin) & (ex1 <= zxmax)
                    pip_y = (ey0 >= zymin) & (ey1 <= zymax)
                    zip_x = (ex0 <= zxmin) & (ex1 >= zxmax)
                    zip_y = (ey0 <= zymin) & (ey1 >= zymax)
                    keep = (np.outer(ov_y, ov_x)
                            & (np.outer(pip_y, pip_x)
                               | ~np.outer(zip_y, zip_x)))
                    vals = arr[keep]
                    in_x = None
                else:
                    raise ValueError(f"unknown membership {membership!r}")
                if in_x is not None:
                    sub = arr[np.ix_(in_y, in_x)]
                    vals = sub.ravel()
                if nodata is not None:
                    vals = vals[vals != nodata]
                zone_vals.append(
                    (zone_id, vals[(vals >= min_thres) & (vals <= max_thres)]))
            parts.append(_zone_counts(zone_vals))
        yield _partial_batch(parts)


_FINAL_SCHEMA = StructType([
    StructField("zone_id", LongType()),
    StructField("n_pix", DoubleType()),
    StructField("sum_pix", DoubleType()),
    StructField("min_pix", DoubleType()),
    StructField("max_pix", DoubleType()),
    StructField("mean_pix", DoubleType()),
    StructField("stddev_pix", DoubleType()),
    StructField("median_pix", DoubleType()),
    StructField("mode_pix", DoubleType()),
])

_FINAL_SCHEMA_P = StructType(
    _FINAL_SCHEMA.fields + [StructField("perc_pix", DoubleType())])


def _zone_hist_stats(partials: DataFrame,
                     percentile: float | None = None) -> DataFrame:
    """Per-zone stats of the sparse ``(zone_id, v, cnt)`` ``partials``:
    one grouped ``applyInArrow`` sums each zone's counts per distinct
    value.

    Every aggregate is exact from the sorted distinct values and their
    counts (moments included: sum = dot(v, cnt), sumsq = dot(v^2, cnt)),
    so the whole zonal pass needs exactly ONE shuffle (the per-zone
    merge).  Median = numpy convention (mean of the two central order
    statistics); mode = smallest modal value on ties
    (scipy.stats.mstats.mode, the reference's convention); percentile
    (when requested) = numpy.percentile linear interpolation between
    the bracketing order statistics — with a dyadic percentile (25/50/
    75) every intermediate is an exact double, so DuckDB's
    quantile_cont reproduces it bit-for-bit.
    """
    schema = _FINAL_SCHEMA if percentile is None else _FINAL_SCHEMA_P

    def finalize(table):
        vals, inv = np.unique(table.column("v").to_numpy(),
                              return_inverse=True)
        hist = np.zeros(vals.size, dtype=np.int64)
        np.add.at(hist, inv, table.column("cnt").to_numpy())
        n = int(hist.sum())
        s = int(np.dot(vals, hist))
        ss = int(np.dot(vals * vals, hist))
        mean = s / n
        cum = np.cumsum(hist)

        def at(rank):  # the value of 1-based ``rank`` in sorted order
            return int(vals[np.searchsorted(cum, rank)])

        out = {
            "zone_id": [table.column("zone_id")[0].as_py()],
            "n_pix": [float(n)],
            "sum_pix": [float(s)],
            "min_pix": [float(vals[0])],
            "max_pix": [float(vals[-1])],
            "mean_pix": [mean],
            "stddev_pix": [float(np.sqrt(ss / n - mean * mean))],
            "median_pix": [(at((n - 1) // 2 + 1) + at(n // 2 + 1)) / 2.0],
            "mode_pix": [float(vals[np.argmax(hist)])],
        }
        if percentile is not None:
            rank = (n - 1) * (percentile / 100.0)
            k = int(np.floor(rank))
            vk = at(k + 1)
            out["perc_pix"] = [vk + (at(min(k + 1, n - 1) + 1) - vk)
                               * (rank - k)]
        return codec.to_table(out, schema)

    return partials.groupBy("zone_id").applyInArrow(finalize, schema=schema)


def zonal_stats_poly(
    images: DataFrame,
    polys: DataFrame,
    *,
    poly_key: str = "poly_id",
    verts_col: str = "verts",
    res: int = DEFAULT_RES,
    res_deg: float = 0.001,
    out_no_data_val: float = -9999.0,
    n_salt: int = 8,
) -> DataFrame:
    """Zonal stats over GENERAL polygon zones (ray-casting pixel masks).

    The reference rasterizes each feature (gdal.RasterizeLayer,
    zonalstats/__init__.py:424-432 — pixel-center-in-polygon); here the
    mask is ``geo.geometry.points_in_polygon`` over the pixel-center
    grid, per (image, polygon) candidate pair, inside the same
    Arrow-partial/value-count-merge plan as :func:`zonal_stats`.

    ``polys`` needs (poly_key, verts_col = array<array<double>>,
    pxmin/pxmax/pymin/pymax).  Output mirrors :func:`zonal_stats`.

    ``n_salt``: the Arrow stage partitions by (image, salt-of-polygon)
    so a hot image overlapped by many polygons fans across up to
    ``n_salt`` tasks instead of one straggler (each task re-decodes the
    image once — decode is cheap next to the per-polygon PIP masks).
    The value-count partials are order-independent, so salting cannot
    change results.
    """
    from ..geo.geometry import points_in_polygon

    pbox = ("pxmin", "pxmax", "pymin", "pymax")
    pairs = _footprint_pairs(
        images, polys.select(poly_key, verts_col, *pbox), pbox, res
    ).select("image_id", poly_key, verts_col)
    work = _pair_work(pairs, images, poly_key, n_salt)

    def zonal_poly_pairs(batches):
        for batch in batches:
            parts = []
            for _, arr, xmin, ymax, pairs in _image_groups(
                    batch, poly_key, verts_col):
                h, w = arr.shape
                cx = xmin + (np.arange(w) + 0.5) * res_deg
                cy = ymax - (np.arange(h) + 0.5) * res_deg
                gx, gy = np.meshgrid(cx, cy)
                zone_vals = []
                for zone_id, verts in pairs:
                    poly = np.asarray(verts, dtype=np.float64)
                    inside = points_in_polygon(gx.ravel(), gy.ravel(), poly)
                    zone_vals.append((zone_id, arr.ravel()[inside]))
                parts.append(_zone_counts(zone_vals))
            yield _partial_batch(parts)

    stats = _zone_hist_stats(
        work.mapInArrow(zonal_poly_pairs, schema=_PARTIAL_SCHEMA))
    out = polys.select(F.col(poly_key).alias("zone_id")) \
        .join(stats, "zone_id", "left")
    stat_cols = ["n_pix", "sum_pix", "min_pix", "max_pix", "mean_pix",
                 "stddev_pix", "median_pix", "mode_pix"]
    return out.fillna({c: out_no_data_val for c in stat_cols}) \
        .withColumnRenamed("zone_id", poly_key)


_WEIGHTED_SCHEMA = StructType([
    StructField("zone_id", LongType()),
    StructField("n_touched", LongType()),
    StructField("sum_w", LongType()),
    StructField("sum_wv", LongType()),
])

#: weight quantization scale for area fractions (2^20 — exact int sums)
_W_SCALE = 1 << 20


def zonal_stats_weighted(
    images: DataFrame,
    zones: DataFrame,
    *,
    res: int = DEFAULT_RES,
    res_deg: float = 0.001,
    n_salt: int = 8,
    mode: str = "pixel_area_in_poly",
) -> DataFrame:
    """AREA-WEIGHTED zonal stats: ``pixelAreaInPoly`` / ``polyAreaInPixel``.

    Reference: pixel-in-poly mode enum (src/img/RSGISPixelInPoly.h:48-60,
    GEOS dispatch RSGISPixelInPoly.cpp:47-118) — instead of the binary
    center-in-zone rule, each pixel contributes a FRACTION:

    * ``mode="pixel_area_in_poly"`` — the fraction of the PIXEL's box
      inside the zone (overlap area / pixel area);
    * ``mode="poly_area_in_pixel"`` — the fraction of the ZONE's area
      inside the pixel (overlap area / zone area; per-zone weights sum
      to <= 1, reaching 1 when the raster covers the zone).

    For rect zones the overlap is closed-form (clamped interval
    products); fractions are quantized to ``round(frac * 2^20)`` so all
    partials are exact int64 sums (the two engines compute the
    identical IEEE expression, so the rounding is bit-identical even at
    boundaries).

    Output per zone: ``n_touched`` (pixels with weight > 0), ``wsum``
    (sum of fractions), ``wmean`` (area-weighted mean pixel value) —
    zones touching no pixel are absent.
    """
    pairs = _footprint_pairs(images, zones.select("zone_id", *_ZONE_BOX),
                             _ZONE_BOX, res)
    work = _pair_work(pairs, images, "zone_id", n_salt)

    def zonal_weighted_pairs(batches):
        for batch in batches:
            rows = {n: [] for n in _WEIGHTED_SCHEMA.names}
            for _, arr, tlx, tly, pairs in _image_groups(
                    batch, "zone_id", *_ZONE_BOX):
                h, w = arr.shape
                # pixel box edges (identical formula in the oracle)
                xl = tlx + np.arange(w) * res_deg
                xr = tlx + (np.arange(w) + 1) * res_deg
                yt = tly - np.arange(h) * res_deg
                yb = tly - (np.arange(h) + 1) * res_deg
                for zone_id, zxmin, zxmax, zymin, zymax in pairs:
                    ox = np.minimum(xr, zxmax) - np.maximum(xl, zxmin)
                    oy = np.minimum(yt, zymax) - np.maximum(yb, zymin)
                    if mode == "pixel_area_in_poly":
                        ox = np.maximum(ox, 0.0) / res_deg
                        oy = np.maximum(oy, 0.0) / res_deg
                        frac = oy[:, None] * ox[None, :]
                    elif mode == "poly_area_in_pixel":
                        ox = np.maximum(ox, 0.0)
                        oy = np.maximum(oy, 0.0)
                        frac = (oy[:, None] * ox[None, :]) / (
                            (zxmax - zxmin) * (zymax - zymin))
                    else:
                        raise ValueError(f"unknown weighted mode {mode!r}")
                    # floor(x + 0.5), NOT np.round: numpy rounds half to
                    # even while SQL round() rounds half away — the
                    # explicit formula is identical in every engine
                    wq = np.floor(frac * _W_SCALE + 0.5).astype(np.int64)
                    touched = wq > 0
                    if not touched.any():
                        continue
                    rows["zone_id"].append(int(zone_id))
                    rows["n_touched"].append(int(touched.sum()))
                    rows["sum_w"].append(int(wq.sum()))
                    rows["sum_wv"].append(int((wq * arr).sum()))
            yield codec.to_batch(rows, _WEIGHTED_SCHEMA)

    partials = work.mapInArrow(zonal_weighted_pairs, schema=_WEIGHTED_SCHEMA)
    return (
        partials.groupBy("zone_id")
        .agg(F.sum("n_touched").alias("n_touched"),
             F.sum("sum_w").alias("_sw"),
             F.sum("sum_wv").alias("_swv"))
        .select(
            "zone_id", "n_touched",
            (F.col("_sw").cast("double") / float(_W_SCALE)).alias("wsum"),
            (F.col("_swv").cast("double") / F.col("_sw").cast("double"))
            .alias("wmean"))
    )


_MASKVEC_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("n_in", LongType()),
    StructField("sum_in", LongType()),
    StructField("min_in", LongType()),
    StructField("max_in", LongType()),
])


def mask_by_vec_stats(
    images: DataFrame,
    zones: DataFrame,
    *,
    res: int = DEFAULT_RES,
    res_deg: float = 0.001,
) -> DataFrame:
    """``mask_img_with_vec`` / ``subset_to_vec``: per-image stats of the
    pixels inside the vector layer (center in ANY zone, counted once).

    Reference: ``mask_img_with_vec`` (imageutils/__init__.py — rasterize
    the layer, mask the image) and ``subset_to_vec``.  The OR-mask must
    see every zone of an image at once (per-(image,zone) partials would
    double-count overlap pixels), so the zone RECTS are aggregated into
    one small list per image and broadcast-joined back — the byte
    payloads never cross a shuffle, and the Arrow kernel stays
    row-independent (each row carries its image + its zone list).
    Images with no pixel inside any zone emit no row.
    """
    pairs = _footprint_pairs(images, zones.select(*_ZONE_BOX), _ZONE_BOX,
                             res)
    rects = pairs.groupBy("image_id").agg(
        F.collect_list(F.struct("zxmin", "zxmax", "zymin", "zymax"))
        .alias("zrects"))
    work = images.select("image_id", "bytes", "w", "h", "fmt",
                         "xmin", "ymax") \
        .join(F.broadcast(rects), "image_id", "inner")

    def per_image(out, image_id, arr, xmin, ymax, zrects):
        h, w = arr.shape
        cx = float(xmin) + (np.arange(w) + 0.5) * res_deg
        cy = float(ymax) - (np.arange(h) + 0.5) * res_deg
        mask = np.zeros((h, w), dtype=bool)
        for r in zrects:
            in_x = (cx >= r["zxmin"]) & (cx < r["zxmax"])
            in_y = (cy >= r["zymin"]) & (cy < r["zymax"])
            mask |= in_y[:, None] & in_x[None, :]
        vals = arr[mask]
        if vals.size == 0:
            return
        out["image_id"].append(image_id)
        out["n_in"].append(int(vals.size))
        out["sum_in"].append(int(vals.sum()))
        out["min_in"].append(int(vals.min()))
        out["max_in"].append(int(vals.max()))

    return codec.map_images(work, per_image, _MASKVEC_SCHEMA,
                            extra_cols=("xmin", "ymax", "zrects"),
                            dtype=np.int64)


_EXTRACT_SCHEMA = StructType([
    StructField("pt_id", LongType()),
    StructField("image_id", StringType()),
    StructField("pix_val", DoubleType()),
])


def extract_point_values(
    points: DataFrame,
    images: DataFrame,
    *,
    pt_id: str = "qid",
    pt_lon: str = "qlon",
    pt_lat: str = "qlat",
    res: int = DEFAULT_RES,
    res_deg: float = 0.001,
    out_no_data_val: float = -9999.0,
) -> DataFrame:
    """``ext_point_band_values``: sample the pixel under each point.

    Reference: zonalstats/__init__.py:1390-1597 — world->pixel by
    truncation, clamped into the image; points outside every image get
    ``out_no_data_val`` (:1537-1555).  Where footprints overlap, the
    image with the highest ``id`` wins (a deterministic stand-in for the
    reference's single-raster context).

    Plan: (1) Catalyst-only candidate join point->footprint on the
    cell-row key (no broadcast hint — the equi-join hashes),
    refined by half-open PIP; (2) ``row_number`` picks the winning image;
    (3) one Arrow pass decodes each winning image once and gathers all
    its points' pixels.  Pixel volume never shuffles; only (point, image)
    pairs do.
    """
    from pyspark.sql import Window

    pts = points.select(F.col(pt_id).alias("pt_id"),
                        F.col(pt_lon).alias("_plon"),
                        F.col(pt_lat).alias("_plat"))
    # north-west anchored half-open: the pixel a point truncates into
    cand = cell_pairs(
        pts, images.select("id", "image_id", *_IMG_BOX),
        ("_plon", "_plon", "_plat", "_plat"), _IMG_BOX,
        "_plon >= xmin AND _plon < xmax AND _plat > ymin AND _plat <= ymax",
        res=res, broadcast=False)
    w = Window.partitionBy("pt_id").orderBy(F.desc("id"))
    won = cand.withColumn("_rn", F.row_number().over(w)) \
        .where(F.col("_rn") == 1) \
        .select("pt_id", "_plon", "_plat", "image_id")

    work = _pair_work(won, images, "pt_id")

    def zonal_point_values(batches):
        for batch in batches:
            out = {n: [] for n in _EXTRACT_SCHEMA.names}
            for img_id_key, arr, xmin, ymax, pairs in _image_groups(
                    batch, "pt_id", "_plon", "_plat", dtype=None):
                pt_ids, plon, plat = zip(*pairs)
                h, w = arr.shape
                sx = np.floor((np.asarray(plon) - xmin) / res_deg) \
                    .astype(np.int64)
                sy = np.floor((ymax - np.asarray(plat)) / res_deg) \
                    .astype(np.int64)
                sx = np.minimum(sx, w - 1)
                sy = np.minimum(sy, h - 1)
                out["pt_id"].extend(pt_ids)
                out["image_id"].extend([img_id_key] * len(pairs))
                out["pix_val"].extend(arr[sy, sx].astype(np.float64))
            yield codec.to_batch(out, _EXTRACT_SCHEMA)

    sampled = work.mapInArrow(zonal_point_values, schema=_EXTRACT_SCHEMA)
    return (
        pts.join(sampled, "pt_id", "left")
        .fillna({"pix_val": out_no_data_val})
        .select(F.col("pt_id").alias(pt_id),
                F.col("_plon").alias(pt_lon), F.col("_plat").alias(pt_lat),
                "image_id", "pix_val")
    )


def _zonal_stats_raw(
    images: DataFrame,
    zones: DataFrame,
    *,
    res: int,
    res_deg: float,
    min_thres: float,
    max_thres: float,
    nodata,
    percentile: float | None = None,
    n_salt: int = 8,
    membership: str = "center",
) -> DataFrame:
    """zones left-joined with NULLABLE per-zone stats (pre-fillna).

    The Arrow stage partitions by (image, salt-of-zone): a hot image
    overlapped by many zones fans across up to ``n_salt`` tasks (the
    partials are order-independent, so salting cannot change results).
    """
    # phase 1: candidate pairs (broadcast zones on cell row + bbox refine)
    pairs = _footprint_pairs(images, zones.select("zone_id", *_ZONE_BOX),
                             _ZONE_BOX, res)

    # phase 2: Arrow partials — ship pixels into the pair rows via an
    # image-keyed join (each image decoded once per task batch).
    work = _pair_work(pairs, images, "zone_id", n_salt)

    def zonal_pair_partials(it):
        return _pair_partials(it, res_deg, min_thres, max_thres, nodata,
                              membership)

    partials = work.mapInArrow(zonal_pair_partials, schema=_PARTIAL_SCHEMA)

    # phase 3: ONE shuffle — per-zone value-count merge; every statistic
    # (moments included) finalizes from the exact merged counts.
    # All stats surface as doubles: the reference writes every zonal
    # field as OFTReal (zonalstats/__init__.py:289-319), and a uniform
    # type lets empty zones take out_no_data_val.
    return zones.join(_zone_hist_stats(partials, percentile), "zone_id",
                      "left")


def zonal_stats(
    images: DataFrame,
    zones: DataFrame,
    *,
    res: int = DEFAULT_RES,
    res_deg: float = 0.001,
    min_thres: float = 0.0,
    max_thres: float = float(2 ** 31),
    nodata=None,
    out_no_data_val: float = -9999.0,
    n_salt: int = 8,
    membership: str = "center",
) -> DataFrame:
    """Per-zone stats over every image overlapping the zone.

    ``images`` needs (image_id, bytes, w, h, fmt, xmin, xmax, ymin, ymax);
    ``zones`` needs (zone_id, zxmin, zxmax, zymin, zymax [+ attrs]).
    Returns one row per zone: n_pix, sum_pix, min_pix, max_pix, mean_pix,
    stddev_pix (population), and exact median_pix / mode_pix; zones with
    no pixels carry ``out_no_data_val`` (reference empty-set semantics,
    zonalstats/__init__.py:477-499).  ``membership`` selects the
    pixel-in-poly mode (center / envelope / contains — see
    :func:`_pair_partials`; area-weighted lives in
    :func:`zonal_stats_weighted`).
    """
    out = _zonal_stats_raw(images, zones, res=res, res_deg=res_deg,
                           min_thres=min_thres, max_thres=max_thres,
                           nodata=nodata, n_salt=n_salt,
                           membership=membership)
    stat_cols = ["n_pix", "sum_pix", "min_pix", "max_pix", "mean_pix",
                 "stddev_pix", "median_pix", "mode_pix"]
    return out.fillna({c: out_no_data_val for c in stat_cols})


def zonal_stats_hybrid(
    images: DataFrame,
    zones: DataFrame,
    *,
    percentile: float = 75.0,
    res: int = DEFAULT_RES,
    res_deg: float = 0.001,
    min_thres: float = 0.0,
    max_thres: float = float(2 ** 31),
    nodata=None,
    out_no_data_val: float = -9999.0,
) -> DataFrame:
    """calc_zonal_band_stats_test_poly_pts: polygon stats with centroid
    fallback + per-zone percentile.

    Reference semantics (zonalstats/__init__.py:878-1321): zones with
    >= 1 pixel get full stats including ``perc_pix`` =
    ``numpy.percentile`` (linear interpolation); empty zones sample the
    pixel under their centroid (floor world->pixel, clamped; highest-id
    image wins, the ``ext_point_band_values`` rule) — a valid centroid
    value fills every stat with that value (stddev 0.0, count 1.0), an
    invalid one (off-image / nodata / outside thresholds) writes
    ``out_no_data_val`` with count 0.0 (:1240-1295).

    ``images`` additionally needs the ``id`` column (centroid winner
    rule).  Keep ``percentile`` dyadic (25/50/75) for bit-exact
    cross-engine results.
    """
    raw = _zonal_stats_raw(images, zones, res=res, res_deg=res_deg,
                           min_thres=min_thres, max_thres=max_thres,
                           nodata=nodata, percentile=percentile)

    # centroid sampling for the zones the polygon pass left empty
    cents = zones.select(
        "zone_id",
        ((F.col("zxmin") + F.col("zxmax")) / 2.0).alias("_clon"),
        ((F.col("zymin") + F.col("zymax")) / 2.0).alias("_clat"))
    sampled = extract_point_values(
        cents, images, pt_id="zone_id", pt_lon="_clon", pt_lat="_clat",
        res=res, res_deg=res_deg, out_no_data_val=out_no_data_val,
    ).select("zone_id", F.col("pix_val").alias("_cval"))

    valid = (F.col("_cval") != F.lit(out_no_data_val)) \
        & (F.col("_cval") >= F.lit(min_thres)) \
        & (F.col("_cval") <= F.lit(max_thres))
    if nodata is not None:
        valid = valid & (F.col("_cval") != F.lit(float(nodata)))

    cval = F.when(valid, F.col("_cval")).otherwise(F.lit(out_no_data_val))
    fallback = {
        "n_pix": F.when(valid, F.lit(1.0)).otherwise(F.lit(0.0)),
        "sum_pix": cval, "min_pix": cval, "max_pix": cval,
        "mean_pix": cval,
        "stddev_pix": F.when(valid, F.lit(0.0))
                       .otherwise(F.lit(out_no_data_val)),
        "median_pix": cval, "mode_pix": cval, "perc_pix": cval,
    }
    out = raw.join(sampled, "zone_id", "left")
    for c, fb in fallback.items():
        out = out.withColumn(c, F.coalesce(F.col(c), fb))
    return out.drop("_cval")
