"""Vector-layer operators: geometry columns, grids, reprojection, attrs.

Re-expresses the reference's vector utility surface as Catalyst-native
column arithmetic (no UDFs anywhere in this module — every op here is
whole-stage-codegen'd JVM arithmetic, the cheapest possible plan shape):

* geometry accessors — ``add_geom_bbox_cols`` / ``pop_bbox_cols`` /
  ``calc_poly_centroids`` (reference: python/rsgislib/vectorattrs/
  __init__.py:405,280; vectorgeoms/__init__.py:1066) -> bbox width /
  height / area / centroid columns;
* bbox math — ``buffer_bbox`` / ``calc_bbox_area`` (reference:
  tools/geometrytools.py:210,~480) -> plain +-*/ on columns;
* grid generation — ``define_grid`` / ``create_wgs84_vector_grid``
  (reference: python/rsgislib/vectorutils/createvectors.py:424,980):
  row-major cell ids over a bbox, one row per cell via
  ``spark.range`` (a parallel, partitioned source — no driver loop);
* reprojection — ``reproj_wgs84_vec_to_utm`` (reference:
  vectorutils/__init__.py:2459) as a local transverse-mercator-style
  affine (exact column arithmetic); the EPSG:3857 web-mercator forward
  (reference: tools/geometrytools.py:541 ``reproj_point``) is
  ``geo.webmerc``, on the same pinned polynomial trig;
* attribute helpers — ``find_replace_str_vec_lyr`` (vectorattrs/
  __init__.py:881) -> ``replace``; ``sort_vec_lyr`` + ``add_fid_col``
  (vectorattrs/__init__.py:828,756) -> ``row_number`` over an explicit
  deterministic ordering (never partition order);
* layer merge — ``merge_vector_layers`` (vectorutils/__init__.py:2868)
  -> ``unionByName(allowMissingColumns=True)``: missing attribute
  columns null-fill exactly like OGR's create-if-absent schema rule.

Scale notes: every function below is pure narrow column arithmetic or a
single window/`range` — no shuffle except ``rank_layer`` (one global sort,
the same cost the reference pays single-threaded) and grid generation
(embarrassingly parallel ``range``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

__all__ = [
    "add_geom_bbox_cols",
    "verts_bbox_cols",
    "bboxes_for_pts",
    "poly_centroids",
    "buffer_bbox_cols",
    "define_grid",
    "create_hex_grid_bbox",
    "reproj_wgs84_to_utm",
    "reproj_epsg",
    "unwrap_bbox",
    "wgs84_pixel_area_exact_sql",
    "find_replace_str",
    "rank_layer",
    "merge_layers",
]

def add_geom_bbox_cols(df: DataFrame, xmin: str = "zxmin", xmax: str = "zxmax",
                       ymin: str = "zymin", ymax: str = "zymax") -> DataFrame:
    """bbox accessor columns: width/height/area/centroid (pure Catalyst)."""
    return (
        df.withColumn("g_width", F.col(xmax) - F.col(xmin))
        .withColumn("g_height", F.col(ymax) - F.col(ymin))
        .withColumn("g_area", (F.col(xmax) - F.col(xmin))
                    * (F.col(ymax) - F.col(ymin)))
        .withColumn("g_cx", (F.col(xmin) + F.col(xmax)) / 2.0)
        .withColumn("g_cy", (F.col(ymin) + F.col(ymax)) / 2.0)
    )


def verts_bbox_cols(df: DataFrame, verts: str = "verts") -> DataFrame:
    """pop_bbox_cols (vectorattrs/__init__.py:280): add each feature's
    geometry bbox as attribute columns, computed from the vertex array
    (transform + array_min/max — pure Catalyst, no UDF, pushes through
    any downstream filter)."""
    vx = F.expr(f"transform({verts}, _v -> element_at(_v, 1))")
    vy = F.expr(f"transform({verts}, _v -> element_at(_v, 2))")
    return (df.withColumn("xmin", F.array_min(vx))
            .withColumn("xmax", F.array_max(vx))
            .withColumn("ymin", F.array_min(vy))
            .withColumn("ymax", F.array_max(vy)))


def bboxes_for_pts(df: DataFrame, width: float, height: float,
                   x: str = "qlon", y: str = "qlat") -> DataFrame:
    """create_bboxs_for_pts (vectorutils/createvectors.py:890): one box
    of the given width/height centred on every point."""
    hw, hh = F.lit(width / 2.0), F.lit(height / 2.0)
    return (df.withColumn("bxmin", F.col(x) - hw)
            .withColumn("bxmax", F.col(x) + hw)
            .withColumn("bymin", F.col(y) - hh)
            .withColumn("bymax", F.col(y) + hh))


def poly_centroids(df: DataFrame, verts: str = "verts") -> DataFrame:
    """calc_poly_centroids (vectorgeoms/__init__.py:1066): shapely-style
    AREA centroid per feature (shoelace form, not the vertex mean)."""
    from .geomtransforms import ring_centroid_sql

    return (df.withColumn("cx", F.expr(ring_centroid_sql("spark", verts, 1)))
            .withColumn("cy", F.expr(ring_centroid_sql("spark", verts, 2))))


def buffer_bbox_cols(df: DataFrame, buf: float, xmin: str = "zxmin",
                     xmax: str = "zxmax", ymin: str = "zymin",
                     ymax: str = "zymax") -> DataFrame:
    """buffer_bbox (geometrytools.py:210): expand each side by ``buf``."""
    b = F.lit(float(buf))
    return (
        df.withColumn("b_xmin", F.col(xmin) - b)
        .withColumn("b_xmax", F.col(xmax) + b)
        .withColumn("b_ymin", F.col(ymin) - b)
        .withColumn("b_ymax", F.col(ymax) + b)
    )


def define_grid(spark: SparkSession, xmin: float, xmax: float, ymin: float,
                ymax: float, cell_w: float, cell_h: float) -> DataFrame:
    """Row-major vector grid over a bbox (define_grid, createvectors.py:424).

    One row per cell: grid_id (row-major, 0-based), gx, gy, cell bbox and
    centroid.  ``spark.range`` is a partitioned source, so grid creation
    parallelizes — at a 10^12-cell scale the grid is generated where it is
    consumed, never on the driver.
    """
    ncols = int(math.ceil((xmax - xmin) / cell_w))
    nrows = int(math.ceil((ymax - ymin) / cell_h))
    g = spark.range(ncols * nrows).withColumnRenamed("id", "grid_id")
    gx = (F.col("grid_id") % ncols).cast("long")
    gy = (F.col("grid_id") / ncols).cast("long")
    return (
        g.withColumn("gx", gx).withColumn("gy", gy)
        .withColumn("gxmin", F.lit(xmin) + F.col("gx") * F.lit(cell_w))
        .withColumn("gxmax", F.least(F.lit(xmin) + (F.col("gx") + 1) * F.lit(cell_w),
                                     F.lit(xmax)))
        .withColumn("gymin", F.lit(ymin) + F.col("gy") * F.lit(cell_h))
        .withColumn("gymax", F.least(F.lit(ymin) + (F.col("gy") + 1) * F.lit(cell_h),
                                     F.lit(ymax)))
        .withColumn("g_cx", (F.col("gxmin") + F.col("gxmax")) / 2.0)
        .withColumn("g_cy", (F.col("gymin") + F.col("gymax")) / 2.0)
    )


def create_hex_grid_bbox(spark: SparkSession, xmin: float, xmax: float,
                         ymin: float, ymax: float, size: float) -> DataFrame:
    """Hexagon grid covering a bbox — one row per hex VERTEX.

    Reference: ``create_hex_grid_bbox`` / ``create_hex_grid_polys``
    (vectorutils/createvectors.py:1235-1397) — there h3.polyfill; here a
    planar pointy-top hex lattice with edge length ``size`` (the
    H3-free equivalent product: a hex layer a user tiles a bbox with).
    Centers: cx = xmin + sqrt3*s*(q + (r%2)/2), cy = ymin + 1.5*s*r for
    centers inside the bbox; vertices at the six 60-degree multiples,
    whose sin/cos are exact literals (0, ±1/2, ±sqrt3/2 ·s) — so the
    whole layer is bit-deterministic column arithmetic, no libm.
    Output: (hex_id, q, r, cx, cy, v_idx, vx, vy).
    """
    import math as _m

    s = float(size)
    sq3 = _m.sqrt(3.0)       # one Python-side constant, embedded as literal
    w, vstep = sq3 * s, 1.5 * s
    n_r = max(0, int(_m.floor((ymax - ymin) / vstep)) + 1)
    n_q = max(0, int(_m.floor((xmax - xmin) / w)) + 1)

    # vertex offsets, pointy-top, counter-clockwise from the top; the
    # bbox origin is FOLDED INTO the per-vertex literal Python-side so
    # no expression carries two additive constants (Catalyst would
    # reassociate `origin + term + offset` and fold the constants in a
    # different order than the oracle — a 1-ulp divergence)
    offs = [(0.0, s), (-sq3 / 2 * s, s / 2), (-sq3 / 2 * s, -s / 2),
            (0.0, -s), (sq3 / 2 * s, -s / 2), (sq3 / 2 * s, s / 2)]
    off_arr = ", ".join(f"array({xmin + ox!r}, {ymin + oy!r})"
                        for ox, oy in offs)

    g = (
        spark.range(n_r * n_q)
        .select((F.col("id") % n_q).alias("q"),
                (F.col("id") / n_q).cast("long").alias("r"))
        .withColumn("cx", F.lit(xmin) + F.lit(w)
                    * (F.col("q") + F.pmod(F.col("r"), F.lit(2))
                       .cast("double") * 0.5))
        .withColumn("cy", F.lit(ymin) + F.lit(vstep) * F.col("r"))
        .where((F.col("cx") < F.lit(xmax)) & (F.col("cy") < F.lit(ymax)))
        .withColumn("hex_id", (F.col("r") * n_q + F.col("q")).cast("long"))
    )
    out = g.select(
        "hex_id", "q", "r", "cx", "cy",
        F.posexplode(F.expr(f"array({off_arr})")).alias("v_idx0", "_o"))
    return out.select(
        "hex_id", "q", "r", "cx", "cy",
        (F.col("v_idx0") + 1).cast("long").alias("v_idx"),
        (F.element_at("_o", 1) + F.lit(w)
         * (F.col("q") + F.pmod(F.col("r"), F.lit(2)).cast("double") * 0.5))
        .alias("vx"),
        (F.element_at("_o", 2) + F.lit(vstep) * F.col("r")).alias("vy"))


def reproj_wgs84_to_utm(df: DataFrame, zone: int, lon: str = "lon",
                        lat: str = "lat", x_out: str = "utm_x",
                        y_out: str = "utm_y") -> DataFrame:
    """TRUE WGS84 -> UTM forward transform (transverse Mercator series).

    Reference: ``reproj_wgs84_vec_to_utm`` (vectorutils/__init__.py:2459)
    and ``reproj_vector_layer`` (:779).  The Snyder series is evaluated
    with polynomial sin/cos (geo.transverse_mercator) so the doubles are
    bit-identical in every engine — accuracy ~3e-8 m vs libm, far inside
    the reference's tolerance.  Southern-hemisphere rows get the 10^7 m
    false northing (per-point, the reference rule).
    """
    from ..geo.transverse_mercator import utm_forward_steps

    steps, ex, ny = utm_forward_steps(lon, lat, int(zone))
    df = _apply_expr_steps(df, steps, {x_out: ex, "__utm_n": ny})
    return (
        df.withColumn(y_out, F.col("__utm_n")
                      + F.when(F.col(lat) < 0, F.lit(10000000.0))
                      .otherwise(F.lit(0.0))).drop("__utm_n")
    )


def reproj_epsg(df: DataFrame, epsg: int, lon: str = "lon",
                lat: str = "lat", x_out: str = "x_proj",
                y_out: str = "y_proj") -> DataFrame:
    """Arbitrary-EPSG forward reprojection (Catalyst math).

    Reference: ``reproj_vector_layer`` (vectorutils/__init__.py:779)
    accepts any OGR SRS; this covers the TM family — every UTM zone
    (WGS84 326xx/327xx, ETRS89 258xx, NAD83 269xx), British National
    Grid EPSG:27700 (the reference's own test-fixture SRS,
    python_tests/test_imageutils.py) and Irish TM EPSG:2157 — via the
    parameterized Snyder series with polynomial trig
    (geo.transverse_mercator.tm_forward_sql), plus the conic/azimuthal
    families (Lambert Conformal Conic 2154/3978/3034, Albers 5070/3577,
    LAEA 3035 — geo.conic.conic_forward_sql): bit-identical doubles in
    every engine, <1 mm vs the published OSGB worked example and
    <3e-6 m vs the full-libm Snyder reference for the conics.  Input
    coordinates are geodetic in the target CRS's datum (the projection
    step; cross-datum shifts are out of scope).
    """
    from ..geo.conic import EPSG_CONIC, conic_forward_steps
    from ..geo.transverse_mercator import epsg_tm_params, tm_forward_steps

    if int(epsg) in EPSG_CONIC:
        steps, ex, ny = conic_forward_steps(lon, lat, EPSG_CONIC[int(epsg)])
    else:
        steps, ex, ny = tm_forward_steps(lon, lat, epsg_tm_params(epsg))
    return _apply_expr_steps(df, steps, {x_out: ex, y_out: ny})


def _apply_expr_steps(df: DataFrame, steps, finals: dict) -> DataFrame:
    """Evaluate named intermediate expressions as chained projection
    columns, then the finals, then drop the intermediates.  Chained
    Projects keep the Catalyst tree small (the inlined projection
    series is 50-220 KB of SQL whose parse/analyze dominated the query
    — 60-120 s per conic reproj at sf0.01); Spark's CollapseProject
    cost check preserves non-cheap multiply-referenced aliases, and
    whole-stage codegen evaluates each step once per row.  Arithmetic
    is op-for-op identical to the inline form, so oracle hashes are
    unchanged."""
    for name, expr in steps:
        df = df.selectExpr("*", f"{expr} AS {name}")
    for out, expr in finals.items():
        df = df.withColumn(out, F.expr(expr))
    return df.drop(*[name for name, _ in steps])


def wgs84_pixel_area_exact_sql(lat: str, res_deg: float) -> str:
    """Approximate geodesic area (m^2) of one pixel at latitude ``lat``,
    as oracle-exact SQL text.

    Reference: ``calc_wgs84_pixel_area`` (imageutils/__init__.py:2722) —
    spherical approximation area = (res*110540) * (res*111320*cos(lat)),
    with the constant product folded driver-side into one :func:`dlit`
    literal and libm ``cos`` replaced by the shared degree-14 polynomial
    (:func:`rsgislib_spark.geo.transverse_mercator.cos_sql`), so Spark
    and DuckDB evaluate the identical IEEE operation sequence and the
    exact value-hash gate applies.  Valid for ``|lat| <= 90`` deg.
    """
    from ..geo.transverse_mercator import cos_sql, dlit

    c = (res_deg * 110540.0) * (res_deg * 111320.0)
    rad = f"(({lat}) * {dlit(math.pi / 180.0)})"
    return f"({dlit(c)} * {cos_sql(rad)})"


def unwrap_bbox(df: DataFrame, xmin: str = "zxmin", xmax: str = "zxmax") -> DataFrame:
    """Antimeridian unwrap: split dateline-crossing bboxes into two rows.

    Reference: ``unwrap_wgs84_bbox`` (tools/geometrytools.py:253) +
    ``geopd_check_polys_wgs84_bounds_geometry`` (vectorutils/__init__.py:
    2926).  A box with ``xmin > xmax`` crosses the antimeridian and
    becomes two boxes: [xmin, 180] and [-180, xmax]; ``part`` numbers
    the pieces (0 = single/western piece, 1 = eastern piece).  Pure
    Catalyst: a conditional explode, no UDF.
    """
    pieces = F.when(
        F.col(xmin) > F.col(xmax),
        F.array(
            F.struct(F.col(xmin).alias("pxmin"), F.lit(180.0).alias("pxmax"),
                     F.lit(0).alias("part")),
            F.struct(F.lit(-180.0).alias("pxmin"), F.col(xmax).alias("pxmax"),
                     F.lit(1).alias("part")),
        ),
    ).otherwise(
        F.array(F.struct(F.col(xmin).alias("pxmin"),
                         F.col(xmax).alias("pxmax"), F.lit(0).alias("part")))
    )
    return (
        df.withColumn("_p", F.explode(pieces))
        .withColumn("pxmin", F.col("_p.pxmin"))
        .withColumn("pxmax", F.col("_p.pxmax"))
        .withColumn("part", F.col("_p.part").cast("long"))
        .drop("_p")
    )


def find_replace_str(df: DataFrame, col: str, find: str, replace: str,
                     out: str | None = None) -> DataFrame:
    """find_replace_str_vec_lyr (vectorattrs/__init__.py:881)."""
    return df.withColumn(out or col,
                         F.expr(f"replace({col}, '{find}', '{replace}')"))


def rank_layer(df: DataFrame, order_cols, fid_col: str = "fid") -> DataFrame:
    """sort_vec_lyr + add_fid_col: 1-based fid by an explicit ordering.

    The ordering must be total (caller includes a unique tiebreak column)
    so the fid is deterministic across partitionings — SURVEY.md §4.2.
    """
    w = Window.orderBy(*order_cols)
    return df.withColumn(fid_col, F.row_number().over(w))


def merge_layers(layers, allow_missing: bool = True) -> DataFrame:
    """merge_vector_layers: N layers -> one, null-filling absent columns."""
    out = layers[0]
    for lyr in layers[1:]:
        out = out.unionByName(lyr, allowMissingColumns=allow_missing)
    return out


_VM_ALLOWED = (
    "Expression", "Name", "Load", "Constant", "BinOp", "UnaryOp",
    "Add", "Sub", "Mult", "Div", "UAdd", "USub",
)


def vector_maths(df, out_col: str, expr: str, allowed_cols=None):
    """vectorutils.vector_maths (python/src/vectorutils method table;
    muParser expression over attribute columns creating a new column).

    The expression is validated against an arithmetic-only AST
    whitelist (same sandbox discipline as imagemath.validate_band_math
    — no calls, attributes, subscripts), then handed to Catalyst via
    ``F.expr`` so the JVM evaluates the IDENTICAL text the DuckDB
    oracle runs: both engines execute the same IEEE tree.  Keep at most
    one additive constant per expression (NOTES determinism lesson 2 —
    Catalyst folds constant chains)."""
    import ast

    tree = ast.parse(expr, mode="eval")
    names = allowed_cols if allowed_cols is not None else set(df.columns)
    for node in ast.walk(tree):
        kind = type(node).__name__
        if kind not in _VM_ALLOWED:
            raise ValueError(f"vector_maths: disallowed syntax {kind!r}")
        if isinstance(node, ast.Name) and node.id not in names:
            raise ValueError(f"vector_maths: unknown column {node.id!r}")
    return df.withColumn(out_col, F.expr(expr))


def lines_of_points(pts, order_col: str = "qid",
                    x_col: str = "qlon", y_col: str = "qlat"):
    """vectorutils.create_lines_of_points: consecutive points (in
    ``order_col`` order) become line segments.  Output: one row per
    segment with both endpoints and the 2^20-quantized length — the
    length tree (dx*dx + dy*dy -> sqrt) is pinned and mirrored in the
    oracle."""
    from pyspark.sql import Window

    w = Window.orderBy(order_col)
    seg = (pts
           .withColumn("x2", F.lead(x_col).over(w))
           .withColumn("y2", F.lead(y_col).over(w))
           .where(F.col("x2").isNotNull()))
    dx = F.col("x2") - F.col(x_col)
    dy = F.col("y2") - F.col(y_col)
    return seg.select(
        F.col(order_col).alias("seg_id"),
        F.col(x_col).alias("x1"), F.col(y_col).alias("y1"),
        "x2", "y2",
        F.floor(F.sqrt(dx * dx + dy * dy)
                * F.lit(1048576.0)).cast("long").alias("len_q"))


# vector_maths expressions shared verbatim with the DuckDB oracle —
# same text, same IEEE tree in both engines
VM_EXPRS = {
    "area": "(zxmax - zxmin) * (zymax - zymin)",
    "peri": "((zxmax - zxmin) + (zymax - zymin)) * 2.0",
    "aspect_ratio": "(zxmax - zxmin) / (zymax - zymin)",
}


# --------------------------------------------------------------------------
# vectorgeoms small-op family: hole areas / area filter / polys->pts+lines /
# clip / bbox helpers (tools.geometrytools)
# --------------------------------------------------------------------------

#: rect-zone corner walk (closed ring order, CCW)
ZONE_CORNERS = (("zxmin", "zymin"), ("zxmax", "zymin"),
                ("zxmax", "zymax"), ("zxmin", "zymax"))

#: clip window used by the clip_vec_lyr twin (MinX, MaxX, MinY, MaxY)
CLIP_WIN = (0.0, 40.0, 30.0, 60.0)


def poly_hole_stats(zones: DataFrame,
                    area_thres: float = 30.0) -> DataFrame:
    """vectorgeoms.get_poly_hole_area + remove_polygon_area
    (vectorgeoms/__init__.py:2009-2060, 2073-2130): interior-ring
    (hole) areas via the shoelace over the ring vertices, polygon net
    area = exterior - holes (OGR Area() semantics for holed polygons),
    and the keep flag of the area threshold filter.  Same holed layer
    as delete_polygon_holes (q_remove_holes)."""
    from .geomtransforms import ring_area2_sql

    w, h = "(zxmax - zxmin)", "(zymax - zymin)"
    hole1 = (f"array(array(zxmin + {w}*0.25, zymin + {h}*0.25), "
             f"array(zxmin + {w}*0.5, zymin + {h}*0.25), "
             f"array(zxmin + {w}*0.5, zymin + {h}*0.5), "
             f"array(zxmin + {w}*0.25, zymin + {h}*0.5))")
    hole2 = (f"array(array(zxmin + {w}*0.1, zymin + {h}*0.1), "
             f"array(zxmin + {w}*0.12, zymin + {h}*0.1), "
             f"array(zxmin + {w}*0.12, zymin + {h}*0.12), "
             f"array(zxmin + {w}*0.1, zymin + {h}*0.12))")
    a1 = f"(abs({ring_area2_sql('spark', hole1)}) / 2.0)"
    a2 = f"(abs({ring_area2_sql('spark', hole2)}) / 2.0)"
    return zones.selectExpr(
        "zone_id",
        "CAST(2 AS BIGINT) AS n_holes",
        f"{a1} AS hole_area_1",
        f"{a2} AS hole_area_2",
        f"({a1} + {a2}) AS sum_hole_area",
        f"({w} * {h}) AS outer_area",
        f"(({w} * {h}) - ({a1} + {a2})) AS net_area",
        f"CAST(CASE WHEN (({w} * {h}) - ({a1} + {a2}))"
        f" >= CAST({area_thres} AS DOUBLE)"
        f" THEN 1 ELSE 0 END AS BIGINT) AS kept")


def zones_to_segments(zones: DataFrame) -> DataFrame:
    """vectorgeoms.get_vec_lyr_as_pts / get_geom_pts /
    convert_polys_to_lines_gp (vectorgeoms/__init__.py): the polygon
    layer exploded to its vertex points, each carrying the NEXT vertex
    (i.e. the boundary line segments).  Portable 4-way union, no
    shuffle."""
    parts = []
    for i, (x1, y1) in enumerate(ZONE_CORNERS):
        x2, y2 = ZONE_CORNERS[(i + 1) % 4]
        parts.append(zones.selectExpr(
            "zone_id", f"CAST({i} AS BIGINT) AS vtx_idx",
            f"{x1} AS px", f"{y1} AS py",
            f"{x2} AS nx", f"{y2} AS ny"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def clip_zone_rects(zones: DataFrame, win=CLIP_WIN) -> DataFrame:
    """vectorgeoms.clip_vec_lyr (geopandas gpd.clip wrapper): rect
    zones clipped to a rectangular window; empty results dropped (the
    gpd.clip behaviour).  Exact min/max arithmetic."""
    x0, x1, y0, y1 = win
    c = zones.selectExpr(
        "zone_id",
        f"greatest(zxmin, CAST({x0} AS DOUBLE)) AS cxmin",
        f"least(zxmax, CAST({x1} AS DOUBLE)) AS cxmax",
        f"greatest(zymin, CAST({y0} AS DOUBLE)) AS cymin",
        f"least(zymax, CAST({y1} AS DOUBLE)) AS cymax")
    return c.where("cxmin < cxmax AND cymin < cymax") \
        .selectExpr("*", "(cxmax - cxmin) * (cymax - cymin)"
                         " AS clip_area")


def bbox_centre_reproj(zones: DataFrame, epsg: int = 32630) -> DataFrame:
    """tools.geometrytools get_bbox_centre_pt / bbox_equal /
    bboxes_intersection / reproj_bbox_epsg
    (geometrytools.py:14-79,138-155,190-207,529-538): per zone the
    bbox centre, equality + intersection against the CLIP_WIN window,
    and the bbox reprojected to UTM (EPSG:32630) with the reference's
    exact corner min/max rule (minX = min(tl, bl), maxX = max(br, tr),
    minY = min(br, bl), maxY = max(tl, tr))."""
    from ..geo.transverse_mercator import (TMParams, _K0, _WGS84,
                                           central_meridian_deg,
                                           tm_forward_steps)
    x0, x1, y0, y1 = CLIP_WIN
    p = TMParams(*_WGS84, central_meridian_deg(epsg - 32600), 0.0,
                 _K0, 500000.0, 0.0)
    corners = {"tl": ("zxmin", "zymax"), "tr": ("zxmax", "zymax"),
               "br": ("zxmax", "zymin"), "bl": ("zxmin", "zymin")}
    df = zones.selectExpr(
        "zone_id", "zxmin", "zxmax", "zymin", "zymax",
        "(zxmin + (zxmax - zxmin) / 2) AS centre_x",
        "(zymin + (zymax - zymin) / 2) AS centre_y",
        f"CAST(CASE WHEN zxmin = CAST({x0} AS DOUBLE)"
        f" AND zxmax = CAST({x1} AS DOUBLE)"
        f" AND zymin = CAST({y0} AS DOUBLE)"
        f" AND zymax = CAST({y1} AS DOUBLE)"
        f" THEN 1 ELSE 0 END AS BIGINT) AS eq_win",
        f"greatest(zxmin, CAST({x0} AS DOUBLE)) AS ixmin",
        f"least(zxmax, CAST({x1} AS DOUBLE)) AS ixmax",
        f"greatest(zymin, CAST({y0} AS DOUBLE)) AS iymin",
        f"least(zymax, CAST({y1} AS DOUBLE)) AS iymax")
    finals = {}
    steps = []
    for tag, (cx, cy) in corners.items():
        s, ex, ny = tm_forward_steps(cx, cy, p, pfx=f"__rb{tag}")
        steps += s
        finals[f"{tag}_x"] = ex
        finals[f"{tag}_y"] = ny
    df = _apply_expr_steps(df, steps, finals)
    return df.selectExpr(
        "zone_id", "centre_x", "centre_y", "eq_win",
        "ixmin", "ixmax", "iymin", "iymax",
        "least(tl_x, bl_x) AS pminx",
        "greatest(br_x, tr_x) AS pmaxx",
        "least(br_y, bl_y) AS pminy",
        "greatest(tl_y, tr_y) AS pmaxy")


# --------------------------------------------------------------------------
# vectorattrs column ops: create_name_col / add_unq_numeric_col /
# add_numeric_col_lut (vectorattrs/__init__.py:454,568,611)
# --------------------------------------------------------------------------

#: add_numeric_col_lut dict (cat -> value, unmapped stay 0)
VA_LUT = ((0, 10), (1, 20), (2, 5))


def vec_attr_cols(zones: DataFrame) -> DataFrame:
    """vectorattrs.create_name_col (non_neg=True, coords_lat_lon=True,
    int_coords: Python int() truncation toward zero), add_unq_numeric_col
    (unique values numbered 1.. in FIRST-APPEARANCE = fid order) and
    add_numeric_col_lut (dict recode, unmapped rows keep the zero
    fill) over the zones layer with cat = zone_id % 5."""
    lut = " ".join(f"WHEN {k} THEN {v}" for k, v in VA_LUT)
    base = zones.selectExpr(
        "zone_id", "zxmin", "zymax", "zone_id % 5 AS cat",
        # Spark double->bigint CAST truncates toward zero (== int())
        "CAST(CASE WHEN zxmin < CAST(0 AS DOUBLE) THEN -zxmin"
        " ELSE zxmin END AS BIGINT) AS xi",
        "CAST(CASE WHEN zymax < CAST(0 AS DOUBLE) THEN -zymax"
        " ELSE zymax END AS BIGINT) AS yi",
        "CASE WHEN zxmin < CAST(0 AS DOUBLE) THEN 'W' ELSE 'E' END AS ew",
        "CASE WHEN zymax < CAST(0 AS DOUBLE) THEN 'S' ELSE 'N' END AS hemi")
    named = base.selectExpr(
        "zone_id", "cat",
        "concat('tile_', hemi, CAST(yi AS STRING), ew,"
        " CAST(xi AS STRING)) AS tile_name",
        f"CAST(CASE cat {lut} ELSE 0 END AS BIGINT) AS lut_val")
    ranked = named.selectExpr(
        "*",
        "min(zone_id) OVER (PARTITION BY cat) AS first_fid")
    return ranked.selectExpr(
        "zone_id", "cat", "tile_name", "lut_val",
        "CAST(dense_rank() OVER (ORDER BY first_fid) AS BIGINT)"
        " AS unq_num")


def utm_roundtrip_wgs84(df: DataFrame, zone: int,
                        lon: str = "qlon", lat: str = "qlat") -> DataFrame:
    """One per-zone layer of vectorutils.merge_utm_vecs_wgs84
    (vectorutils/__init__.py:3045): forward-project the layer into its
    UTM zone, then reproject the UTM geometry back to WGS84 with the
    Snyder INVERSE series (geo/transverse_mercator.tm_inverse_steps) —
    the zone-layer -> WGS84 leg the reference runs before merging.
    Both legs are pinned polynomial-trig column math (roundtrip
    < 1e-8 deg, pytest)."""
    from ..geo.transverse_mercator import (TMParams, _K0, _WGS84,
                                           central_meridian_deg,
                                           tm_forward_steps,
                                           tm_inverse_steps)
    p = TMParams(*_WGS84, central_meridian_deg(zone), 0.0, _K0,
                 500000.0, 0.0)
    fs, fe, fn = tm_forward_steps(lon, lat, p, pfx=f"__mf{zone}")
    df = _apply_expr_steps(df, fs, {"utm_e": fe, "utm_n": fn})
    is_, lo, la = tm_inverse_steps("utm_e", "utm_n", p,
                                   pfx=f"__mi{zone}")
    df = _apply_expr_steps(df, is_, {"rec_lon": lo, "rec_lat": la})
    return df.selectExpr("qid", f"CAST({zone} AS BIGINT) AS zone",
                         "utm_e", "utm_n", "rec_lon", "rec_lat")
