"""Polygon overlay with GEOMETRY output — pure Catalyst.

Re-expresses the reference's geometric-overlay family
(``vec_lyr_intersection_gp`` and friends, python/rsgislib/vectorgeoms/
__init__.py:1137-1401 — geopandas ``overlay(how=...)``) for the
engine's dominant overlay case: clipping a polygon layer by an
axis-aligned rectangle layer (grid cells, tile footprints, zone boxes —
``how='intersection'``).

The clip is Sutherland–Hodgman against the rect's four half-planes,
UNROLLED into Spark SQL higher-order array functions (``transform`` /
``flatten`` / ``element_at`` over ``array<array<double>>`` vertices) —
no UDF, whole plan JVM-side, and the identical formula emits a DuckDB
dialect twin so the output vertices are oracle-checkable bit-for-bit
(every intersection point is the same IEEE-double expression in both
engines).

Scale shape: candidate pairs via the engine's one candidate join
(``spatial_join.cell_pairs``, grid-cell rows, bbox-refined); the clip
itself is per-row column math (zero shuffle).  Arbitrary convex
clip polygons reduce to the same pass-per-edge unrolling; concave
clips need the general Weiler–Atherton walk, which the reference
itself delegates to GEOS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .spatial_join import _bbox_intersects, cell_pairs

__all__ = [
    "clip_rect_expr_sql",
    "overlay_intersection_rect",
    "diff_region_exprs_sql",
    "overlay_difference_rect",
    "rect_erase",
    "rect_sym_difference",
    "rect_union",
    "rect_identity",
]

_SIDES = ("xmin", "xmax", "ymin", "ymax")


def _clip_pass(dialect: str, verts: str, side: str, bound: str,
               k: int) -> str:
    """One Sutherland–Hodgman half-plane pass as a SQL expression.

    ``verts``: expression of type array<array<double>> (vertex = [x,y]);
    ``side``: which half-plane; ``bound``: SQL expression for the clip
    coordinate; ``k``: unique pass index (lambda names must not shadow
    across chained passes).  The vertex list is bound ONCE via a
    single-element ``transform`` (a poor man's LET), so chaining passes
    grows the expression linearly, not exponentially.
    """
    if dialect == "spark":
        tf, size_fn = "transform", "size"
        seq = "sequence(1, {n})"
        el = "element_at({a}, {i})"
        arr = "array({items})"
        empty = "CAST(array() AS array<array<double>>)"
    elif dialect == "duckdb":
        tf, size_fn = "list_transform", "len"
        seq = "generate_series(1, {n})"
        el = "list_extract({a}, {i})"
        arr = "[{items}]"
        empty = "CAST([] AS DOUBLE[][])"
    else:
        raise ValueError(dialect)

    v, i = f"_v{k}", f"_i{k}"
    axis = 1 if side in ("xmin", "xmax") else 2
    oax = 2 if axis == 1 else 1
    cmp_op = ">=" if side in ("xmin", "ymin") else "<="

    cur = el.format(a=v, i=i)
    prev = el.format(
        a=v, i=f"CASE WHEN {i} = 1 THEN {size_fn}({v}) ELSE {i} - 1 END")

    def coord(pt: str, ax: int) -> str:
        return el.format(a=f"({pt})", i=ax)

    def ins(pt: str) -> str:
        return f"{coord(pt, axis)} {cmp_op} ({bound})"

    # segment prev->cur crossing the clip line axis = bound:
    # t = (bound - prev_axis) / (cur_axis - prev_axis);
    # other = prev_oax + t * (cur_oax - prev_oax)
    t = (f"((({bound}) - {coord(prev, axis)})"
         f" / ({coord(cur, axis)} - {coord(prev, axis)}))")
    other = (f"({coord(prev, oax)} + {t}"
             f" * ({coord(cur, oax)} - {coord(prev, oax)}))")
    ipt = arr.format(items=f"({bound}), {other}" if axis == 1
                     else f"{other}, ({bound})")

    body = (f"CASE "
            f"WHEN {ins(cur)} AND {ins(prev)} THEN {arr.format(items=cur)} "
            f"WHEN {ins(cur)} THEN {arr.format(items=f'{ipt}, {cur}')} "
            f"WHEN {ins(prev)} THEN {arr.format(items=ipt)} "
            f"ELSE {empty} END")
    per_edges = (f"flatten({tf}({seq.format(n=f'{size_fn}({v})')}, "
                 f"{i} -> {body}))")
    guarded = (f"CASE WHEN {size_fn}({v}) >= 3 THEN {per_edges} "
               f"ELSE {empty} END")
    # bind the (possibly deeply nested) verts expression once
    return (f"flatten({tf}({arr.format(items=verts)}, "
            f"{v} -> {guarded}))")


def clip_rect_expr_sql(dialect: str, verts: str, xmin: str, xmax: str,
                       ymin: str, ymax: str) -> str:
    """Full rect clip: four chained half-plane passes (SH order)."""
    e = verts
    for k, (side, bound) in enumerate(zip(_SIDES, (xmin, xmax, ymin, ymax))):
        e = _clip_pass(dialect, e, side, bound, k)
    return e


#: the complement of a rect, partitioned into four disjoint regions:
#: West slab (x <= xmin), East slab (x >= xmax), South band and North
#: band (x inside, y outside).  ``poly \ rect`` = the four clips of the
#: polygon against these regions — each region is an intersection of
#: half-planes, so the same Sutherland–Hodgman passes apply.
_DIFF_REGIONS = (
    (("xmax", 0),),
    (("xmin", 1),),
    (("xmin", 0), ("xmax", 1), ("ymax", 2)),
    (("xmin", 0), ("xmax", 1), ("ymin", 3)),
)


def diff_region_exprs_sql(dialect: str, verts: str, xmin: str, xmax: str,
                          ymin: str, ymax: str) -> list[str]:
    """The four ``poly \\ rect`` part expressions (W/E/S/N regions)."""
    bounds = (xmin, xmax, ymin, ymax)
    out = []
    for r, passes in enumerate(_DIFF_REGIONS):
        e = verts
        for k, (side, bidx) in enumerate(passes):
            # distinct lambda indices across regions (10*r offset)
            e = _clip_pass(dialect, e, side, bounds[bidx], 10 * r + k)
        out.append(e)
    return out


_PBOX = ("pxmin", "pxmax", "pymin", "pymax")
_RBOX = ("rxmin", "rxmax", "rymin", "rymax")


def _poly_rect_pairs(polys: DataFrame, rects: DataFrame,
                     res: int) -> DataFrame:
    """Every (polygon, rect) pair whose bboxes strictly overlap, once
    (rects broadcast)."""
    return cell_pairs(polys, rects, _PBOX, _RBOX,
                      _bbox_intersects(_PBOX, _RBOX), res=res)


def overlay_intersection_rect(
    polys: DataFrame,
    rects: DataFrame,
    *,
    poly_key: str = "poly_id",
    verts_col: str = "verts",
    rect_key: str = "rect_id",
    res: int = 5,
) -> DataFrame:
    """``vec_lyr_intersection_gp`` for a rect clip layer, vertex rows out.

    ``polys``: (poly_key, verts array<array<double>>, pxmin/pxmax/
    pymin/pymax); ``rects``: (rect_key, rxmin/rxmax/rymin/rymax).
    Output: one row per clipped-polygon vertex
    (poly_id, rect_id, v_idx, vx, vy) — pairs whose intersection is
    empty (or degenerate, < 3 vertices) produce no rows, matching
    geopandas ``overlay`` dropping empty geometries.
    """
    cand = _poly_rect_pairs(polys, rects, res)
    clipped = clip_rect_expr_sql("spark", verts_col,
                                 "rxmin", "rxmax", "rymin", "rymax")
    out = cand.select(
        F.col(poly_key).alias("poly_id"),
        F.col(rect_key).alias("rect_id"),
        # degenerate (< 3 vertex) results drop; the single-element
        # transform binds the big clip expression once (LET)
        F.posexplode(F.expr(
            f"flatten(transform(array({clipped}), _f -> "
            f"CASE WHEN size(_f) >= 3 THEN _f "
            f"ELSE CAST(array() AS array<array<double>>) END))"
        )).alias("v_idx0", "_v"),
    )
    return out.select(
        "poly_id", "rect_id",
        (F.col("v_idx0") + 1).cast("long").alias("v_idx"),
        F.element_at("_v", 1).alias("vx"),
        F.element_at("_v", 2).alias("vy"),
    )


def overlay_difference_rect(
    polys: DataFrame,
    rects: DataFrame,
    *,
    poly_key: str = "poly_id",
    verts_col: str = "verts",
    rect_key: str = "rect_id",
    res: int = 5,
) -> DataFrame:
    """``vec_lyr_difference_gp`` for a rect clip layer, vertex rows out.

    Reference: ``vec_lyr_difference_gp`` (python/rsgislib/vectorgeoms/
    __init__.py:1189) / ``sym_difference`` (:1241) — geopandas
    ``overlay(how='difference')``.  ``poly \\ rect`` decomposes into the
    four clips of the polygon against the rect complement's disjoint
    W/E/S/N regions (each an intersection of half-planes, so the same
    Sutherland–Hodgman unrolling applies — still zero UDF, zero extra
    shuffle).  Output: one row per vertex of each non-degenerate part
    (poly_id, rect_id, part_idx 1-4, v_idx, vx, vy); polygons touching
    NO rect pass through whole (rect_id null, part_idx 0).

    Layer semantics match geopandas exactly when each polygon meets at
    most one rect (e.g. a single mask layer); with several overlapping
    rects the result is per-PAIR difference — for layer-level erase by
    many rects use :func:`rect_erase`.
    """
    cand = _poly_rect_pairs(polys, rects, res)
    parts = diff_region_exprs_sql("spark", verts_col,
                                  "rxmin", "rxmax", "rymin", "rymax")
    part_arr = ", ".join(
        f"CASE WHEN size({p}) >= 3 THEN {p} "
        f"ELSE CAST(array() AS array<array<double>>) END" for p in parts)
    matched = (
        cand.select(
            F.col(poly_key).alias("poly_id"),
            F.col(rect_key).alias("rect_id"),
            F.posexplode(F.expr(f"array({part_arr})"))
            .alias("part_idx0", "_pv"))
        .where(F.expr("size(_pv) >= 3"))
        .select("poly_id", "rect_id",
                (F.col("part_idx0") + 1).cast("long").alias("part_idx"),
                F.posexplode("_pv").alias("v_idx0", "_v"))
    )
    rect_type = rects.schema[rect_key].dataType.simpleString()
    untouched = (
        polys.join(cand.select(poly_key), poly_key, "left_anti")
        .select(F.col(poly_key).alias("poly_id"),
                F.expr(f"CAST(NULL AS {rect_type})").alias("rect_id"),
                F.lit(0).cast("long").alias("part_idx"),
                F.posexplode(verts_col).alias("v_idx0", "_v"))
    )
    return matched.unionByName(untouched).select(
        "poly_id", "rect_id", "part_idx",
        (F.col("v_idx0") + 1).cast("long").alias("v_idx"),
        F.element_at("_v", 1).alias("vx"),
        F.element_at("_v", 2).alias("vy"),
    )


def rect_erase(
    base: DataFrame,
    erase: DataFrame,
    *,
    base_key: str = "base_id",
    base_bbox=("bxmin", "bxmax", "bymin", "bymax"),
    erase_bbox=("exmin", "exmax", "eymin", "eymax"),
    res: int = 5,
) -> DataFrame:
    """LAYER-level rect difference: each base rect minus the UNION of
    every overlapping erase rect — exact geopandas ``how='difference'``
    semantics at any overlap multiplicity, entirely in Catalyst.

    Plan: vertical SLAB DECOMPOSITION.  Overlapping erase rects are
    clipped to the base; their x-bounds plus the base's split the base
    into slabs (lead() window); within each slab every clipped erase
    box either spans it fully or misses it (its bounds ARE slab
    boundaries), so coverage reduces to 1-D y-interval merging — the
    classic gaps-and-islands running-max window.  Uncovered gaps emit
    one part rect each.  Every operation is a comparison/min/max (no
    division, no trig), so results are bit-identical in any engine, and
    the only shuffles are the candidate cell join and the per-(base,
    slab) windows — both keyed finely enough to spread a hot base.

    Output: (base_key, part_idx, rxmin, rxmax, rymin, rymax); bases
    untouched by any erase rect emit themselves as part 1.
    """
    bx0, bx1, by0, by1 = base_bbox
    bbox = ("_bx0", "_bx1", "_by0", "_by1")
    ebox = ("_ex0", "_ex1", "_ey0", "_ey1")
    # clipped erase boxes per base (strict overlap only)
    boxes = cell_pairs(
        base.select(F.col(base_key).alias("_bk"),
                    *[F.col(c).alias(a) for c, a in zip(base_bbox, bbox)]),
        erase.select(*[F.col(c).alias(a) for c, a in zip(erase_bbox, ebox)]),
        bbox, ebox, _bbox_intersects(bbox, ebox), res=res, broadcast=False,
    ).select("_bk", *bbox,
             F.greatest("_ex0", "_bx0").alias("_cx0"),
             F.least("_ex1", "_bx1").alias("_cx1"),
             F.greatest("_ey0", "_by0").alias("_cy0"),
             F.least("_ey1", "_by1").alias("_cy1"))
    # x breakpoints -> slabs [x, next_x); ONE scan of boxes (explode),
    # not four union branches re-deriving the candidate join
    bps = (
        boxes.select("_bk", F.explode(F.array(
            "_cx0", "_cx1", "_bx0", "_bx1")).alias("_x"))
        .distinct()
    )
    w_bk = Window.partitionBy("_bk").orderBy("_x")
    slabs = (
        bps.withColumn("_xn", F.lead("_x").over(w_bk))
        .where(F.col("_xn").isNotNull())
    )
    # spanning boxes per slab (left join keeps empty slabs); rename the
    # slab-side key to keep the derived-from-boxes self-join unambiguous
    slabs = slabs.withColumnRenamed("_bk", "_sk")
    sb = slabs.join(
        boxes.select("_bk", "_cx0", "_cx1", "_cy0", "_cy1"),
        (F.col("_bk") == F.col("_sk"))
        & (F.col("_cx0") <= F.col("_x")) & (F.col("_cx1") >= F.col("_xn")),
        "left",
    ).select(F.col("_sk").alias("_bk"), "_x", "_xn", "_cy0", "_cy1")
    # base extent per key (re-attach; slab rows lost the by0/by1 columns)
    ext = base.select(F.col(base_key).alias("_bk"),
                      F.col(by0).alias("_by0"), F.col(by1).alias("_by1"))
    sb = sb.join(ext, "_bk")
    # gaps-and-islands: running max of covered ymax over preceding rows
    w_slab = (Window.partitionBy("_bk", "_x")
              .orderBy(F.col("_cy0").asc_nulls_last(),
                       F.col("_cy1").asc_nulls_last())
              .rowsBetween(Window.unboundedPreceding, -1))
    w_all = (Window.partitionBy("_bk", "_x")
             .orderBy(F.col("_cy0").asc_nulls_last(),
                      F.col("_cy1").asc_nulls_last())
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    gaps_before = (
        sb.withColumn("_cov", F.coalesce(F.max("_cy1").over(w_slab),
                                         F.col("_by0")))
        .withColumn("_g0", F.greatest("_cov", "_by0"))
        .where(F.col("_cy0").isNotNull() & (F.col("_cy0") > F.col("_g0")))
        .select("_bk", F.col("_x").alias("rxmin"), F.col("_xn").alias("rxmax"),
                F.col("_g0").alias("rymin"), F.col("_cy0").alias("rymax"))
    )
    gaps_after = (
        sb.withColumn("_top", F.coalesce(F.max("_cy1").over(w_all),
                                         F.col("_by0")))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("_bk", "_x").orderBy(
                F.col("_cy0").asc_nulls_last(), F.col("_cy1").asc_nulls_last())))
        .where((F.col("_rn") == 1) & (F.col("_top") < F.col("_by1")))
        .select("_bk", F.col("_x").alias("rxmin"), F.col("_xn").alias("rxmax"),
                F.col("_top").alias("rymin"), F.col("_by1").alias("rymax"))
    )
    untouched = (
        base.select(F.col(base_key).alias("_bk"),
                    F.col(bx0).alias("rxmin"), F.col(bx1).alias("rxmax"),
                    F.col(by0).alias("rymin"), F.col(by1).alias("rymax"))
        .join(boxes.select("_bk"), "_bk", "left_anti")
    )
    parts = gaps_before.unionByName(gaps_after).unionByName(untouched)
    w_part = Window.partitionBy("_bk").orderBy("rxmin", "rymin")
    return parts.withColumn(
        "part_idx", F.row_number().over(w_part).cast("long")
    ).select(F.col("_bk").alias(base_key), "part_idx",
             "rxmin", "rxmax", "rymin", "rymax")


def rect_sym_difference(
    a: DataFrame,
    b: DataFrame,
    *,
    a_key: str = "a_id",
    b_key: str = "b_id",
    a_bbox=("axmin", "axmax", "aymin", "aymax"),
    b_bbox=("bxmin", "bxmax", "bymin", "bymax"),
    res: int = 5,
) -> DataFrame:
    """Layer-level rect symmetric difference (``sym_difference``,
    vectorgeoms/__init__.py:1241): A parts outside every B, plus B
    parts outside every A — two :func:`rect_erase` passes tagged by
    ``side`` ('a'/'b').  Exact geopandas semantics at any multiplicity.
    """
    ea = rect_erase(a, b.select(*[F.col(c) for c in (b_key, *b_bbox)])
                    .toDF(b_key, "exmin", "exmax", "eymin", "eymax"),
                    base_key=a_key, base_bbox=a_bbox,
                    erase_bbox=("exmin", "exmax", "eymin", "eymax"), res=res)
    eb = rect_erase(b, a.select(*[F.col(c) for c in (a_key, *a_bbox)])
                    .toDF(a_key, "exmin", "exmax", "eymin", "eymax"),
                    base_key=b_key, base_bbox=b_bbox,
                    erase_bbox=("exmin", "exmax", "eymin", "eymax"), res=res)
    return (
        ea.select(F.lit("a").alias("side"),
                  F.col(a_key).cast("long").alias("feat_id"),
                  "part_idx", "rxmin", "rxmax", "rymin", "rymax")
        .unionByName(
            eb.select(F.lit("b").alias("side"),
                      F.col(b_key).cast("long").alias("feat_id"),
                      "part_idx", "rxmin", "rxmax", "rymin", "rymax"))
    )


def _rect_inter(a: DataFrame, b: DataFrame, a_key: str, b_key: str,
                a_bbox, b_bbox, res: int) -> DataFrame:
    """The pairwise A∩B intersection boxes of :func:`rect_union` and
    :func:`rect_identity` (kind 'int', both keys, part 1)."""
    ax0, ax1, ay0, ay1 = a_bbox
    bx0, bx1, by0, by1 = b_bbox
    return cell_pairs(
        a.select(F.col(a_key).alias("_ak"), *a_bbox),
        b.select(F.col(b_key).alias("_bk2"), *b_bbox),
        a_bbox, b_bbox, _bbox_intersects(a_bbox, b_bbox), res=res,
        broadcast=False,
    ).select(F.lit("int").alias("kind"),
             F.col("_ak").cast("long").alias("a_id"),
             F.col("_bk2").cast("long").alias("b_id"),
             F.greatest(ax0, bx0).alias("rxmin"),
             F.least(ax1, bx1).alias("rxmax"),
             F.greatest(ay0, by0).alias("rymin"),
             F.least(ay1, by1).alias("rymax"),
             F.lit(1).cast("long").alias("part_idx"))


def rect_union(
    a: DataFrame,
    b: DataFrame,
    *,
    a_key: str = "a_id",
    b_key: str = "b_id",
    a_bbox=("axmin", "axmax", "aymin", "aymax"),
    b_bbox=("bxmin", "bxmax", "bymin", "bymax"),
    res: int = 5,
) -> DataFrame:
    """Layer-level rect overlay union (``vec_lyr_union_gp`` role,
    vectorgeoms/__init__.py:1350 — geopandas ``overlay(how='union')``):
    pairwise A∩B intersection boxes (kind 'int', both keys) plus the
    symmetric-difference remainders (kind 'a'/'b', one key each).
    """
    inter = _rect_inter(a, b, a_key, b_key, a_bbox, b_bbox, res)
    sym = rect_sym_difference(a, b, a_key=a_key, b_key=b_key,
                              a_bbox=a_bbox, b_bbox=b_bbox, res=res)
    rest = sym.select(
        F.col("side").alias("kind"),
        F.when(F.col("side") == "a", F.col("feat_id")).alias("a_id"),
        F.when(F.col("side") == "b", F.col("feat_id")).alias("b_id"),
        "rxmin", "rxmax", "rymin", "rymax", "part_idx")
    return inter.unionByName(rest)


def rect_identity(
    a: DataFrame,
    b: DataFrame,
    *,
    a_key: str = "a_id",
    b_key: str = "b_id",
    a_bbox=("axmin", "axmax", "aymin", "aymax"),
    b_bbox=("bxmin", "bxmax", "bymin", "bymax"),
    res: int = 5,
) -> DataFrame:
    """Layer-level rect overlay identity (``vec_lyr_identity_gp``,
    vectorgeoms/__init__.py:1305 — geopandas ``overlay(how=
    'identity')``): the A∩B intersection pieces carrying both keys plus
    the A-only remainder (A erased by B) — i.e. union without the
    B-only pieces, so the result's coverage is exactly layer A.  One
    slab-decomposition erase pass instead of union's two.
    """
    inter = _rect_inter(a, b, a_key, b_key, a_bbox, b_bbox, res)
    a_only = rect_erase(
        a.select(F.col(a_key).alias("base_id"),
                 F.col(a_bbox[0]).alias("bxmin"),
                 F.col(a_bbox[1]).alias("bxmax"),
                 F.col(a_bbox[2]).alias("bymin"),
                 F.col(a_bbox[3]).alias("bymax")),
        b.select(F.col(b_bbox[0]).alias("exmin"),
                 F.col(b_bbox[1]).alias("exmax"),
                 F.col(b_bbox[2]).alias("eymin"),
                 F.col(b_bbox[3]).alias("eymax")),
        res=res,
    ).select(F.lit("a").alias("kind"),
             F.col("base_id").cast("long").alias("a_id"),
             F.lit(None).cast("long").alias("b_id"),
             "rxmin", "rxmax", "rymin", "rymax", "part_idx")
    return inter.unionByName(a_only)
