"""Distributed spatial join: the engine's flagship operator.

Re-expresses ``rsgislib.vectorutils.perform_spatial_join`` (reference:
python/rsgislib/vectorutils/__init__.py:2159-2223 — geopandas ``sjoin`` with
``how in {left, right, inner}`` and ``op in {intersects, within,
contains}``) as a two-phase Spark plan:

1. **candidate generation** — :func:`cell_pairs_sql`, the engine's one
   candidate join, built as SQL text: each side is keyed by the
   grid-cell ROWS its bbox spans (``geo.cellindex``'s latitude index; a
   point is one row), the two equi-join on ``cell_row`` under the
   caller's predicate text, and a pair sharing several rows is kept on
   its first.  Catalyst gets a hash/broadcast/sort-merge join with all
   its machinery (AQE, DPP).  :func:`cell_pairs` runs the same text over
   two DataFrames; ``queries.flagship`` splices it into one statement
   with its inputs' synth SQL, so that plan is analysed once.  As in
   Raptor (VLDB 2019), rows grow with a geometry's height, not its
   area: a world bbox at res 12 is 4,096 rows, not 16.7 M cells.  The
   rtree of the reference is replaced by this key — the "spatial
   pushdown".

2. **exact refinement** — a deterministic geometry predicate over the
   candidate pairs.  For the bbox fast path this is pure Catalyst column
   comparisons (reference envelope semantics, geometrytools.py:82-123:
   *strict* inequalities for bbox-bbox intersects/contains; point-in-bbox
   uses the half-open ``min <= p < max`` convention so every point maps to
   exactly one cell-sized slot).  For general polygons the refinement is a
   vectorized ray-casting PIP (``geo.geometry``) in an Arrow UDF.

Scale levers (SURVEY.md §4.2):

* small zone layers are broadcast (`broadcast=True`, the default) — no
  shuffle of the big side at all;
* big-big joins use sort-merge on ``cell_row`` with optional **explicit
  salting**: the probe side adds ``salt = pmod(xxhash64(bbox), n_salt)``,
  the build side explodes all ``n_salt`` values per row.  This splits a
  single hot row (AQE skew-join cannot split one key) — the megacity's
  latitude band in the synthetic world is exactly that case.

Like geopandas sjoin, the output keeps base-side rows/geometry plus the
joined side's attributes and an ``index_right`` column; ``how='left'``
keeps unmatched base rows with null attributes, ``how='right'`` keeps all
join rows, ``inner`` only matches.  An empty result is an empty DataFrame
(the reference's "no output file written" materialization rule,
vectorutils/__init__.py:2219-2223, belongs to the sink layer).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions import codec
from ..geo.cellindex import DEFAULT_RES, _RES_SHIFT, _X_SHIFT, cell_sql_expr

__all__ = [
    "with_point_cell",
    "with_bbox_cells",
    "cell_pairs_sql",
    "cell_pairs",
    "spatial_join",
    "spatial_join_poly",
    "vec_intersects_vec",
    "vec_predicate_vec",
    "spatial_select",
    "JOIN_OPS",
    "JOIN_HOWS",
]

JOIN_OPS = ("intersects", "within", "contains")
JOIN_HOWS = ("left", "right", "inner")
_XY = ("xmin", "xmax", "ymin", "ymax")


def with_point_cell(df: DataFrame, lon: str = "lon", lat: str = "lat",
                    res: int = DEFAULT_RES, out: str = "cell") -> DataFrame:
    """Assign the containing grid cell — pure Catalyst arithmetic (no UDF)."""
    return df.withColumn(out, F.expr(cell_sql_expr(lon, lat, res)))


def _axis_idx(expr: str, origin: float, extent: float, n: int) -> str:
    """SQL text of the clamped grid index of ``expr`` along one axis:
    ``cellindex.cell_of_point``'s ``nx``/``ny`` with double literals."""
    c = (f"floor((({expr}) + CAST({origin!r} AS DOUBLE)) / "
         f"CAST({extent!r} AS DOUBLE) * CAST({float(n)!r} AS DOUBLE))")
    return f"CAST(least(greatest({c}, 0), {n - 1}) AS BIGINT)"


def _axis_range(lo: str, hi: str, origin: float, extent: float,
                n: int) -> str:
    """SQL text exploding ``[idx(lo), idx(hi)]`` to one row per index."""
    return (f"explode(sequence({_axis_idx(lo, origin, extent, n)}, "
            f"{_axis_idx(hi, origin, extent, n)}))")


def with_bbox_cells(df: DataFrame, xmin: str, xmax: str, ymin: str, ymax: str,
                    res: int = DEFAULT_RES, out: str = "cell") -> DataFrame:
    """Explode each bbox row to one row per covering cell (polyfill).

    Implemented with ``sequence``/``explode`` so it stays JVM-side; the
    covering includes boundary cells (candidate superset — refinement
    removes false positives).
    """
    n = 1 << res
    return (
        df.withColumn("_nx", F.expr(_axis_range(xmin, xmax, 180.0, 360.0, n)))
        .withColumn("_ny", F.expr(_axis_range(ymin, ymax, 90.0, 180.0, n)))
        .withColumn(out, F.expr(f"CAST({res} AS BIGINT) * {_RES_SHIFT}"
                                f" + _nx * {_X_SHIFT} + _ny"))
        .drop("_nx", "_ny")
    )


# The refinement predicates are SQL text, spliced into the candidate
# join's statement (:func:`cell_pairs_sql`).  ``a AND b AND c`` nests to
# the left, exactly as ``a & b & c`` does.
def _point_in_bbox(lon: str, lat: str, bxmin: str, bxmax: str,
                   bymin: str, bymax: str) -> str:
    """Half-open point-in-bbox: min <= p < max (one slot per point)."""
    return (f"{lon} >= {bxmin} AND {lon} < {bxmax}"
            f" AND {lat} >= {bymin} AND {lat} < {bymax}")


def _bbox_intersects(a: Iterable[str], b: Iterable[str],
                     strict: bool = True) -> str:
    """Bbox-bbox overlap: strict (geometrytools.py:82-102) or, with
    ``strict=False``, inclusive (touching bboxes overlap)."""
    axmin, axmax, aymin, aymax = a
    bxmin, bxmax, bymin, bymax = b
    gt = ">" if strict else ">="
    return (f"{axmax} {gt} {bxmin} AND {bxmax} {gt} {axmin}"
            f" AND {aymax} {gt} {bymin} AND {bymax} {gt} {aymin}")


def _bbox_contains(a: Iterable[str], b: Iterable[str]) -> str:
    """Strict a-contains-b (geometrytools.py:104-123)."""
    axmin, axmax, aymin, aymax = a
    bxmin, bxmax, bymin, bymax = b
    return (f"{axmin} < {bxmin} AND {axmax} > {bxmax}"
            f" AND {aymin} < {bymin} AND {aymax} > {bymax}")


def _keyed_sql(rel: str, box: Iterable[str], res: int, row0: str) -> str:
    """SQL text of ``rel`` with one row per grid-cell row its bbox spans
    (``cell_row``) and its first row (``row0``); a one-column y-range (a
    point) is not exploded."""
    n = 1 << res
    _, _, ymin, ymax = box
    first = _axis_idx(ymin, 90.0, 180.0, n)
    rows = first if ymin == ymax else _axis_range(ymin, ymax, 90.0, 180.0, n)
    return f"SELECT *, {first} AS {row0}, {rows} AS cell_row FROM {rel}"


#: the key columns :func:`cell_pairs_sql` adds to both sides' columns
_PAIR_KEYS = ("cell_row", "_salt", "_row0_l", "_row0_r")


def cell_pairs_sql(left: str, right: str,
                   left_box: Iterable[str], right_box: Iterable[str],
                   on: str, *, res: int, broadcast: bool = True,
                   n_salt: int | None = None) -> str:
    """SQL text of every (left, right) row pair satisfying ``on``, each
    exactly once: the engine's one candidate join.

    ``left`` / ``right`` are relations (a view name or a parenthesised
    subquery); ``left_box`` / ``right_box`` name each side's (xmin, xmax,
    ymin, ymax) columns, and a point side passes ``(lon, lon, lat,
    lat)`` and is not exploded.  The sides equi-join on ``cell_row``
    under the SQL predicate ``on``, which must imply overlapping closed
    y-ranges (every predicate here does); x is not keyed, ``on`` decides
    it.  A pair sharing several rows is kept on the first, the
    ``greatest`` of the two start rows.  ``broadcast`` hints the right
    side; otherwise ``n_salt`` splits a hot row over ``n_salt`` tasks
    (left salted by a hash of its bbox, right replicated per salt).

    Output: both sides' columns plus the key columns ``_PAIR_KEYS``
    (``_salt`` only when salted).
    """
    lk = _keyed_sql(left, left_box, res, "_row0_l")
    rk = _keyed_sql(right, right_box, res, "_row0_r")
    keys, hint = "cell_row", ""
    if broadcast:
        hint = "/*+ BROADCAST(_r) */ "
    elif n_salt:
        lk = (f"SELECT *, pmod(xxhash64({', '.join(left_box)}), {n_salt})"
              f" AS _salt FROM ({lk})")
        rk = (f"SELECT *, explode(array("
              f"{', '.join(map(str, range(n_salt)))})) AS _salt FROM ({rk})")
        keys += ", _salt"
    return (f"SELECT {hint}* FROM ({lk}) _l JOIN ({rk}) _r USING ({keys})"
            f" WHERE ({on}) AND cell_row = greatest(_row0_l, _row0_r)")


def cell_pairs(left: DataFrame, right: DataFrame,
               left_box: Iterable[str], right_box: Iterable[str],
               on: str, *, res: int, broadcast: bool = True,
               n_salt: int | None = None) -> DataFrame:
    """:func:`cell_pairs_sql` over two DataFrames: both sides' columns
    for every pair satisfying the SQL predicate ``on``, each once."""
    sql = cell_pairs_sql("{left}", "{right}", left_box, right_box, on,
                         res=res, broadcast=broadcast, n_salt=n_salt)
    return left.sparkSession.sql(sql, left=left, right=right) \
        .drop(*_PAIR_KEYS)


def spatial_join(
    base: DataFrame,
    join: DataFrame,
    *,
    how: str = "inner",
    op: str = "within",
    base_geom: str = "point",          # 'point' | 'bbox'
    base_cols=("lon", "lat"),           # point cols or bbox cols (4)
    join_bbox=("zxmin", "zxmax", "zymin", "zymax"),
    base_key: str = "image_id",
    join_key: str = "zone_id",
    res: int = DEFAULT_RES,
    broadcast: bool = True,
    n_salt: int | None = None,
) -> DataFrame:
    """Spatial join of a big base layer against a (bbox-geometry) join layer.

    Validation mirrors the reference (vectorutils/__init__.py:2196-2199).
    Output = base columns + join attribute columns + ``index_right``
    (= matched ``join_key``), geopandas-style.
    """
    if how not in JOIN_HOWS + ("semi",):
        raise ValueError("The join_how specified is not valid.")
    if op not in JOIN_OPS:
        raise ValueError("The join_op specified is not valid.")

    # geopandas sjoin suffixing: attribute columns present on BOTH sides
    # keep the base's name and the join side gains ``_right`` (geopandas
    # lsuffix/rsuffix defaults with lsuffix applied only on true clashes;
    # our base keeps its column so only the right side renames).
    clash = (set(base.columns) & set(join.columns)) - {join_key}
    if clash:
        join = join.select(*[
            F.col(c).alias(f"{c}_right") if c in clash else F.col(c)
            for c in join.columns
        ])
        join_bbox = tuple(f"{c}_right" if c in clash else c
                          for c in join_bbox)

    if base_geom == "point":
        lon, lat = base_cols
        base_box = (lon, lon, lat, lat)
        # for a point, within == intersects; contains never holds for a
        # non-degenerate polygon — mirror geopandas' row-wise predicate.
        if op in ("within", "intersects"):
            pred = _point_in_bbox(lon, lat, *join_bbox)
        else:  # contains
            pred = "false"
    elif base_geom == "bbox":
        base_box = tuple(base_cols)
        if op == "intersects":
            pred = _bbox_intersects(base_box, join_bbox)
        elif op == "within":
            pred = _bbox_contains(join_bbox, base_box)
        else:  # contains
            pred = _bbox_contains(base_box, join_bbox)
    else:
        raise ValueError(f"unknown base_geom {base_geom!r}")

    join_attrs = [c for c in join.columns if c != join_key]
    matched = cell_pairs(base, join, base_box, join_bbox, pred, res=res,
                         broadcast=broadcast, n_salt=n_salt) \
        .withColumn("index_right", F.col(join_key))

    if how == "inner":
        return matched
    if how == "semi":
        # spatial semi-join: base rows with >= 1 match, each exactly once
        # (spatial_select_gp's sjoin + dedupe-on-FID, vectorutils:1562-1615).
        return base.join(matched.select(base_key), base_key, "left_semi")
    if how == "left":
        attach = matched.select(base_key, "index_right", *join_attrs)
        return base.join(attach, base_key, "left")
    # right: keep every join row, attach matched base rows
    attach = matched.select(*base.columns, "index_right")
    return join.withColumn("index_right", F.col(join_key)).join(
        attach, "index_right", "left"
    )


_POLY_PAIR_SCHEMA = StructType([StructField("image_id", StringType()),
                                StructField("poly_id", LongType())])


def spatial_join_poly(
    points: DataFrame,
    polys: DataFrame,
    *,
    point_key: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
    poly_key: str = "poly_id",
    verts_col: str = "verts",
    res: int = DEFAULT_RES,
) -> DataFrame:
    """Point-in-POLYGON join for general (non-bbox) polygon layers.

    The general-geometry path of ``perform_spatial_join``: candidate
    generation is the same :func:`cell_pairs` row join, refinement is
    the vectorized ray-casting PIP of ``geo.geometry.points_in_polygon``
    run over Arrow batches with ``mapInArrow`` on the candidates'
    EXISTING partitioning — each batch vectorizes per polygon-within-
    batch, so no shuffle is spent on refinement and a continent-sized
    hot polygon's candidates stay spread across however many tasks
    produced them (the per-point PIP test is row-independent, so any
    partitioning is correct).

    ``polys`` needs (poly_key, verts_col = array<array<double>> ring
    vertices, pxmin/pxmax/pymin/pymax bbox columns).  Output: matched
    (point_key, poly_key) pairs.
    """
    from ..geo.geometry import points_in_polygon

    pbox = tuple(f"p{c}" for c in _XY)
    cand = cell_pairs(
        points.select(point_key, lon, lat),
        polys.select(poly_key, verts_col, *pbox),
        (lon, lon, lat, lat), pbox, _point_in_bbox(lon, lat, *pbox), res=res,
    ).select(point_key, lon, lat, poly_key, verts_col)

    def spatial_join_poly_refine(batches):
        for batch in batches:
            keys = batch.column(poly_key).to_pylist()
            xs, ys = (np.asarray(batch.column(c).to_pylist(), np.float64)
                      for c in (lon, lat))
            rows = {}
            for i, k in enumerate(keys):
                rows.setdefault(k, []).append(i)
            inside = np.zeros(batch.num_rows, dtype=bool)
            for idx in rows.values():
                poly = np.asarray(batch.column(verts_col)[idx[0]].as_py(),
                                  dtype=np.float64)
                inside[idx] = points_in_polygon(xs[idx], ys[idx], poly)
            kept = np.nonzero(inside)[0]
            yield codec.to_batch(
                {"image_id": batch.column(point_key).take(kept),
                 "poly_id": batch.column(poly_key).take(kept)},
                _POLY_PAIR_SCHEMA)

    return cand.mapInArrow(spatial_join_poly_refine, _POLY_PAIR_SCHEMA)


def spatial_select(base: DataFrame, roi: DataFrame, **kw) -> DataFrame:
    """Spatial semi-join: base features intersecting >= 1 ROI feature.

    Reference: ``spatial_select_gp`` (vectorutils/__init__.py:1562-1615) —
    inner sjoin then dedupe on a temp FID; and the slow-path
    ``spatial_select`` (:2565-2610).  Here it is a ``left_semi`` join on
    the cell-row key + exact refinement, so the base side is never duplicated
    and no join-side attributes are shuffled at all.
    """
    kw.setdefault("op", "intersects")
    return spatial_join(base, roi, how="semi", **kw)


def vec_predicate_vec(
    polys_a: DataFrame,
    polys_b: DataFrame,
    *,
    predicate: str = "intersects",
    a_key: str = "poly_id",
    b_key: str = "poly_id",
    verts_col: str = "verts",
    exclude_same_key: bool = False,
    res: int = 5,
    broadcast: bool = False,
) -> DataFrame:
    """Layer-vs-layer polygon boolean join family (``vec_*_vec``).

    Reference: the exists-join family ``vec_intersects_vec`` /
    ``vec_within_vec`` / ``vec_contains_vec`` / ``vec_overlaps_vec`` /
    ``vec_touches_vec`` / ``vec_crosses_vec`` (python/rsgislib/
    vectorgeoms/__init__.py:2608, 2675, 2746 et seq.) — for every A
    feature, whether (and how many) B features satisfy the predicate.

    Scale shape: candidate pairs come from the :func:`cell_pairs` row
    equi-join (coarse ``res`` — the same key as every other join here,
    so Catalyst gets hash/sort-merge + AQE skew handling at ANY layer
    size; set ``broadcast=True`` only to force the hint for a provably
    tiny B layer — by default AQE's runtime size statistics make that
    call), refined by an INCLUSIVE bbox test
    (touching bboxes stay candidates — required for ``touches``), then
    the exact predicate runs VECTORIZED over each Arrow batch
    (``geo.geometry.poly_pair_predicate``: pad-to-max-verts tensors,
    no per-pair Python loop) on the candidates' existing partitioning —
    no shuffle is spent on refinement.

    Both layers need (key, verts array<array<double>>, pxmin/pxmax/
    pymin/pymax).  Output: one row per A feature — (a_key, n_match,
    any_match), zeros kept.  The output key column keeps ``polys_a``'s
    key name AND type (string keys work; nothing is coerced).
    """
    from ..geo.geometry import PAIR_PREDICATES, poly_pair_predicate

    if predicate not in PAIR_PREDICATES:
        raise ValueError(f"unknown pair predicate {predicate!r}")

    key_field = polys_a.schema[a_key]
    out_schema = StructType([
        StructField("akey", key_field.dataType, True),
        StructField("hit", LongType(), True),
    ])

    def layer(polys: DataFrame, key: str, s: str) -> DataFrame:
        return polys.select(F.col(key).alias(f"{s}key"),
                            F.col(verts_col).alias(f"{s}v"),
                            *[F.col(f"p{c}").alias(f"_{s}{c}") for c in _XY])

    abox, bbox = (tuple(f"_{s}{c}" for c in _XY) for s in "ab")
    # inclusive bbox prefilter: touching bboxes remain candidates
    on = _bbox_intersects(abox, bbox, strict=False)
    if exclude_same_key:
        on += " AND akey != bkey"
    cand = cell_pairs(layer(polys_a, a_key, "a"), layer(polys_b, b_key, "b"),
                      abox, bbox, on,
                      res=res, broadcast=broadcast).select("akey", "av", "bv")

    def vec_predicate_vec_refine(batches):
        for batch in batches:
            hits = poly_pair_predicate(batch.column("av").to_pylist(),
                                       batch.column("bv").to_pylist(),
                                       predicate)
            yield codec.to_batch({"akey": batch.column("akey"),
                                  "hit": np.asarray(hits, np.int64)},
                                 out_schema)

    agg = (
        cand.mapInArrow(vec_predicate_vec_refine, out_schema)
        .groupBy("akey").agg(F.sum("hit").alias("n_match"))
    )
    return (
        polys_a.select(F.col(a_key).alias("akey"))
        .join(agg, "akey", "left")
        .fillna({"n_match": 0})
        .withColumn("any_match", F.col("n_match") > 0)
        .withColumnRenamed("akey", a_key)
    )


def vec_intersects_vec(
    polys_a: DataFrame,
    polys_b: DataFrame,
    *,
    a_key: str = "poly_id",
    b_key: str = "poly_id",
    verts_col: str = "verts",
    exclude_same_key: bool = False,
) -> DataFrame:
    """``vec_intersects_vec`` — kept as the predicate family's front door.

    Output: one row per A feature — (a_key, n_intersecting,
    any_intersects), zeros kept.  See :func:`vec_predicate_vec`.
    """
    out = vec_predicate_vec(polys_a, polys_b, predicate="intersects",
                            a_key=a_key, b_key=b_key, verts_col=verts_col,
                            exclude_same_key=exclude_same_key)
    return out.withColumnRenamed("n_match", "n_intersecting") \
        .withColumnRenamed("any_match", "any_intersects")
