"""Spatial join operator vs brute-force pandas oracle (sjoin semantics)."""

import numpy as np
import pandas as pd
import pytest

from rsgislib_spark import synth
from rsgislib_spark.operators.spatial_join import spatial_join, with_point_cell


@pytest.fixture(scope="module")
def layers(spark, sf_dir):
    images = synth.synth_images(spark, sf_dir, with_bytes=False)
    zones = synth.synth_zones(spark, sf_dir)
    return images, zones, images.toPandas(), zones.toPandas()


def brute_pairs(ipdf, zpdf):
    """Oracle: half-open point-in-rect over the cross product."""
    pairs = set()
    for _, z in zpdf.iterrows():
        m = ipdf[(ipdf.lon >= z.zxmin) & (ipdf.lon < z.zxmax)
                 & (ipdf.lat >= z.zymin) & (ipdf.lat < z.zymax)]
        pairs.update((iid, int(z.zone_id)) for iid in m.image_id)
    return pairs


def test_inner_point_within_matches_oracle(layers):
    images, zones, ipdf, zpdf = layers
    out = spatial_join(images, zones, how="inner", op="within").toPandas()
    got = set(zip(out.image_id, out.zone_id.astype(int)))
    assert got == brute_pairs(ipdf, zpdf)
    assert "index_right" in out.columns
    assert (out.index_right == out.zone_id).all()


def test_left_join_keeps_all_base_rows(layers):
    images, zones, ipdf, zpdf = layers
    out = spatial_join(images, zones, how="left", op="within").toPandas()
    matched = brute_pairs(ipdf, zpdf)
    n_matched_rows = len(matched)
    n_unmatched = len(set(ipdf.image_id) - {i for i, _ in matched})
    assert len(out) == n_matched_rows + n_unmatched
    assert set(out.image_id) == set(ipdf.image_id)
    assert out[out.index_right.isna()].shape[0] == n_unmatched


def test_right_join_keeps_all_zones(layers):
    images, zones, ipdf, zpdf = layers
    out = spatial_join(images, zones, how="right", op="within").toPandas()
    assert set(out.zone_id) == set(zpdf.zone_id)
    empty_zones = {int(z) for z in zpdf.zone_id} - {z for _, z in brute_pairs(ipdf, zpdf)}
    assert set(out[out.image_id.isna()].zone_id.astype(int)) == empty_zones


def test_footprint_intersects_matches_strict_bbox_oracle(layers):
    images, zones, ipdf, zpdf = layers
    out = spatial_join(
        images, zones, how="inner", op="intersects",
        base_geom="bbox", base_cols=("xmin", "xmax", "ymin", "ymax"),
    ).toPandas()
    got = set(zip(out.image_id, out.zone_id.astype(int)))
    exp = set()
    for _, z in zpdf.iterrows():
        m = ipdf[(ipdf.xmax > z.zxmin) & (z.zxmax > ipdf.xmin)
                 & (ipdf.ymax > z.zymin) & (z.zymax > ipdf.ymin)]
        exp.update((iid, int(z.zone_id)) for iid in m.image_id)
    assert got == exp
    # pair-dedupe: no image-zone pair may appear twice
    assert not out.duplicated(["image_id", "zone_id"]).any()


def test_salted_sort_merge_equals_broadcast(layers):
    images, zones, ipdf, zpdf = layers
    bc = spatial_join(images, zones, how="inner", op="within",
                      broadcast=True).toPandas()
    salted = spatial_join(images, zones, how="inner", op="within",
                          broadcast=False, n_salt=8).toPandas()
    assert set(zip(bc.image_id, bc.zone_id)) == set(zip(salted.image_id, salted.zone_id))


def test_invalid_how_op_raise(layers):
    images, zones, _, _ = layers
    with pytest.raises(ValueError):
        spatial_join(images, zones, how="outer")
    with pytest.raises(ValueError):
        spatial_join(images, zones, op="touches")


def test_cell_assignment_matches_numpy(layers, spark):
    from rsgislib_spark.geo.cellindex import cell_of_point

    images, _, ipdf, _ = layers
    got = with_point_cell(images).select("id", "cell").toPandas().sort_values("id")
    exp = cell_of_point(ipdf.sort_values("id").lon.values,
                        ipdf.sort_values("id").lat.values)
    assert np.array_equal(got.cell.values, exp)


def test_sjoin_poly_hot_polygon_multi_task(spark):
    """One continent-sized polygon with thousands of candidate points:
    refinement must not serialize into a single task (the old
    groupBy(poly).applyInPandas shape), and results stay exact."""
    from pyspark.sql import functions as F

    from rsgislib_spark.operators.spatial_join import spatial_join_poly

    pts = spark.range(5000).select(
        F.col("id").cast("string").alias("image_id"),
        (-150.0 + (F.col("id") % 100) * 3.0).alias("lon"),
        (-70.0 + (F.col("id") % 47) * 3.0).alias("lat"),
    ).repartition(8)
    # triangle covering the west half of the world
    polys = spark.createDataFrame(
        [(1, [[-180.0, -90.0], [180.0, -90.0], [-180.0, 90.0]],
          -180.0, 180.0, -90.0, 90.0)],
        "poly_id long, verts array<array<double>>, pxmin double,"
        " pxmax double, pymin double, pymax double")
    out = spatial_join_poly(pts, polys)
    # no aggregation/grouping shuffle in the refinement plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsIn" not in plan
    rows = out.collect()
    got = {r.image_id for r in rows}
    # brute-force PIP: strictly below the hypotenuse lat < -lon (scaled)
    exp = set()
    for i in range(5000):
        lon = -150.0 + (i % 100) * 3.0
        lat = -70.0 + (i % 47) * 3.0
        # ray-cast against the same triangle via the repo kernel
        import numpy as np

        from rsgislib_spark.geo.geometry import points_in_polygon
        tri = np.array([[-180.0, -90.0], [180.0, -90.0], [-180.0, 90.0]])
        if points_in_polygon(np.array([lon]), np.array([lat]), tri)[0]:
            exp.add(str(i))
    assert got == exp and len(exp) > 100


def test_zonal_poly_salt_invariance(spark, sf_dir):
    """n_salt cannot change zonal_stats_poly results (order-independent
    partials), and the default salting handles a hot image."""
    from pyspark.sql import functions as F

    from rsgislib_spark import synth
    from rsgislib_spark.operators.zonal import zonal_stats_poly

    img = synth.attach_bytes(
        synth.synth_images(spark, sf_dir, with_footprint=True)
        .where("id % 7 = 0")
        .repartition(8))
    zones = synth.synth_zones(spark, sf_dir)
    tri = zones.select(
        F.col("zone_id").alias("poly_id"),
        F.array(F.array("zxmin", "zymin"), F.array("zxmax", "zymin"),
                F.array("zxmin", "zymax")).alias("verts"),
        F.col("zxmin").alias("pxmin"), F.col("zxmax").alias("pxmax"),
        F.col("zymin").alias("pymin"), F.col("zymax").alias("pymax"))
    a = sorted(map(tuple, zonal_stats_poly(img, tri, n_salt=1).collect()))
    b = sorted(map(tuple, zonal_stats_poly(img, tri, n_salt=8).collect()))
    assert a == b and len(a) == 25


def _poly_df(spark, rows, key_type="string"):
    """rows: (key, [[x,y],...]) -> layer frame with bbox columns."""
    from pyspark.sql import functions as F
    data = []
    for k, verts in rows:
        xs = [v[0] for v in verts]
        ys = [v[1] for v in verts]
        data.append((k, verts, min(xs), max(xs), min(ys), max(ys)))
    return spark.createDataFrame(
        data, f"poly_id {key_type}, verts array<array<double>>, "
              "pxmin double, pxmax double, pymin double, pymax double")


def test_vec_predicate_family(spark):
    """GEOS-semantics checks on crafted rings: within/contains allow
    boundary sharing, overlaps needs mutual non-containment, touches is
    boundary-only contact (edge AND corner), crosses is identically
    False for polygon pairs, and string keys pass through untouched."""
    from rsgislib_spark.operators.spatial_join import vec_predicate_vec

    unit = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]]
    inner = [[2.0, 2.0], [5.0, 2.0], [5.0, 5.0], [2.0, 5.0]]
    half_tri = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]]     # shares boundary
    shifted = [[5.0, 5.0], [15.0, 5.0], [15.0, 15.0], [5.0, 15.0]]
    east = [[10.0, 0.0], [20.0, 0.0], [20.0, 10.0], [10.0, 10.0]]  # edge touch
    corner = [[10.0, 10.0], [20.0, 10.0], [20.0, 20.0], [10.0, 20.0]]
    far = [[50.0, 50.0], [60.0, 50.0], [60.0, 60.0], [50.0, 60.0]]
    a = _poly_df(spark, [("unit", unit)])
    b = _poly_df(spark, [("inner", inner), ("half", half_tri),
                         ("shift", shifted), ("east", east),
                         ("corner", corner), ("far", far)])

    def run(pred, polys_a=a, polys_b=b):
        out = vec_predicate_vec(polys_a, polys_b, predicate=pred)
        return {r.poly_id: r.n_match for r in out.collect()}

    # unit intersects everything except far
    assert run("intersects") == {"unit": 5}
    # inner and half are within unit -> contains; unit within nothing
    assert run("contains") == {"unit": 2}
    assert run("within") == {"unit": 0}
    assert run("within", b, a) == {"inner": 1, "half": 1, "shift": 0,
                                   "east": 0, "corner": 0, "far": 0}
    # overlaps: only the partially-overlapping shifted square
    assert run("overlaps") == {"unit": 1}
    # touches: shared-edge AND shared-corner contact, nothing interior
    assert run("touches") == {"unit": 2}
    assert run("touches", b, a) == {"inner": 0, "half": 0, "shift": 0,
                                    "east": 1, "corner": 1, "far": 0}
    # crosses: identically False for area/area (OGC)
    assert run("crosses") == {"unit": 0}


def test_vec_predicate_refine_is_vectorized(spark):
    """Timing guard on the batched refine: a candidate set of ~20k
    polygon pairs must clear in seconds (the round-2 per-pair Python
    loop took minutes at this size)."""
    import time

    from pyspark.sql import functions as F

    from rsgislib_spark.operators.spatial_join import vec_predicate_vec

    # 30x30 grid of 1.5-unit squares on unit centers -> each overlaps
    # its 8 neighbours; ~900 features, ~20k bbox-inclusive pairs
    n = 30
    rows = []
    for i in range(n):
        for j in range(n):
            x, y = float(i), float(j)
            rows.append((i * n + j,
                         [[x, y], [x + 1.5, y], [x + 1.5, y + 1.5],
                          [x, y + 1.5]]))
    layer = _poly_df(spark, rows, key_type="long")
    t0 = time.time()
    out = vec_predicate_vec(layer, layer, predicate="intersects",
                            exclude_same_key=True, res=8)
    total = out.agg(F.sum("n_match")).collect()[0][0]
    dt = time.time() - t0
    # interior cells intersect 8 neighbours (surrounding ring)
    assert total == sum(1 for i in range(n) for j in range(n)
                        for di in (-1, 0, 1) for dj in (-1, 0, 1)
                        if (di, dj) != (0, 0)
                        and 0 <= i + di < n and 0 <= j + dj < n)
    assert dt < 60, f"refine too slow: {dt:.1f}s"


def _box_layer(spark, boxes, prefix):
    """boxes: [(xmin, xmax, ymin, ymax)] -> (<prefix>id, <prefix>xmin, ...)."""
    cols = [f"{prefix}{c}" for c in ("xmin", "xmax", "ymin", "ymax")]
    rows = [(i, *map(float, b)) for i, b in enumerate(boxes)]
    df = spark.createDataFrame(
        rows, f"{prefix}id long, " + ", ".join(f"{c} double" for c in cols))
    return df, tuple(cols), pd.DataFrame(rows, columns=[f"{prefix}id", *cols])


def _edge_boxes(rng, n, res):
    """Random boxes plus the edge cases of a row-keyed join: edges exactly
    on row boundaries, touching neighbours, the lat/lon clamps (and
    beyond), and degenerate point boxes."""
    row_h = 180.0 / (1 << res)
    out = []
    for _ in range(n):
        x0, y0 = rng.uniform(-180, 180), rng.uniform(-90, 90)
        out.append((x0, x0 + rng.uniform(0, 60), y0, y0 + rng.uniform(0, 40)))
    for _ in range(n):
        k0 = int(rng.integers(0, 1 << res))
        k1 = k0 + int(rng.integers(0, 3))
        x0 = float(rng.integers(-8, 8)) * 22.5
        out.append((x0, x0 + 22.5, -90.0 + k0 * row_h, -90.0 + k1 * row_h))
    out += [(-180.0, 180.0, -90.0, 90.0), (-200.0, -170.0, 80.0, 95.0),
            (170.0, 180.0, -95.0, -90.0), (0.0, 22.5, 0.0, row_h),
            (22.5, 45.0, row_h, 2 * row_h), (10.0, 10.0, row_h, row_h),
            (45.0, 45.0, 90.0, 90.0), (-180.0, -180.0, -90.0, -90.0)]
    return out


def _sql_pairs(left, right, *args, **kw):
    """``cell_pairs_sql`` over the two frames as temp views; the output
    keeps the key columns."""
    from rsgislib_spark.operators.spatial_join import cell_pairs_sql

    left.createOrReplaceTempView("cp_left")
    right.createOrReplaceTempView("cp_right")
    return left.sparkSession.sql(
        cell_pairs_sql("cp_left", "(SELECT * FROM cp_right)", *args, **kw))


def _entry(name):
    """The candidate join's two entry points, and the key columns each
    leaves in its output for a plan with or without salt."""
    from rsgislib_spark.operators.spatial_join import cell_pairs

    if name == "cell_pairs":
        return cell_pairs, lambda salted: set()
    return _sql_pairs, lambda salted: (
        {"cell_row", "_row0_l", "_row0_r"} | ({"_salt"} if salted else set()))


def _brute(lpdf, rpdf, pred):
    cross = lpdf.merge(rpdf, how="cross")
    hit = cross[pred(cross)]
    return sorted(zip(hit.lid.astype(int), hit.rid.astype(int)))


_PLANS = ({}, {"broadcast": False}, {"broadcast": False, "n_salt": 3})


def _check_bbox(spark, strict, entry):
    from rsgislib_spark.operators.spatial_join import _bbox_intersects

    cell_pairs, keys = _entry(entry)
    res = 4
    rng = np.random.default_rng(7)
    left, lbox, lpdf = _box_layer(spark, _edge_boxes(rng, 40, res), "l")
    right, rbox, rpdf = _box_layer(spark, _edge_boxes(rng, 25, res), "r")
    on = _bbox_intersects(lbox, rbox, strict=strict)

    def gt(a, b):
        return a > b if strict else a >= b

    exp = _brute(lpdf, rpdf, lambda c: (
        gt(c.lxmax, c.rxmin) & gt(c.rxmax, c.lxmin)
        & gt(c.lymax, c.rymin) & gt(c.rymax, c.lymin)))
    assert len(exp) > 50
    for kw in _PLANS:
        out = cell_pairs(left, right, lbox, rbox, on, res=res, **kw)
        assert set(out.columns) == (set(left.columns) | set(right.columns)
                                    | keys("n_salt" in kw))
        got = sorted((r.lid, r.rid) for r in out.select("lid", "rid").collect())
        assert got == exp, kw


def _check_points(spark, entry):
    from rsgislib_spark.operators.spatial_join import _point_in_bbox

    cell_pairs, _ = _entry(entry)
    res = 4
    row_h = 180.0 / (1 << res)
    rng = np.random.default_rng(11)
    pts = [(rng.uniform(-180, 180), rng.uniform(-90, 90)) for _ in range(300)]
    pts += [(0.0, row_h), (5.0, -90.0), (179.0, 90.0), (-180.0, 0.0),
            (22.5, 3 * row_h)]
    lpdf = pd.DataFrame([(i, x, y) for i, (x, y) in enumerate(pts)],
                        columns=["lid", "lon", "lat"])
    left = spark.createDataFrame(lpdf)
    right, rbox, rpdf = _box_layer(spark, _edge_boxes(rng, 30, res), "r")
    exp = _brute(lpdf, rpdf, lambda c: (
        (c.lon >= c.rxmin) & (c.lon < c.rxmax)
        & (c.lat >= c.rymin) & (c.lat < c.rymax)))
    assert len(exp) > 50
    for kw in _PLANS:
        out = cell_pairs(left, right, ("lon", "lon", "lat", "lat"), rbox,
                         _point_in_bbox("lon", "lat", *rbox), res=res, **kw)
        got = sorted((r.lid, r.rid) for r in out.select("lid", "rid").collect())
        assert got == exp, kw


@pytest.mark.parametrize("strict", [True, False])
def test_cell_pairs_equals_brute_force_bbox(spark, strict):
    """Row-keyed candidates + ``on`` == the cross join filtered by ``on``,
    each pair exactly once, under the broadcast, plain and salted plans."""
    _check_bbox(spark, strict, "cell_pairs")


def test_cell_pairs_equals_brute_force_points(spark):
    """Point layers key on one row each (no explode) and still meet every
    box spanning that row; lat on a row boundary and at the ±90 clamp."""
    _check_points(spark, "cell_pairs")


@pytest.mark.parametrize("strict", [True, False])
def test_cell_pairs_sql_equals_brute_force_bbox(spark, strict):
    """The bbox cases through the SQL builder's own entry point."""
    _check_bbox(spark, strict, "cell_pairs_sql")


def test_cell_pairs_sql_equals_brute_force_points(spark):
    """The point cases through the SQL builder's own entry point."""
    _check_points(spark, "cell_pairs_sql")


def test_world_bbox_keys_to_one_row_per_cell_row(spark):
    """Keying grows with height, not area: a world bbox at res 12 is
    4,096 cell rows (a cell polyfill made it 4,096^2 = 16.7 M)."""
    from rsgislib_spark.operators.spatial_join import _keyed_sql

    world, box, _ = _box_layer(spark, [(-180.0, 180.0, -90.0, 90.0)], "w")
    world.createOrReplaceTempView("world")
    keyed = spark.sql(_keyed_sql("world", box, 12, "_row0"))
    assert keyed.count() == 4096
    assert keyed.select("cell_row").distinct().count() == 4096


def test_zonal_plan_has_no_pair_dedupe(spark, sf_dir):
    """Candidate pairs come out of the join once each, so the executed
    zonal_stats plan aggregates nothing on (image_id, zone_id)."""
    import re

    from rsgislib_spark.operators.zonal import zonal_stats

    images = synth.synth_images(spark, sf_dir, with_bytes=True).limit(40)
    out = zonal_stats(images, synth.synth_zones(spark, sf_dir))
    assert out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    aggs = re.findall(r"Aggregate\(keys=\[([^\]]*)\]", plan)
    assert not [k for k in aggs if "image_id" in k and "zone_id" in k], aggs
