"""Cellindex / geometry kernels."""

import numpy as np

from rsgislib_spark.geo import cellindex as CI
from rsgislib_spark.geo import geometry as G


def _decode(cells):
    """(res, nx, ny) of the cell layout ``res * 2^58 + nx * 2^29 + ny``."""
    cells = np.asarray(cells, np.int64)
    return cells >> 58, (cells >> 29) & (2 ** 29 - 1), cells & (2 ** 29 - 1)


def test_cellindex_roundtrip_and_bounds():
    rng = np.random.RandomState(7)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-90, 90, 1000)
    res, nx, ny = _decode(CI.cell_of_point(lon, lat))
    n = 1 << CI.DEFAULT_RES
    assert (res == CI.DEFAULT_RES).all()
    lonmin, latmin = -180.0 + nx * (360.0 / n), -90.0 + ny * (180.0 / n)
    assert np.all((lon >= lonmin) & (lon < lonmin + 360.0 / n + 1e-9))
    assert np.all((lat >= latmin) & (lat < latmin + 180.0 / n + 1e-9))
    # boundary clamps
    edge = CI.cell_of_point(np.array([180.0, -180.0]), np.array([90.0, -90.0]))
    _, nx, ny = _decode(edge)
    assert nx.tolist() == [n - 1, 0] and ny.tolist() == [n - 1, 0]


def test_polyfill_bbox_covers():
    cells = CI.polyfill_bbox(9.5, 10.5, 44.5, 45.5)
    # every corner's containing cell is in the covering
    for lon, lat in [(9.5, 44.5), (10.49, 45.49), (9.5, 45.49), (10.49, 44.5)]:
        c = int(CI.cell_of_point(np.array([lon]), np.array([lat]))[0])
        assert c in set(cells.tolist())


def test_point_in_polygon_square_and_triangle():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    px = np.array([5.0, 15.0, -1.0, 9.99])
    py = np.array([5.0, 5.0, 5.0, 9.99])
    assert G.points_in_polygon(px, py, sq).tolist() == [True, False, False, True]
    tri = np.array([[0, 0], [10, 0], [5, 10]], float)
    assert G.points_in_polygon(np.array([5.0]), np.array([3.0]), tri)[0]
    assert not G.points_in_polygon(np.array([1.0]), np.array([9.0]), tri)[0]


def test_polygon_predicates():
    """Pair predicates of a square against a ring inside it, one across
    its corner and one far away."""
    sq = [[0, 0], [10, 0], [10, 10], [0, 10]]
    inner = [[2, 2], [8, 2], [8, 8], [2, 8]]
    cross = [[x + 5, y + 5] for x, y in inner]
    far = [[x + 100, y + 100] for x, y in inner]
    hits = G.poly_pair_predicate([sq] * 3, [inner, cross, far], "intersects")
    assert hits.tolist() == [True, True, False]
    within = G.poly_pair_predicate([inner, cross], [sq, sq], "within")
    assert within.tolist() == [True, False]


def test_pair_predicate_nonconvex_concavity_rejected():
    """ADVICE r3: a ring whose vertices all lie on a NON-convex ring's
    boundary but whose edge threads the concavity must not be within —
    the exact doubled-midpoint test catches it."""
    # U-shape: 10x10 square with a notch cut from the top middle
    u = [[0, 0], [10, 0], [10, 10], [6, 10], [6, 4], [4, 4], [4, 10],
         [0, 10]]
    # triangle with all vertices ON the U's boundary, bridging the notch
    bridge = [[4, 10], [6, 10], [10, 0]]
    assert not G.poly_pair_predicate([bridge], [u], "within")[0]
    assert not G.poly_pair_predicate([u], [bridge], "contains")[0]
    # a genuinely-inside triangle in the left arm still passes
    ok = [[1, 1], [3, 1], [1, 9]]
    assert G.poly_pair_predicate([ok], [u], "within")[0]


def test_pair_predicate_equal_rings_and_shared_edges_still_within():
    """The midpoint test is exact (doubled coordinates), so equal rings
    and diagonal shared edges keep their GEOS semantics."""
    tri = [[0.1, 0.2], [7.3, 0.2], [0.1, 5.9]]
    assert G.poly_pair_predicate([tri], [tri], "within")[0]
    assert G.poly_pair_predicate([tri], [tri], "contains")[0]
    rect = [[0.1, 0.2], [7.3, 0.2], [7.3, 5.9], [0.1, 5.9]]
    assert G.poly_pair_predicate([tri], [rect], "within")[0]


def test_pad_rings_empty_ring_is_inert():
    """ADVICE r3: a zero-vertex ring must not kill the batch and can
    satisfy no predicate."""
    sq = [[0, 0], [10, 0], [10, 10], [0, 10]]
    for pred in ("intersects", "within", "contains", "overlaps",
                 "touches"):
        assert not G.poly_pair_predicate([[]], [sq], pred)[0], pred
        assert not G.poly_pair_predicate([sq], [[]], pred)[0], pred


def test_wgs84_pixel_area_polynomial_matches_libm():
    """The oracle-exact polynomial-cos area formula must agree with the
    libm spherical formula to float64 noise on the qpoints latitude
    domain (|lat| <= 60 deg)."""
    import math

    import duckdb
    import numpy as np

    from rsgislib_spark.operators.vector import wgs84_pixel_area_exact_sql

    lats = np.linspace(-60.0, 60.0, 4001)
    expr = wgs84_pixel_area_exact_sql("lat", 0.001)
    con = duckdb.connect()
    got = con.sql(
        f"SELECT {expr} AS a FROM (SELECT unnest(?) AS lat)",
        params=[lats.tolist()]).df()["a"].to_numpy()
    want = (0.001 * 110540.0) * (0.001 * 111320.0) * np.cos(np.radians(lats))
    assert np.allclose(got, want, rtol=1e-12, atol=0)
    # spot-check the equator value against the closed form
    assert math.isclose(got[2000], 0.001 * 110540.0 * 0.001 * 111320.0,
                        rel_tol=1e-12)
