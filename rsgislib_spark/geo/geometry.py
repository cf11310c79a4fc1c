"""Vectorized computational geometry used for exact join refinement.

shapely/GEOS is not available in this environment, so the engine carries its
own numpy kernels for the predicates the reference relies on
(``geopandas.sjoin`` op in {intersects, within, contains} — reference:
python/rsgislib/vectorutils/__init__.py:2217; pixel-in-poly modes —
src/img/RSGISPixelInPoly.cpp:47-118):

* ``points_in_polygon`` — even-odd ray casting, boundary-inclusive on the
  edges crossed by the half-open rule (standard crossing-number PIP);
* ``poly_pair_flags`` / ``poly_pair_predicate`` — the DE-9IM predicates
  for P polygon pairs at once (edge crossings + vertex and edge-midpoint
  containment), vectorized over the pairs of an Arrow batch.

Polygons are numpy (k,2) float arrays of exterior-ring vertices, closed or
open (the kernels treat them as implicitly closed).  Holes are out of MVP
scope, as in the reference's fast paths.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "points_in_polygon",
    "pad_rings",
    "poly_pair_flags",
    "poly_pair_predicate",
    "PAIR_PREDICATES",
]


def points_in_polygon(px, py, poly):
    """Crossing-number point-in-polygon, vectorized over points.

    Returns a boolean array; points exactly on a vertex/edge follow the
    half-open crossing rule (consistent, but callers that need GEOS-exact
    boundary semantics should avoid degenerate on-edge inputs — the synth
    data generator guarantees points are off polygon boundaries).
    """
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    p = np.asarray(poly, np.float64)
    if np.array_equal(p[0], p[-1]):
        p = p[:-1]
    inside = np.zeros(px.shape, dtype=bool)
    x1, y1 = p[-1]
    for x2, y2 in p:
        crosses = ((y1 > py) != (y2 > py))
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (px < xint)
        x1, y1 = x2, y2
    return inside


# ---------------------------------------------------------------------------
# batched pair predicates (layer-vs-layer joins)
# ---------------------------------------------------------------------------
# The per-pair loop of the round-2 refine stage is replaced by a
# pad-to-max-verts tensor formulation: P candidate pairs become
# (P, K, 2) arrays (padding repeats the last vertex, whose degenerate
# zero-length edges are provable no-ops in every test below), and all
# orientation / crossing-number arithmetic runs vectorized over the
# whole Arrow batch.  The only Python-level loops are over VERTEX
# slots (K <= tens), never over pairs.

PAIR_PREDICATES = ("intersects", "within", "contains", "overlaps",
                   "touches", "crosses")


def pad_rings(polys):
    """Stack ragged (k,2) rings into one (P, Kmax, 2) tensor.

    Closing vertices are dropped; padding repeats the LAST vertex so
    padded edges are zero-length: they produce no crossing-number
    toggles (y1 == y2), no orientation sign changes (all orients 0) and
    no spurious on-boundary hits (the padded point IS a real vertex).
    """
    arrs = []
    kmax = 1
    for p in polys:
        p = np.asarray([np.asarray(v, np.float64) for v in p], np.float64)
        if len(p) > 1 and np.array_equal(p[0], p[-1]):
            p = p[:-1]
        if len(p) == 0:
            # a zero-vertex ring can satisfy no predicate; pad it with
            # a far-off sentinel point (all its edges degenerate, all
            # its PIP/orientation tests provably false; chosen so 2x
            # doubling in the midpoint tests stays finite) instead of
            # letting p[-1] below kill the whole Arrow batch
            p = np.full((1, 2), -1.0e300, np.float64)
        arrs.append(p)
        kmax = max(kmax, len(p))
    out = np.empty((len(arrs), kmax, 2), np.float64)
    for i, p in enumerate(arrs):
        out[i, : len(p)] = p
        out[i, len(p):] = p[-1]
    return out


def _pair_pip(pts, poly):
    """Vertices-of-A vs polygon-B, batched over pairs.

    ``pts``: (P, K, 2); ``poly``: (P, M, 2).  Returns ``(inside, onb)``
    boolean (P, K) arrays — crossing-number interior test plus an exact
    on-boundary test (orientation == 0 within the edge's bbox), so
    callers can distinguish strict containment from boundary contact.
    """
    px, py = pts[..., 0], pts[..., 1]
    inside = np.zeros(px.shape, bool)
    onb = np.zeros(px.shape, bool)
    m = poly.shape[1]
    for j in range(m):
        x1, y1 = poly[:, j - 1, 0:1], poly[:, j - 1, 1:2]
        x2, y2 = poly[:, j, 0:1], poly[:, j, 1:2]
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (px < xint)
        d = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        onb |= ((d == 0.0)
                & (px >= np.minimum(x1, x2)) & (px <= np.maximum(x1, x2))
                & (py >= np.minimum(y1, y2)) & (py <= np.maximum(y1, y2)))
    return inside, onb


def poly_pair_flags(polys_a, polys_b) -> dict:
    """Primitive geometric relations for P polygon pairs, vectorized.

    Returns boolean (P,) arrays: ``cross`` (any proper edge crossing, by
    the signs of four orientation determinants),
    ``a_strict_any``/``b_strict_any`` (any vertex strictly interior to
    the other ring), ``a_incl_all``/``b_incl_all`` (every vertex
    interior or on the boundary), ``a_bound_any``/``b_bound_any`` (any
    vertex exactly on the other ring's boundary).
    """
    a = pad_rings(polys_a)
    b = pad_rings(polys_b)
    ka, kb = a.shape[1], b.shape[1]

    in_a, on_a = _pair_pip(a, b)   # A's vertices against B
    in_b, on_b = _pair_pip(b, a)   # B's vertices against A
    strict_a = in_a & ~on_a
    strict_b = in_b & ~on_b

    # Edge-MIDPOINT containment (ADVICE r3: vertices-only inclusion can
    # report within/contains for a ring threading a concavity of a
    # NON-convex ring when every vertex sits exactly on the boundary).
    # Tested EXACTLY: the doubled midpoint (v_i + v_{i-1}, an exact fp
    # sum) is checked against the doubled ring 2*B — scaling both by 2
    # preserves every incidence with zero rounding, so shared-edge and
    # equal-ring cases stay deterministic.  For convex B the test is
    # implied by vertex inclusion (chords of a convex set), so existing
    # rect/triangle/grid queries are unchanged.
    mid2_a = a + a[:, np.arange(ka) - 1, :]
    mid2_b = b + b[:, np.arange(kb) - 1, :]
    in_ma, on_ma = _pair_pip(mid2_a, 2.0 * b)
    in_mb, on_mb = _pair_pip(mid2_b, 2.0 * a)

    cross = np.zeros(a.shape[0], bool)
    q1 = b[:, np.arange(kb) - 1, :]
    q2 = b
    for i in range(ka):
        p1 = a[:, i - 1, :][:, None, :]
        p2 = a[:, i, :][:, None, :]
        d1 = ((p2[..., 0] - p1[..., 0]) * (q1[..., 1] - p1[..., 1])
              - (p2[..., 1] - p1[..., 1]) * (q1[..., 0] - p1[..., 0]))
        d2 = ((p2[..., 0] - p1[..., 0]) * (q2[..., 1] - p1[..., 1])
              - (p2[..., 1] - p1[..., 1]) * (q2[..., 0] - p1[..., 0]))
        d3 = ((q2[..., 0] - q1[..., 0]) * (p1[..., 1] - q1[..., 1])
              - (q2[..., 1] - q1[..., 1]) * (p1[..., 0] - q1[..., 0]))
        d4 = ((q2[..., 0] - q1[..., 0]) * (p2[..., 1] - q1[..., 1])
              - (q2[..., 1] - q1[..., 1]) * (p2[..., 0] - q1[..., 0]))
        # STRICT proper-crossing test (d1*d2 < 0 via explicit signs —
        # no overflow/underflow products): endpoint contact (a zero
        # orient) is boundary contact, not an interior crossing, so it
        # must NOT count here — `(d1>0)!=(d2>0)` would misclassify it.
        hit = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) \
            & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
        cross |= hit.any(axis=1)

    return {
        "cross": cross,
        "a_strict_any": strict_a.any(axis=1),
        "b_strict_any": strict_b.any(axis=1),
        "a_incl_all": ((in_a | on_a).all(axis=1)
                       & (in_ma | on_ma).all(axis=1)),
        "b_incl_all": ((in_b | on_b).all(axis=1)
                       & (in_mb | on_mb).all(axis=1)),
        "a_bound_any": on_a.any(axis=1),
        "b_bound_any": on_b.any(axis=1),
    }


def poly_pair_predicate(polys_a, polys_b, predicate: str) -> np.ndarray:
    """GEOS-style boolean predicate for P polygon pairs (vectorized).

    Semantics (simple rings, no holes — the engine's standing scope):

    * ``intersects`` — any shared point (interior OR boundary contact);
    * ``within`` / ``contains`` — every vertex AND every edge midpoint
      of the contained ring interior-or-on-boundary and no proper edge
      crossing (boundary sharing allowed, as in GEOS; equal rings are
      within each other; the midpoint test — exact via doubled
      coordinates — rejects rings threading a concavity of a
      non-convex ring with all vertices on its boundary);
    * ``overlaps`` — interiors intersect and neither ring is within the
      other (OGC: same-dimension partial overlap);
    * ``touches`` — boundary contact without interior intersection
      (shared edges / corner contact; containment-with-shared-boundary
      and equal rings correctly report False — the within relations
      feed the interior-intersection test);
    * ``crosses`` — identically False for area/area per OGC DE-9IM
      (geopandas returns False for every polygon pair).
    """
    if predicate not in PAIR_PREDICATES:
        raise ValueError(f"unknown pair predicate {predicate!r}")
    n = len(polys_a)
    if predicate == "crosses":
        return np.zeros(n, bool)
    f = poly_pair_flags(polys_a, polys_b)
    within_ab = f["a_incl_all"] & ~f["cross"]
    within_ba = f["b_incl_all"] & ~f["cross"]
    # interior intersection: a proper crossing, a strictly-interior
    # vertex either way, or CONTAINMENT — the latter catches rings
    # contained with every vertex on the boundary (e.g. a triangle
    # filling half its bounding rect), which have interior overlap but
    # no strict vertex and no crossing
    interior = (f["cross"] | f["a_strict_any"] | f["b_strict_any"]
                | within_ab | within_ba)
    if predicate == "intersects":
        return interior | f["a_bound_any"] | f["b_bound_any"]
    if predicate == "within":
        return within_ab
    if predicate == "contains":
        return within_ba
    if predicate == "overlaps":
        return interior & ~within_ab & ~within_ba
    # touches: any boundary contact shows up as a vertex of one ring on
    # the other's boundary (collinear-overlap and corner contact both
    # include such a vertex; a contact with NO vertex involved would be
    # a proper crossing, i.e. interior intersection)
    return (f["a_bound_any"] | f["b_bound_any"]) & ~interior
