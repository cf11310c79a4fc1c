"""Bbox algebra with rsgislib semantics.

Bboxes are ``(xMin, xMax, yMin, yMax)`` in that order, matching the
reference throughout (reference: python/rsgislib/tools/geometrytools.py).
Important semantic details preserved:

* ``intersects`` and ``contains`` use *strict* inequalities
  (geometrytools.py:82-123) — touching bboxes do NOT intersect;
* ``bbox_intersection`` raises when the boxes do not intersect
  (geometrytools.py:160-189);
* ``buffer_bbox`` expands all four edges (geometrytools.py:210-224).

Scalar helpers return plain python values.  The same predicates are also
emitted as Catalyst column expressions by the operators layer (they are
plain comparisons, so Catalyst handles them natively).
"""

from __future__ import annotations

__all__ = [
    "do_bboxes_intersect",
    "does_bbox_contain",
    "bbox_intersection",
    "find_bbox_union",
    "buffer_bbox",
    "calc_bbox_area",
]


def do_bboxes_intersect(bbox1, bbox2) -> bool:
    """Strict-inequality bbox overlap (geometrytools.py:82-102)."""
    return bool(
        (bbox1[1] > bbox2[0])
        and (bbox2[1] > bbox1[0])
        and (bbox1[3] > bbox2[2])
        and (bbox2[3] > bbox1[2])
    )


def does_bbox_contain(bbox1, bbox2) -> bool:
    """True when bbox1 strictly contains bbox2 (geometrytools.py:104-123)."""
    return bool(
        (bbox1[0] < bbox2[0])
        and (bbox1[1] > bbox2[1])
        and (bbox1[2] < bbox2[2])
        and (bbox1[3] > bbox2[3])
    )


def bbox_intersection(bbox1, bbox2):
    """Intersection bbox; raises if disjoint (geometrytools.py:160-189)."""
    if not do_bboxes_intersect(bbox1, bbox2):
        raise ValueError("Bounding Boxes do not intersect.")
    return [
        max(bbox1[0], bbox2[0]),
        min(bbox1[1], bbox2[1]),
        max(bbox1[2], bbox2[2]),
        min(bbox1[3], bbox2[3]),
    ]


def find_bbox_union(bboxes):
    """Union of a list of bboxes; None for empty input (geometrytools.py:226-252)."""
    if not bboxes:
        return None
    out = list(bboxes[0])
    for b in bboxes[1:]:
        out[0] = min(out[0], b[0])
        out[1] = max(out[1], b[1])
        out[2] = min(out[2], b[2])
        out[3] = max(out[3], b[3])
    return out


def buffer_bbox(bbox, buf):
    """Expand all edges by ``buf`` (geometrytools.py:210-224)."""
    return [bbox[0] - buf, bbox[1] + buf, bbox[2] - buf, bbox[3] + buf]


def calc_bbox_area(bbox) -> float:
    """Width x height (geometrytools.py:126-136)."""
    return (bbox[1] - bbox[0]) * (bbox[3] - bbox[2])


def extent_on_grid_sql(xmin: str, xmax: str, ymin: str, ymax: str,
                       grid: float, full_contain: bool = True) -> dict:
    """``find_extent_on_grid`` (tools/geometrytools.py:331) as portable
    SQL: snap a bbox onto a ``grid``-sized lattice anchored at
    floor(xMin)/ceil(yMax), growing (full_contain) or shrinking the
    box.  Every step is one correctly-rounded IEEE op on identical
    inputs — with a dyadic ``grid`` the /grid divisions are exact — so
    results are bit-identical in any engine.  Returns the four output
    bound expressions keyed gxmin/gxmax/gymin/gymax.
    """
    g = f"CAST({grid!r} AS DOUBLE)"
    rnd = "ceil" if full_contain else "floor"
    xf = f"CAST(floor({xmin}) AS DOUBLE)"
    yc = f"CAST(ceil({ymax}) AS DOUBLE)"
    gxmin = f"({xf} + CAST(floor((({xmin}) - {xf}) / {g}) AS DOUBLE) * {g})"
    gymax = f"({yc} - CAST(floor(({yc} - ({ymax})) / {g}) AS DOUBLE) * {g})"
    return {
        "gxmin": gxmin,
        "gxmax": (f"({gxmin} + CAST({rnd}((({xmax}) - {gxmin}) / {g}) "
                  f"AS DOUBLE) * {g})"),
        "gymin": (f"({gymax} - CAST({rnd}(abs({gymax} - ({ymin})) / {g}) "
                  f"AS DOUBLE) * {g})"),
        "gymax": gymax,
    }


def extent_whole_num_grid_sql(xmin: str, xmax: str, ymin: str, ymax: str,
                              grid: float,
                              full_contain: bool = True) -> dict:
    """``find_extent_on_whole_num_grid`` (tools/geometrytools.py:385):
    lattice anchored at the origin (floor(min/grid)*grid), growing or
    shrinking per ``full_contain``; same determinism argument as
    :func:`extent_on_grid_sql`.  Keys wxmin/wxmax/wymin/wymax.
    """
    g = f"CAST({grid!r} AS DOUBLE)"
    rnd = "ceil" if full_contain else "floor"
    wxmin = f"(CAST(floor(({xmin}) / {g}) AS DOUBLE) * {g})"
    wymin = f"(CAST(floor(({ymin}) / {g}) AS DOUBLE) * {g})"
    return {
        "wxmin": wxmin,
        "wymin": wymin,
        "wxmax": (f"({wxmin} + CAST({rnd}((({xmax}) - {wxmin}) / {g}) "
                  f"AS DOUBLE) * {g})"),
        "wymax": (f"({wymin} + CAST({rnd}(abs(({ymax}) - {wymin}) / {g}) "
                  f"AS DOUBLE) * {g})"),
    }
