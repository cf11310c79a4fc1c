"""Bbox-on-grid snapping with rsgislib semantics, as portable SQL text.

Bboxes are ``(xMin, xMax, yMin, yMax)`` in that order, matching the
reference throughout (reference: python/rsgislib/tools/geometrytools.py).
``extent_on_grid_sql`` and ``extent_whole_num_grid_sql`` return column
expressions that a query and its DuckDB oracle share, so both engines
snap a bbox onto the same lattice bit-for-bit.
"""

from __future__ import annotations

__all__ = ["extent_on_grid_sql", "extent_whole_num_grid_sql"]


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
