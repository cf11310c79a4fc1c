"""Integer spatial cell index (the engine's H3-role discrete grid).

The reference anchors hex-grid indexing as a native concept via
``create_hex_grid_bbox`` / ``h3.polyfill``
(reference: python/rsgislib/vectorutils/createvectors.py:1235-1397).  The
``h3`` package is not available in this environment, so the engine ships its
own deterministic hierarchical lon/lat grid index with the same *role* in
query plans: a 64-bit cell id used as an equi-join key (spatial "pushdown"),
with ``polyfill_bbox`` for bbox covering.  kNN's neighbourhood rings are
built in Catalyst from the same layout (``operators.knn._ring``).

Cell id layout (64-bit signed, always positive):

    cell = res * 2^58 + nx * 2^29 + ny

where at resolution ``res`` (0..28) the world ``lon in [-180,180] x
lat in [-90,90]`` is split into ``2^res x 2^res`` cells:

    nx = clamp(floor((lon + 180) / 360 * 2^res), 0, 2^res - 1)
    ny = clamp(floor((lat + 90) / 180 * 2^res), 0, 2^res - 1)

The formula is deliberately expressible in ANSI SQL (``cell_sql_expr``)
with bit-identical float behaviour, so the DuckDB correctness oracle can
recompute cell assignment independently of the numpy implementation.
"""

from __future__ import annotations

import numpy as np

__all__ = ["cell_of_point", "polyfill_bbox", "cell_sql_expr", "DEFAULT_RES"]

_RES_SHIFT = 2 ** 58
_X_SHIFT = 2 ** 29

#: default resolution: 4096 x 4096 global grid, ~0.088 deg (~10 km) cells.
DEFAULT_RES = 12


def _n(res: int) -> int:
    return 1 << res


def cell_of_point(lon, lat, res: int = DEFAULT_RES):
    """Vectorized point -> cell id (int64)."""
    n = float(_n(res))
    nx = np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * n)
    ny = np.floor((np.asarray(lat, np.float64) + 90.0) / 180.0 * n)
    nx = np.clip(nx, 0.0, n - 1.0).astype(np.int64)
    ny = np.clip(ny, 0.0, n - 1.0).astype(np.int64)
    return np.int64(res) * _RES_SHIFT + nx * _X_SHIFT + ny


def cell_sql_expr(lon_expr: str, lat_expr: str, res: int = DEFAULT_RES) -> str:
    """The same assignment as ``cell_of_point`` as portable SQL text.

    Works identically in Spark SQL and DuckDB (floor/least/greatest over
    doubles, then bigint arithmetic), enabling independent oracle checks.
    """
    n = _n(res)
    nx = (
        f"CAST(least(greatest(floor((({lon_expr}) + 180.0) / 360.0 * {n}.0),"
        f" 0.0), {n - 1}.0) AS BIGINT)"
    )
    ny = (
        f"CAST(least(greatest(floor((({lat_expr}) + 90.0) / 180.0 * {n}.0),"
        f" 0.0), {n - 1}.0) AS BIGINT)"
    )
    return f"(CAST({res} AS BIGINT) * {_RES_SHIFT} + {nx} * {_X_SHIFT} + {ny})"


def polyfill_bbox(xmin: float, xmax: float, ymin: float, ymax: float,
                  res: int = DEFAULT_RES):
    """All cells whose box intersects the (closed) lon/lat bbox.

    The covering analog of ``h3.polyfill`` for a bbox (reference precedent:
    createvectors.py:1256-1272).  Clamps to world bounds; does not split
    antimeridian-crossing boxes (callers use ``bbox.unwrap`` semantics
    upstream if needed).
    """
    n = _n(res)
    fx = lambda lon: int(np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1))
    fy = lambda lat: int(np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1))
    x0, x1 = fx(xmin), fx(xmax)
    y0, y1 = fy(ymin), fy(ymax)
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return (np.int64(res) * _RES_SHIFT + gx.ravel() * _X_SHIFT + gy.ravel())
