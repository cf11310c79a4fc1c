"""Tile-grid generation replicating rsgislib ``create_tiles`` byte-exactly.

``tile_specs`` is the C++ ``executeCreateTiles`` grid (reference:
src/cmds/RSGISCmdImageUtils.cpp:262-836).  Row-major from the image
origin; each tile's pixel window is expanded by ``overlap`` then clamped
into the image; a remainder column tile is appended after each row when
``imgSizeX % width != 0`` and a remainder row after all full rows.  With
``offset=True`` a half-tile offset grid is produced with leading half
tiles (RSGISCmdImageUtils.cpp:305-535); note the offset branch computes
``remainPxlX = imgSizeX - numXTiles*width`` (i.e. *including* the leading
half tile's pixels) so a trailing remainder tile exists whenever
``xOff > 0``, clamped to the image edge — replicated warts-and-all.
Tile index = creation order; name ``{base}_tile{i}.{ext}`` with i
0-based (RSGISCmdImageUtils.cpp:809-811).  The pure-python
``create_tiles_multi_core`` grid (reference: python/rsgislib/imageutils/
__init__.py:2580-2680) is the same no-overlap grid with 1-based
``x{i}y{j}`` names: the ``tile_name_mc`` column of
``operators.tiling.tile_spec_df``.

Windows are half-open pixel ranges ``[xmin, xmax) x [ymin, ymax)`` from the
image top-left, matching how the reference's envelopes map back to pixels.

``tile_specs`` is a pure function, used (a) directly in unit tests against
reference goldens and (b) re-expressed as Catalyst column arithmetic in
``operators.tiling`` for the distributed path — this module is the oracle
for that arithmetic.
"""

from __future__ import annotations

import math
from typing import List, Tuple

import numpy as np

__all__ = ["tile_specs"]

Window = Tuple[int, int, int, int]  # xmin, xmax, ymin, ymax (half-open)


def _clamped(c_x: int, c_y: int, t_w: int, t_h: int, overlap: int,
             size_x: int, size_y: int) -> Window:
    """Expand (c_x..c_x+t_w, c_y..c_y+t_h) by overlap and clamp to image."""
    xmin = c_x - overlap
    xmax = c_x + t_w + overlap
    ymin = c_y - overlap
    ymax = c_y + t_h + overlap
    if xmin < 0:
        xmin = 0
    if xmax > size_x:
        xmax = size_x
    if ymin < 0:
        ymin = 0
    if ymax > size_y:
        ymax = size_y
    return (xmin, xmax, ymin, ymax)


def tile_specs(size_x: int, size_y: int, width: int, height: int,
               overlap: int = 0, offset: bool = False) -> List[Window]:
    """Ordered tile pixel windows per ``executeCreateTiles``.

    Returns windows in creation order; index in this list is the reference's
    ``_tile{i}`` suffix.
    """
    out: List[Window] = []
    if not offset:
        # RSGISCmdImageUtils.cpp:640-801: C float (32-bit) division then
        # floor — float32 replicated so huge sizes floor identically.
        num_x = int(math.floor(np.float32(size_x) / np.float32(width)))
        num_y = int(math.floor(np.float32(size_y) / np.float32(height)))
        rem_x = size_x - num_x * width
        rem_y = size_y - num_y * height

        c_y = 0
        for _i in range(num_y):
            c_x = 0
            for _j in range(num_x):
                out.append(_clamped(c_x, c_y, width, height, overlap, size_x, size_y))
                c_x += width
            if rem_x > 0:
                out.append(_clamped(c_x, c_y, rem_x, height, overlap, size_x, size_y))
            c_y += height
        if rem_y > 0:
            c_x = 0
            for _j in range(num_x):
                out.append(_clamped(c_x, c_y, width, rem_y, overlap, size_x, size_y))
                c_x += width
            if rem_x > 0:
                out.append(_clamped(c_x, c_y, rem_x, rem_y, overlap, size_x, size_y))
    else:
        # RSGISCmdImageUtils.cpp:305-535. Note remainder computed from the
        # full image size (not size - offset): the trailing tile overshoots
        # and is clamped; with overlap=0 and an exact fit it degenerates to
        # a zero-width window, exactly as the reference emits.
        x_off = width // 2
        y_off = height // 2
        num_x = int(math.floor(np.float32(size_x - x_off) / np.float32(width)))
        num_y = int(math.floor(np.float32(size_y - y_off) / np.float32(height)))
        rem_x = size_x - num_x * width
        rem_y = size_y - num_y * height

        def emit_row(c_y: int, t_h: int) -> None:
            c_x = 0
            if x_off > 0:
                out.append(_clamped(c_x, c_y, x_off, t_h, overlap, size_x, size_y))
                c_x += x_off
            for _j in range(num_x):
                out.append(_clamped(c_x, c_y, width, t_h, overlap, size_x, size_y))
                c_x += width
            if rem_x > 0:
                out.append(_clamped(c_x, c_y, rem_x, t_h, overlap, size_x, size_y))

        c_y = 0
        if y_off > 0:
            emit_row(c_y, y_off)
            c_y += y_off
        for _i in range(num_y):
            emit_row(c_y, height)
            c_y += height
        if rem_y > 0:
            emit_row(c_y, rem_y)
    return out
