"""Tile-grid kernel vs reference-documented goldens.

Golden anchors: the reference's own test suite tiles a 931x947 image at
200x200 into exactly 25 files (reference: python_tests/test_imageutils.py:
643-655) and ships a 16-tile golden set (s2_tiles) at 250x250; ordering and
remainder rules per src/cmds/RSGISCmdImageUtils.cpp:640-826.
"""

import numpy as np
import pytest

from rsgislib_spark.geo.tilegrid import tile_specs


def test_create_tiles_931x947_200_count():
    specs = tile_specs(931, 947, 200, 200)
    assert len(specs) == 25


def test_create_tiles_931x947_250_count():
    # matches the shipped 16-tile golden set (s2_tiles)
    assert len(tile_specs(931, 947, 250, 250)) == 16


def test_tiles_row_major_with_remainders():
    specs = tile_specs(931, 947, 200, 200)
    # first full tile
    assert specs[0] == (0, 200, 0, 200)
    # remainder column tile ends each row: width 931 - 4*200 = 131
    assert specs[4] == (800, 931, 0, 200)
    # second row starts directly below
    assert specs[5] == (0, 200, 200, 400)
    # final remainder corner: 947 - 4*200 = 147 high
    assert specs[24] == (800, 931, 800, 947)


def test_tiles_cover_image_exactly_no_overlap():
    w, h = 931, 947
    cover = np.zeros((h, w), dtype=np.int32)
    for (x0, x1, y0, y1) in tile_specs(w, h, 200, 200):
        cover[y0:y1, x0:x1] += 1
    assert cover.min() == 1 and cover.max() == 1


def test_tiles_overlap_expansion_and_clamp():
    specs = tile_specs(931, 947, 200, 200, overlap=10)
    assert specs[0] == (0, 210, 0, 210)          # clamped at origin
    assert specs[6] == (190, 410, 190, 410)      # interior expanded both ways
    assert specs[24] == (790, 931, 790, 947)     # clamped at far edge


def test_exact_fit_no_remainder():
    specs = tile_specs(400, 600, 200, 200)
    assert len(specs) == 2 * 3
    assert specs[-1] == (200, 400, 400, 600)


def test_offset_tiling_histogram():
    # offset grid: leading half tiles then full tiles then clamped remainder
    specs = tile_specs(931, 947, 200, 200, offset=True)
    # cols: half(100) + 4 full + remainder; rows likewise -> 6x6
    assert len(specs) == 36
    assert specs[0] == (0, 100, 0, 100)
    # remainder tile of first row clamps to image edge
    assert specs[5][1] == 931
    # full coverage, no gaps
    cover = np.zeros((947, 931), dtype=np.int32)
    for (x0, x1, y0, y1) in specs:
        cover[y0:y1, x0:x1] += 1
    assert cover.min() == 1 and cover.max() == 1


def test_multi_core_names_and_windows(spark):
    """``create_tiles_multi_core`` names its tiles ``x{i}y{j}``, 1-based,
    remainder column and row last: the ``tile_name_mc`` column."""
    from rsgislib_spark.operators.tiling import tile_spec_df

    img = spark.createDataFrame([("a", 931, 947)],
                                "image_id string, w int, h int")
    tiles = tile_spec_df(img, 200, 200).orderBy("tile_idx").collect()
    assert len(tiles) == 25
    names = [t.tile_name_mc for t in tiles]
    assert names[0] == "x1y1"
    assert names[4] == "x5y1"          # remainder column is x5 (1-based)
    assert names[-1] == "x5y5"
    win = [(t.txmin, t.txmax, t.tymin, t.tymax) for t in tiles]
    assert win[4] == (800, 931, 0, 200)
    assert win[-1] == (800, 931, 800, 947)


def test_reference_s2_tiles_golden_250():
    """The reference's checked-in golden tile sets (python_tests/data/
    imageutils/s2_tiles and s2_over_tiles: sen2_20210527_aber_tile{0..15})
    are 250x250 tilings of the 931x947 fixture — 16 tiles in a 4x4
    row-major layout with remainder column width 181 and remainder row
    height 197; the overlapped set expands every window by 20 px clamped
    into the image (include_imgs_with_overlap test uses overlap=20,
    python_tests/test_imageutils.py:560-575)."""
    from rsgislib_spark.geo.tilegrid import tile_specs

    plain = tile_specs(931, 947, 250, 250)
    assert len(plain) == 16
    assert plain[0] == (0, 250, 0, 250)
    assert plain[3] == (750, 931, 0, 250)       # remainder column
    assert plain[12] == (0, 250, 750, 947)      # remainder row
    assert plain[15] == (750, 931, 750, 947)    # corner remainder

    over = tile_specs(931, 947, 250, 250, overlap=20)
    assert len(over) == 16
    assert over[0] == (0, 270, 0, 270)          # clamped at origin
    assert over[5] == (230, 520, 230, 520)      # full halo both sides
    assert over[15] == (730, 931, 730, 947)     # clamped at far edge
