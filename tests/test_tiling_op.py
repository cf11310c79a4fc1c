"""Distributed tiling operator vs the pure-python tile-grid oracle."""

import numpy as np
import pytest

from rsgislib_spark import synth
from rsgislib_spark.geo.tilegrid import tile_specs
from rsgislib_spark.functions import codec
from rsgislib_spark.operators.tiling import (
    _window_sums, tile_checksums_fused, tile_pixels, tile_spec_df)


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    return synth.synth_images(spark, sf_dir, with_bytes=False)


def test_tile_spec_df_matches_kernel(images):
    out = tile_spec_df(images, 48, 32, overlap=0).select(
        "image_id", "w", "h", "tile_idx", "txmin", "txmax", "tymin", "tymax",
        "tile_name", "tile_name_mc",
    ).toPandas()
    for (iid, w, h), grp in out.groupby(["image_id", "w", "h"]):
        grp = grp.sort_values("tile_idx")
        exp = tile_specs(int(w), int(h), 48, 32)
        got = list(zip(grp.txmin, grp.txmax, grp.tymin, grp.tymax))
        assert [tuple(map(int, t)) for t in got] == exp, iid
        assert grp.tile_name.iloc[0] == f"{iid}_tile0"


def test_tile_spec_df_overlap_matches_kernel(images):
    sub = images.limit(40)
    out = tile_spec_df(sub, 30, 30, overlap=5).select(
        "image_id", "w", "h", "tile_idx", "txmin", "txmax", "tymin", "tymax"
    ).toPandas()
    for (iid, w, h), grp in out.groupby(["image_id", "w", "h"]):
        grp = grp.sort_values("tile_idx")
        exp = tile_specs(int(w), int(h), 30, 30, overlap=5)
        got = [tuple(map(int, t)) for t in
               zip(grp.txmin, grp.txmax, grp.tymin, grp.tymax)]
        assert got == exp, iid


def test_tile_pixels_checksums_and_content(spark, sf_dir):
    imgs = synth.synth_images(spark, sf_dir, with_bytes=True).limit(25)
    tiles = tile_pixels(imgs, 40, 40, overlap=0).toPandas()
    meta = imgs.select("image_id", "id", "w", "h", "fmt").toPandas() \
        .set_index("image_id")
    from rsgislib_spark.functions import codec

    for _, t in tiles.iterrows():
        m = meta.loc[t.image_id]
        full = synth.pixel_array(int(m["id"]), int(m.w), int(m.h), m.fmt)
        xmin, xmax, ymin, ymax = tile_specs(int(m.w), int(m.h), 40, 40)[t.tile_idx]
        exp = full[ymin:ymax, xmin:xmax]
        assert int(exp.astype(np.int64).sum()) == int(t.checksum)
        got = codec.decode_image(bytes(t["bytes"]), t.tile_w, t.tile_h, t.fmt)
        assert np.array_equal(got, exp)
    # every image fully tiled: per-image checksum sums equal whole-image sums
    per_img = tiles.groupby("image_id").checksum.sum()
    for iid, s in per_img.items():
        m = meta.loc[iid]
        full = synth.pixel_array(int(m["id"]), int(m.w), int(m.h), m.fmt)
        assert int(full.astype(np.int64).sum()) == int(s)


def test_tile_checksums_fused_equals_two_stage(spark, sf_dir):
    """The fused synth->decode->tile stage (both modes) is row-for-row
    identical to tile_pixels(attach_bytes(meta)) — fusion removes the
    inter-stage Arrow round-trip, never changes a value."""
    from pyspark.sql import functions as F

    from rsgislib_spark.operators.tiling import tile_checksums_fused

    meta = synth.synth_images(spark, sf_dir, with_footprint=False) \
        .select("id", "image_id", "w", "h", "fmt").limit(40)
    two = tile_pixels(synth.attach_bytes(meta), 48, 32, encode=False) \
        .select("image_id", "tile_idx", "tile_name", "tile_w", "tile_h",
                "fmt", "checksum")
    fused = tile_checksums_fused(meta, 48, 32)
    assert two.exceptAll(fused).count() == 0
    assert fused.exceptAll(two).count() == 0
    roll = tile_checksums_fused(meta, 48, 32, rollup="image")
    agg = two.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("checksum").alias("pix_sum"))
    assert agg.exceptAll(roll).count() == 0
    assert roll.exceptAll(agg).count() == 0


@pytest.mark.parametrize("fmt", ["raw8", "raw16", "png"])
@pytest.mark.parametrize("w,h", [(20, 10), (96, 64), (111, 97)],
                         ids=["below_tile", "exact_multiple", "ragged"])
@pytest.mark.parametrize("overlap", [0, 1, 7, 48])
def test_window_sums_equal_slice_sums(fmt, w, h, overlap):
    """Window-matrix tile sums (Ry.P.Rx^T) and the coverage rollup
    (cy.P.cx) equal per-slice sums of the decoded plane, for tiles
    smaller than, equal to and overlapping past the image."""
    arr = synth.pixel_array(7 * w + h, w, h, fmt)
    plane = codec.decode_image(codec.encode_image(arr, fmt), w, h, fmt)
    specs = tile_specs(w, h, 48, 32, overlap)
    want = [int(plane[y0:y1, x0:x1].astype(np.int64).sum())
            for x0, x1, y0, y1 in specs]
    ys, xs, sums = _window_sums(plane, 48, 32, overlap)
    assert [(x0, x1, y0, y1) for y0, y1 in ys for x0, x1 in xs] == specs
    assert sums.dtype == np.int64 and sums.tolist() == want
    assert _window_sums(plane, 48, 32, overlap, rollup=True)[2] == sum(want)
    # a dtype too wide for exact float64 products takes the int64 path
    wide = plane.astype(np.uint64)
    assert _window_sums(wide, 48, 32, overlap)[2].tolist() == want
    assert _window_sums(wide, 48, 32, overlap, rollup=True)[2] == sum(want)


def test_tile_checksums_fused_overlap_equals_two_stage(spark, sf_dir):
    from pyspark.sql import functions as F

    meta = synth.synth_images(spark, sf_dir, with_footprint=False) \
        .select("id", "image_id", "w", "h", "fmt").limit(20)
    two = tile_pixels(synth.attach_bytes(meta), 30, 20, overlap=7,
                      encode=False).drop("bytes")
    fused = tile_checksums_fused(meta, 30, 20, overlap=7)
    assert two.count() > 0
    assert two.exceptAll(fused).count() == 0
    assert fused.exceptAll(two).count() == 0
    agg = two.groupBy("image_id").agg(F.count(F.lit(1)).alias("n_tiles"),
                                      F.sum("checksum").alias("pix_sum"))
    roll = tile_checksums_fused(meta, 30, 20, overlap=7, rollup="image")
    assert agg.exceptAll(roll).count() == 0
    assert roll.exceptAll(agg).count() == 0


def test_image_rollup_passes_other_columns_through(spark, sf_dir):
    """``rollup="image"`` consumes (id, w, h, fmt) and carries every other
    input column through unchanged, one output row per input row."""
    meta = synth.synth_images(spark, sf_dir, with_footprint=False) \
        .select("id", "w", "h", "fmt", "image_id", "caption", "lat") \
        .limit(30)
    got = tile_checksums_fused(meta, 48, 32, rollup="image")
    assert got.columns == ["image_id", "caption", "lat", "n_tiles", "pix_sum"]
    assert got.schema["lat"].dataType == meta.schema["lat"].dataType
    rows = {r.image_id: r for r in meta.collect()}
    out = got.collect()
    assert len(out) == len(rows)
    for r in out:
        m = rows[r.image_id]
        assert (r.caption, r.lat) == (m.caption, m.lat)
        plane = synth.pixel_array(m.id, m.w, m.h, m.fmt).astype(np.int64)
        assert r.n_tiles == len(tile_specs(m.w, m.h, 48, 32))
        assert r.pix_sum == int(plane.sum())
