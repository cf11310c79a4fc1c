"""Distributed tiling operator vs the pure-python tile-grid oracle."""

import numpy as np
import pyarrow as pa
import pytest

from rsgislib_spark import synth
from rsgislib_spark.geo.tilegrid import tile_specs
from rsgislib_spark.functions import codec
from rsgislib_spark.operators import tiling
from rsgislib_spark.operators.tiling import (
    _window_sums, tile_checksums_fused, tile_pixels, tile_spec_df)

from synthref import fmt_of_id


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


#: the 97 (w, h) shapes of the synthetic table: both depend on id mod 97
SHAPES = [(32 + (7 * k) % 97, 32 + (13 * k) % 97) for k in range(97)]


@pytest.mark.parametrize("fmt", ["raw8", "raw16", "png"])
def test_pixel_planes_equal_pixel_array(fmt):
    """The cached base-plane twin equals the ``pixel_array`` oracle for
    every synthetic shape, with ids whose ``31 id`` wraps the modulus
    once, many times, past 2^32 and below zero."""
    for k, (w, h) in enumerate(SHAPES):
        ids = [k, k + 97, k + 97 * 1009, 2 ** 40 + k, -k - 1]
        stack = synth.pixel_planes(ids, w, h, fmt)
        assert stack.shape == (len(ids), h, w)
        for plane, img_id in zip(stack, ids):
            want = synth.pixel_array(img_id, w, h, fmt)
            assert plane.dtype == want.dtype
            assert np.array_equal(plane, want), (img_id, w, h, fmt)


def _meta(ids):
    """(id, w, h, fmt, key) rows of the synthetic table for ``ids``."""
    ids = np.asarray(ids, np.int64)
    return pa.table({
        "id": ids,
        "w": pa.array(32 + (ids * 7) % 97, pa.int32()),
        "h": pa.array(32 + (ids * 13) % 97, pa.int32()),
        "fmt": fmt_of_id(ids).tolist(),
        "key": ids * 10,
    })


def _per_image(meta, width, height, overlap):
    """Per-row ``(n_tiles, pix_sum)`` of the one-image-at-a-time path."""
    out = []
    for img_id, w, h, fmt in zip(*(meta.column(c).to_pylist()
                                   for c in ("id", "w", "h", "fmt"))):
        arr = synth.pixel_array(img_id, w, h, fmt)
        plane = codec.decode_image(codec.encode_image(arr, fmt), w, h, fmt)
        ys, xs, total = _window_sums(plane, width, height, overlap,
                                     rollup=True)
        out.append((len(ys) * len(xs), total))
    return out


@pytest.mark.parametrize("overlap", [0, 7])
def test_grouped_rollup_equals_per_image(overlap):
    """One rollup product per (w, h, fmt) group equals the per-image
    ``_window_sums(..., rollup=True)``, row for row in input order."""
    # (w, h, fmt) repeats every 388 ids: all 291 groups, each 2+ times
    meta = _meta(np.arange(5, 5 + 388 * 2)[::-1])
    n_tiles, pix_sum = tiling._image_rollups(meta, 48, 32, overlap)
    assert list(zip(n_tiles.tolist(), pix_sum.tolist())) \
        == _per_image(meta, 48, 32, overlap)


@pytest.mark.parametrize("overlap", [0, 7])
@pytest.mark.parametrize("dtype", [np.uint16, np.uint64])
def test_stack_rollups_take_both_exactness_branches(dtype, overlap):
    """uint16 planes multiply in float64, uint64 ones (bound past 2^53)
    in int64; overlap 7 weights the product, overlap 0 is a row sum.
    Every branch equals the per-plane rollup."""
    planes = np.stack([synth.pixel_array(i, 61, 45, "raw16")
                       for i in range(5)]).astype(dtype)
    plan = tiling._sum_plan(45, 61, planes.dtype, 48, 32, overlap)
    assert plan.wide == (dtype == np.uint64)
    assert (plan.k is None) == (overlap == 0)
    n, totals = tiling._stack_rollups(planes, 48, 32, overlap)
    assert totals.dtype == np.int64
    want = [_window_sums(p, 48, 32, overlap, rollup=True) for p in planes]
    assert n == len(want[0][0]) * len(want[0][1])
    assert totals.tolist() == [t for _, _, t in want]


def test_rollup_chunks_keep_input_order(monkeypatch):
    """A chunk boundary that splits (w, h, fmt) groups still gives every
    row back in input order, batch for batch."""
    monkeypatch.setattr(tiling, "_ROLLUP_CHUNK", 500)
    # 4-batch runs: a run holds some groups twice, and splits others
    meta = _meta(np.arange(1, 1 + 97 * 9))
    batches = meta.to_batches(max_chunksize=128)
    out = list(tiling._rollup_batches(iter(batches), ["key"],
                                      ["key", "n_tiles", "pix_sum"],
                                      48, 32, 0))
    assert [b.num_rows for b in out] == [b.num_rows for b in batches]
    got = pa.Table.from_batches(out)
    assert got.column("key").to_pylist() == meta.column("key").to_pylist()
    assert list(zip(got.column("n_tiles").to_pylist(),
                    got.column("pix_sum").to_pylist())) \
        == _per_image(meta, 48, 32, 0)
