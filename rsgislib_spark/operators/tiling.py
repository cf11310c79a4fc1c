"""Distributed tiling: ``create_tiles`` / ``create_tiles_multi_core``.

The reference computes a vector of tile envelopes then copies pixels per
envelope in a single process (reference: src/cmds/RSGISCmdImageUtils.cpp:
262-836 — grid math; :804-826 — per-envelope copy via RSGISCopyImage).
Here the *tile-spec generation is pure Catalyst column arithmetic* — no
UDF, no shuffle: ``explode(sequence(...))`` fans each image row out to its
tiles, and every window coordinate is derived from ``(w, h, tile_idx)``
with the reference's exact remainder/overlap/clamp rules (the pure-python
oracle for this arithmetic is ``geo.tilegrid.tile_specs``, unit-tested
against the reference's documented 931x947@200 => 25-tile case,
python_tests/test_imageutils.py:643-655).

Pixel materialization is a separate, optional Arrow stage
(``tile_pixels``): decode ``bytes`` once per image inside ``mapInArrow``,
slice every tile window out of the numpy plane, re-encode.  Tile pixel
sums never slice: the grid is separable, so with cached per-axis 0/1
window matrices every tile sum of a plane ``P`` is one product
``Ry . P . Rx^T`` (and the whole-image rollup ``cy . P . cx``, ``c`` the
per-axis coverage count) -- exact integers for any overlap.  Because the
specs stage is plan-only, queries that need only tile *assignments*
(counts, windows, names — most catalog operations) never touch pixels and
never pay the decode.

Tile identity: ``tile_idx`` = creation order (row-major including the
remainder column/row — ``{base}_tile{i}`` 0-based, RSGISCmdImageUtils.cpp:
809-811), and the multi-core naming ``x{i}y{j}`` 1-based
(imageutils/__init__.py:2640-2672).  Both are explicit columns — never
derived from partition order (SURVEY.md §4.2 determinism rule).
"""

from __future__ import annotations

import functools
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

from .. import synth
from ..functions import codec
from ..geo.tilegrid import tile_specs

__all__ = ["tile_spec_df", "tile_spec_offset_df", "block_iter_specs",
           "tile_pixels", "tile_checksums_fused", "TILE_PIXEL_SCHEMA"]


def tile_spec_df(images: DataFrame, width: int, height: int,
                 overlap: int = 0, img_w: str = "w", img_h: str = "h") -> DataFrame:
    """Fan each image row out to its tile windows (Catalyst-only).

    Adds: n_tiles_x/y (full tiles), cols/rows (incl. remainder), tile_idx,
    tile_x, tile_y, tile_name, txmin/txmax/tymin/tymax (half-open pixel
    window, overlap-expanded and clamped), tile_name_mc (multi-core name).
    """
    tw, th, ov = int(width), int(height), int(overlap)
    w, h = F.col(img_w), F.col(img_h)

    num_x = (w / tw).cast("int")          # floor for positive ints
    num_y = (h / th).cast("int")
    rem_x = w - num_x * tw
    rem_y = h - num_y * th
    cols = num_x + F.when(rem_x > 0, 1).otherwise(0)
    rows = num_y + F.when(rem_y > 0, 1).otherwise(0)

    df = (
        images
        .withColumn("_numx", num_x).withColumn("_numy", num_y)
        .withColumn("_remx", rem_x).withColumn("_remy", rem_y)
        .withColumn("_cols", cols).withColumn("_rows", rows)
        .withColumn("tile_idx",
                    F.explode(F.sequence(F.lit(0), F.col("_cols") * F.col("_rows") - 1)))
        .withColumn("tile_x", F.col("tile_idx") % F.col("_cols"))
        .withColumn("tile_y", (F.col("tile_idx") / F.col("_cols")).cast("int"))
    )

    t_w = F.when(F.col("tile_x") < F.col("_numx"), tw).otherwise(F.col("_remx"))
    t_h = F.when(F.col("tile_y") < F.col("_numy"), th).otherwise(F.col("_remy"))
    x0 = F.col("tile_x") * tw
    y0 = F.col("tile_y") * th

    df = (
        df.withColumn("txmin", F.greatest(x0 - ov, F.lit(0)))
        .withColumn("txmax", F.least(x0 + t_w + ov, w))
        .withColumn("tymin", F.greatest(y0 - ov, F.lit(0)))
        .withColumn("tymax", F.least(y0 + t_h + ov, h))
        .withColumn("tile_name",
                    F.concat(F.col("image_id"), F.lit("_tile"), F.col("tile_idx")))
        .withColumn("tile_name_mc",
                    F.concat(F.lit("x"), F.col("tile_x") + 1,
                             F.lit("y"), F.col("tile_y") + 1))
        .drop("_numx", "_numy", "_remx", "_remy", "_cols", "_rows")
    )
    return df


def tile_spec_offset_df(images: DataFrame, width: int, height: int,
                        overlap: int = 0, img_w: str = "w",
                        img_h: str = "h") -> DataFrame:
    """Half-tile-offset tiling grid (``offsetTiling``) — Catalyst-only.

    Reference: RSGISCmdImageUtils.cpp:305-535.  Layout per axis: one
    leading half tile, ``num`` full tiles, then a remainder tile whenever
    ``rem = size - num*width > 0`` (the reference computes the remainder
    from the *full* image size, so it overshoots and clamps — including
    the zero-width degenerate window on exact fits, replicated here).
    Requires width/height >= 2 so the half offset is nonzero.
    """
    tw, th, ov = int(width), int(height), int(overlap)
    if tw < 2 or th < 2:
        raise ValueError("offset tiling needs width/height >= 2")
    xo, yo = tw // 2, th // 2
    w, h = F.col(img_w), F.col(img_h)

    # F.floor (not a bare int cast) so images narrower than the half
    # offset give num = -1 exactly like the python/DuckDB floor-division
    # oracles, instead of truncating toward zero and emitting a spurious
    # degenerate tile.
    num_x = F.floor((w - xo) / tw).cast("int")
    num_y = F.floor((h - yo) / th).cast("int")
    rem_x = w - num_x * tw
    rem_y = h - num_y * th
    cols = F.lit(1) + num_x + F.when(rem_x > 0, 1).otherwise(0)
    rows = F.lit(1) + num_y + F.when(rem_y > 0, 1).otherwise(0)

    df = (
        images
        .withColumn("_numx", num_x).withColumn("_numy", num_y)
        .withColumn("_remx", rem_x).withColumn("_remy", rem_y)
        .withColumn("_cols", cols).withColumn("_rows", rows)
        .withColumn("tile_idx",
                    F.explode(F.sequence(F.lit(0),
                                         F.col("_cols") * F.col("_rows") - 1)))
        .withColumn("tile_x", F.col("tile_idx") % F.col("_cols"))
        .withColumn("tile_y", (F.col("tile_idx") / F.col("_cols")).cast("int"))
    )
    tx, ty = F.col("tile_x"), F.col("tile_y")
    c_x = F.when(tx == 0, 0).otherwise(xo + (tx - 1) * tw)
    c_y = F.when(ty == 0, 0).otherwise(yo + (ty - 1) * th)
    t_w = F.when(tx == 0, xo).otherwise(
        F.when(tx <= F.col("_numx"), tw).otherwise(F.col("_remx")))
    t_h = F.when(ty == 0, yo).otherwise(
        F.when(ty <= F.col("_numy"), th).otherwise(F.col("_remy")))
    return (
        df.withColumn("txmin", F.greatest(c_x - ov, F.lit(0)))
        .withColumn("txmax", F.least(c_x + t_w + ov, w))
        .withColumn("tymin", F.greatest(c_y - ov, F.lit(0)))
        .withColumn("tymax", F.least(c_y + t_h + ov, h))
        .withColumn("tile_name",
                    F.concat(F.col("image_id"), F.lit("_tile"),
                             F.col("tile_idx")))
        .drop("_numx", "_numy", "_remx", "_remy", "_cols", "_rows")
    )


def block_iter_specs(images: DataFrame, block_w: int, block_h: int,
                     img_w: str = "w", img_h: str = "h") -> DataFrame:
    """StdImgBlockIter grid: end blocks re-read SHIFTED to full size.

    Reference: python/rsgislib/imageutils/stdimgblockiter.py:214-288 —
    every block is exactly (block_w, block_h); the last block per axis
    starts at ``size - block`` (clamped to 0), overlapping its
    predecessor instead of shrinking.  The rule that matters for ML
    feeds (fixed tensor shapes) — replicated as pure Catalyst columns.
    """
    bw, bh = int(block_w), int(block_h)
    w, h = F.col(img_w), F.col(img_h)
    cols = F.ceil(w / F.lit(bw)).cast("int")
    rows = F.ceil(h / F.lit(bh)).cast("int")
    df = (
        images
        .withColumn("_cols", cols).withColumn("_rows", rows)
        .withColumn("block_idx",
                    F.explode(F.sequence(F.lit(0),
                                         F.col("_cols") * F.col("_rows") - 1)))
        .withColumn("block_x", F.col("block_idx") % F.col("_cols"))
        .withColumn("block_y", (F.col("block_idx") / F.col("_cols")).cast("int"))
    )
    x0 = F.greatest(F.least(F.col("block_x") * bw, w - bw), F.lit(0))
    y0 = F.greatest(F.least(F.col("block_y") * bh, h - bh), F.lit(0))
    return (
        df.withColumn("bxmin", x0)
        .withColumn("bxmax", F.least(x0 + bw, w))
        .withColumn("bymin", y0)
        .withColumn("bymax", F.least(y0 + bh, h))
        .drop("_cols", "_rows")
    )


TILE_PIXEL_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("tile_idx", IntegerType()),
    StructField("tile_name", StringType()),
    StructField("tile_w", IntegerType()),
    StructField("tile_h", IntegerType()),
    StructField("fmt", StringType()),
    StructField("bytes", BinaryType()),
    StructField("checksum", LongType()),
])

_TILE_CHECKSUM_SCHEMA = StructType(
    [f for f in TILE_PIXEL_SCHEMA.fields if f.name != "bytes"])

#: the metadata a fused kernel consumes to synthesize an image payload
_PAYLOAD_INPUTS = ("id", "w", "h", "fmt")

#: rows the image-rollup kernel regroups by (w, h, fmt) at a time; its
#: input is metadata only (~60 B a row), so a chunk stays near 1 MB
_ROLLUP_CHUNK = 16384

#: most pixels synthesized, decoded and rolled up in one stack
_STACK_PIXELS = 1 << 20


@functools.lru_cache(maxsize=1024)
def _axis_windows(size: int, tile: int, overlap: int):
    """Tile windows along one image axis, in ``tile_specs`` order.

    Returns ``(spans, r, c)``: the half-open ``[lo, hi)`` spans, the 0/1
    window matrix ``r`` (n_windows x size, ``r[i, lo:hi] = 1``) and the
    per-pixel coverage count ``c = r.sum(0)`` (all ones without
    overlap).  The grid is separable, so the one-row call of the
    ``tile_specs`` oracle gives either axis exactly.
    """
    spans = tuple((a, b) for a, b, _, _ in
                  tile_specs(size, 1, tile, 1, overlap))
    r = np.zeros((len(spans), size))
    for i, (a, b) in enumerate(spans):
        r[i, a:b] = 1.0
    c = r.sum(0)
    r.flags.writeable = c.flags.writeable = False
    return spans, r, c


class _SumPlan(NamedTuple):
    """What the exact tile sums of an (h, w) plane need (see
    :func:`_sum_plan`)."""
    ys: tuple
    xs: tuple
    ry: np.ndarray
    rx: np.ndarray
    cy: np.ndarray
    cx: np.ndarray
    k: np.ndarray | None     # flattened coverage cy (x) cx; None if all ones
    wide: bool               # partial sums may reach 2^53: multiply in int64


@functools.lru_cache(maxsize=4096)
def _sum_plan(h: int, w: int, dtype: np.dtype, width: int, height: int,
              overlap: int) -> _SumPlan:
    """The window matrices and exactness branch for every plane of one
    ``(shape, dtype, tile, overlap)``, decided once.

    float64 BLAS is exact while every partial sum is an integer below
    2^53; the coverage-weighted image total bounds them all.  Above the
    bound the factors come back as int64 (``wide``).
    """
    ys, ry, cy = _axis_windows(h, height, overlap)
    xs, rx, cx = _axis_windows(w, width, overlap)
    info = np.iinfo(dtype)
    bound = max(info.max, -info.min) * h * w \
        * cy.max(initial=0) * cx.max(initial=0)
    wide = bound >= 2.0 ** 53
    if wide:
        ry, rx, cy, cx = (a.astype(np.int64) for a in (ry, rx, cy, cx))
    k = None if (cy == 1).all() and (cx == 1).all() \
        else np.outer(cy, cx).ravel()
    return _SumPlan(ys, xs, ry, rx, cy, cx, k, wide)


def _window_sums(plane: np.ndarray, width: int, height: int, overlap: int,
                 rollup: bool = False):
    """Exact pixel sums of every tile window of ``plane``.

    Returns ``(ys, xs, sums)``: the per-axis spans and the tile sums
    ``Ry . P . Rx^T`` as int64, flattened row-major (= ``tile_idx``
    order) -- or, with ``rollup``, their total ``cy . P . cx`` as one
    int, without forming the tiles.  Either is exact for any overlap.
    """
    p = _sum_plan(*plane.shape, plane.dtype, width, height, overlap)
    if p.wide:
        plane = plane.astype(np.int64)
    if rollup:
        return p.ys, p.xs, int(p.cy @ plane @ p.cx)
    return p.ys, p.xs, (p.ry @ plane @ p.rx.T).astype(np.int64).ravel()


def _stack_rollups(stack: np.ndarray, width: int, height: int,
                   overlap: int):
    """``(n_tiles, totals)`` of an (n, h, w) plane stack: the per-plane
    ``_window_sums(..., rollup=True)`` totals as one int64 vector, from
    one product ``stack.reshape(n, h w) @ (cy (x) cx)`` -- a plain
    int64 row sum when the coverage is all ones."""
    n, h, w = stack.shape
    p = _sum_plan(h, w, stack.dtype, width, height, overlap)
    flat = stack.reshape(n, h * w)
    if p.k is None:
        totals = flat.sum(axis=1, dtype=np.int64)
    elif p.wide:
        totals = flat.astype(np.int64) @ p.k
    else:
        totals = (flat @ p.k).astype(np.int64)
    return len(p.ys) * len(p.xs), totals


def _synth_planes(batch):
    """``(plane, fmt)`` per (id, w, h, fmt) row of an Arrow batch: the
    payload synthesized, encoded and decoded again -- the plane
    ``tile_pixels(synth.attach_bytes(...))`` sees."""
    for img_id, w, h, fmt in zip(*(batch.column(c).to_pylist()
                                   for c in _PAYLOAD_INPUTS)):
        buf = codec.encode_image(synth.pixel_planes((img_id,), w, h, fmt)[0],
                                 fmt)
        yield codec.decode_image(buf, w, h, fmt), fmt


def _chunks(batches, rows: int):
    """Consecutive runs of ``batches`` of at least ``rows`` rows each
    (the last run may be shorter)."""
    run, n = [], 0
    for batch in batches:
        run.append(batch)
        n += batch.num_rows
        if n >= rows:
            yield run
            run, n = [], 0
    if run:
        yield run


def _image_rollups(meta: pa.Table, width: int, height: int, overlap: int):
    """``(n_tiles, pix_sum)`` int64 vectors over the (id, w, h, fmt) rows
    of ``meta``, in row order, one ``(w, h, fmt)`` group at a time.

    Per group: one synthesized plane stack (``synth.pixel_planes``), an
    ``encode_image`` + ``decode_image`` per image into a preallocated
    stack, and one rollup product (``_stack_rollups``).  A group is cut
    into pieces of at most ``_STACK_PIXELS`` pixels so memory stays
    bounded whatever the shape mix.
    """
    ids, ws, hs = (meta.column(c).to_numpy() for c in ("id", "w", "h"))
    fmt = meta.column("fmt").combine_chunks().dictionary_encode()
    keys, group = np.unique(
        np.column_stack([ws, hs, fmt.indices.to_numpy()]), axis=0,
        return_inverse=True)
    group = group.ravel()
    order = np.argsort(group, kind="stable")
    starts = np.searchsorted(group[order], np.arange(len(keys) + 1))
    fmts = fmt.dictionary.to_pylist()
    n_tiles = np.empty(len(ids), np.int64)
    pix_sum = np.empty(len(ids), np.int64)
    for (w, h, f), lo, hi in zip(keys.tolist(), starts[:-1], starts[1:]):
        step = max(1, _STACK_PIXELS // max(1, w * h))
        for a in range(lo, hi, step):
            rows = order[a:min(a + step, hi)]
            stack = synth.pixel_planes(ids[rows], w, h, fmts[f])
            planes = np.empty_like(stack)
            for i, arr in enumerate(stack):
                planes[i] = codec.decode_image(
                    codec.encode_image(arr, fmts[f]), w, h, fmts[f])
            n_tiles[rows], pix_sum[rows] = _stack_rollups(
                planes, width, height, overlap)
    return n_tiles, pix_sum


def _rollup_batches(batches, keep, names, width: int, height: int,
                    overlap: int):
    """The ``rollup="image"`` kernel: per input row, the ``keep``
    columns plus ``n_tiles`` and ``pix_sum``, as batches named
    ``names``.

    One Arrow batch holds only ~2 rows per ``(w, h, fmt)``, so the rows
    are regrouped across ``_ROLLUP_CHUNK``-row runs of batches; the
    output keeps the input's order and batch boundaries.
    """
    for run in _chunks(batches, _ROLLUP_CHUNK):
        n_tiles, pix_sum = _image_rollups(pa.Table.from_batches(run),
                                          width, height, overlap)
        at = 0
        for batch in run:
            end = at + batch.num_rows
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep]
                + [pa.array(n_tiles[at:end]), pa.array(pix_sum[at:end])],
                names=names)
            at = end


def _tile_batch(batch, planes, width: int, height: int, overlap: int,
                schema: StructType, encode: bool = False) -> pa.RecordBatch:
    """One Arrow row per tile of every ``(plane, fmt)`` of ``batch``, with
    the columns of ``schema`` (a subset of ``TILE_PIXEL_SCHEMA``)."""
    rep, idx, names, tws, ths, sums, payloads = [], [], [], [], [], [], []
    for i, (image_id, (plane, fmt)) in enumerate(
            zip(batch.column("image_id").to_pylist(), planes)):
        ys, xs, s = _window_sums(plane, width, height, overlap)
        n = s.size
        rep += [i] * n
        idx += range(n)
        names += [f"{image_id}_tile{k}" for k in range(n)]
        tws += [b - a for a, b in xs] * len(ys)
        ths += [b - a for a, b in ys for _ in xs]
        sums += s.tolist()
        if "bytes" in schema.names:
            payloads += [codec.encode_image(plane[y0:y1, x0:x1], fmt)
                         if encode else b""
                         for y0, y1 in ys for x0, x1 in xs]
    take = pa.array(rep, pa.int32())
    cols = {
        "image_id": batch.column("image_id").take(take),
        "tile_idx": pa.array(idx, pa.int32()),
        "tile_name": pa.array(names, pa.string()),
        "tile_w": pa.array(tws, pa.int32()),
        "tile_h": pa.array(ths, pa.int32()),
        "fmt": batch.column("fmt").take(take),
        "bytes": pa.array(payloads, pa.binary()),
        "checksum": pa.array(sums, pa.int64()),
    }
    return pa.RecordBatch.from_arrays([cols[c] for c in schema.names],
                                      names=schema.names)


def tile_pixels(images: DataFrame, width: int, height: int,
                overlap: int = 0, encode: bool = True) -> DataFrame:
    """Materialize tile pixel payloads: one output row per tile.

    ``images`` must carry (image_id, bytes, w, h, fmt).  Each input image
    is decoded once; all its tile windows are sliced from the same numpy
    plane (the reference re-reads the file per envelope -- here the
    decode amortizes).  ``checksum`` = int64 sum of the tile's pixel
    values, the cheap content fingerprint used by parity tests and
    lineage records.  Set ``encode=False`` to skip re-encoding
    (checksum-only scans).
    """
    tw, th, ov = int(width), int(height), int(overlap)

    def tiling_tile_pixels(batches):
        for batch in batches:
            planes = ((plane, fmt)
                      for _, plane, fmt in codec.planes(batch, "fmt"))
            yield _tile_batch(batch, planes, tw, th, ov, TILE_PIXEL_SCHEMA,
                              encode)

    return images.select(*codec.IMAGE_COLS).mapInArrow(
        tiling_tile_pixels, schema=TILE_PIXEL_SCHEMA)


def tile_checksums_fused(meta: DataFrame, width: int, height: int,
                         overlap: int = 0,
                         rollup: str | None = None) -> DataFrame:
    """Fused payload-synth -> decode -> tile-checksum in ONE Arrow stage.

    Identical per-image semantics to
    ``tile_pixels(synth.attach_bytes(meta), encode=False)`` -- the full
    encode + decode + checksum work happens for every image -- but the
    payload bytes never cross the Python<->JVM Arrow channel between two
    separate Python stages.  Chained Python stages in one Spark task
    each pay a full Arrow round-trip of their columns (and silently run
    a SECOND Python worker per task, masking true core cost); fusing is
    the Python-stage analog of whole-stage codegen -- and the plan shape
    a real deployment gets when the decode UDF reads payloads directly
    from storage inside the scan stage instead of routing them through
    the JVM.  The stage is a ``mapInArrow``: no pandas conversion on
    either side of the channel.

    Default output: one row per tile, the ``tile_pixels`` columns minus
    ``bytes``; input needs (id, image_id, w, h, fmt).

    ``rollup="image"`` additionally pushes the per-image combine into
    the same stage (map-side partial aggregation, the hand analog of
    Catalyst's partial_sum before an Exchange): one row per input row,
    carrying every input column except the consumed (id, w, h, fmt)
    through unchanged, plus ``n_tiles`` and ``pix_sum`` (the sum of
    the tile checksums, formed without forming the tiles).  Input rows
    may be (image, zone) pairs: each pair is rolled up on its own.  The
    kernel regroups rows by ``(w, h, fmt)`` and works one group at a
    time (``_rollup_batches``); every image is still synthesized,
    encoded and decoded on its own.
    """
    tw, th, ov = int(width), int(height), int(overlap)

    if rollup == "image":
        keep = [c for c in meta.columns if c not in _PAYLOAD_INPUTS]
        schema = StructType([meta.schema[c] for c in keep] + [
            StructField("n_tiles", LongType()),
            StructField("pix_sum", LongType()),
        ])

        def tiling_image_rollup(batches):
            return _rollup_batches(batches, keep, schema.names, tw, th, ov)

        return meta.mapInArrow(tiling_image_rollup, schema=schema)

    def tiling_tile_checksums(batches):
        for batch in batches:
            yield _tile_batch(batch, _synth_planes(batch), tw, th, ov,
                              _TILE_CHECKSUM_SCHEMA)

    return meta.select("id", "image_id", "w", "h", "fmt") \
        .mapInArrow(tiling_tile_checksums, schema=_TILE_CHECKSUM_SCHEMA)
