"""Codec layer: roundtrips, PNG filter decoding, PSNR invariant, payload
size checks against the row's metadata."""

import numpy as np
import pytest

from rsgislib_spark.functions import codec
from rsgislib_spark.synth import pixel_array


@pytest.mark.parametrize("fmt", ["raw8", "raw16", "png"])
def test_lossless_roundtrip(fmt):
    arr = pixel_array(11, 57, 43, fmt)
    buf = codec.encode_image(arr, fmt)
    out = codec.decode_image(buf, 57, 43, fmt)
    assert out.dtype == arr.dtype
    assert np.array_equal(out, arr)


def test_png_16bit_roundtrip():
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 65535, size=(31, 77), dtype=np.uint16)
    assert np.array_equal(codec.decode_png(codec.encode_png(arr)), arr)


def test_png_filtered_scanlines_decode():
    # encoder always writes filter 0; verify the decoder handles 1-4 by
    # re-filtering a known image manually.
    import struct
    import zlib

    arr = np.arange(0, 64, dtype=np.uint8).reshape(8, 8)
    h, w = arr.shape

    # build scanlines with Sub(1) on row1, Up(2) row2, Average(3) row3, Paeth(4) row4
    rows = []
    prev = np.zeros(w, np.int32)
    for y in range(h):
        row = arr[y].astype(np.int32)
        ft = [0, 1, 2, 3, 4, 0, 1, 2][y]
        if ft == 0:
            enc = row.copy()
        elif ft == 1:
            enc = row.copy()
            enc[1:] = (row[1:] - row[:-1]) % 256
        elif ft == 2:
            enc = (row - prev) % 256
        elif ft == 3:
            left = np.concatenate([[0], row[:-1]])
            enc = (row - ((left + prev) // 2)) % 256
        else:
            left = np.concatenate([[0], row[:-1]])
            upleft = np.concatenate([[0], prev[:-1]])
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            enc = (row - pred) % 256
        rows.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
        prev = row
    scan = b"".join(rows)

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")
    assert np.array_equal(codec.decode_png(png), arr)


def psnr(ref: np.ndarray, test: np.ndarray, peak: float | None = None) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical arrays)."""
    ref = np.asarray(ref, np.float64)
    test = np.asarray(test, np.float64)
    mse = float(np.mean((ref - test) ** 2))
    if mse == 0.0:
        return float("inf")
    if peak is None:
        peak = float(ref.max()) or 1.0
    return 10.0 * np.log10(peak * peak / mse)


def test_jpeg_stub_psnr_above_40db():
    arr = pixel_array(5, 120, 80, "raw16")
    out = codec.decode_jpeg_stub(codec.encode_jpeg_stub(arr))
    assert psnr(arr, out, peak=1023.0) >= 40.0
    assert psnr(arr, arr) == float("inf")


@pytest.mark.parametrize("fmt", ["png", "jpeg"])
def test_decode_checks_payload_size_against_metadata(fmt):
    """A 3x4 payload read as a 2x6 row raises, for JPEG as for PNG."""
    arr = np.arange(12, dtype=np.uint16).reshape(3, 4)
    buf = codec.encode_image(arr, fmt)
    assert codec.decode_image(buf, 4, 3, fmt).shape == (3, 4)
    with pytest.raises(ValueError, match=f"{fmt} size mismatch vs metadata"):
        codec.decode_image(buf, 2, 6, fmt)


def test_png_without_ihdr_raises_value_error():
    buf = codec.encode_png(np.zeros((2, 2), np.uint8))
    n = 8 + 12 + 13                       # signature + the IHDR chunk
    with pytest.raises(ValueError, match="no IHDR"):
        codec.decode_png(buf[:8] + buf[n:])


def test_jpeg_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        codec.decode_jpeg_stub(b"\xff\xd8\xff\xe0 not really")


def test_catmull_rom_weights_exact_properties():
    """The scaled integer Catmull-Rom weights must form an exact
    partition of unity (sum = 2*d^3) and reproduce linear ramps
    exactly — the two identities that define the kernel."""
    import numpy as np

    from rsgislib_spark.sources.multimodal import _cr_weights

    for d in (96, 64, 10):
        f = np.arange(d, dtype=np.int64)
        w0, w1, w2, w3 = _cr_weights(f, d)
        assert ((w0 + w1 + w2 + w3) == 2 * d ** 3).all()
        x0 = 7
        lin = w0 * (x0 - 1) + w1 * x0 + w2 * (x0 + 1) + w3 * (x0 + 2)
        # sum_k w_k*(x0+k-1) = 2d^3*(x0 + f/d)  ==  lin*d = 2d^3*(x0*d+f)
        assert (lin * d == 2 * d ** 3 * (x0 * d + f)).all()


def test_resize_cubic_matches_float_reference(spark):
    """The integer-exact bicubic stats must agree with an independent
    float Catmull-Rom implementation to float tolerance."""
    import numpy as np

    from rsgislib_spark.sources.multimodal import resize_cubic_stats

    rng = np.random.RandomState(3)
    w, h, ow, oh = 40, 30, 16, 12
    arr = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    df = spark.createDataFrame(
        [("i0", bytearray(arr.tobytes()), w, h, "raw8")],
        "image_id string, bytes binary, w int, h int, fmt string")
    r = resize_cubic_stats(df, ow, oh).collect()[0]

    def cr(t):
        return np.array([(-t**3 + 2*t**2 - t) / 2,
                         (3*t**3 - 5*t**2 + 2) / 2,
                         (-3*t**3 + 4*t**2 + t) / 2,
                         (t**3 - t**2) / 2])

    a = arr.astype(np.float64)
    scale = 4.0 * (2*ow)**3 * (2*oh)**3 / 4.0  # (2Dx^3)*(2Dy^3)
    total = 0.0
    for yo in range(oh):
        py = (yo + 0.5) * h / oh - 0.5
        y0 = int(np.floor(py)); ty = py - y0
        wy = cr(ty)
        for xo in range(ow):
            px = (xo + 0.5) * w / ow - 0.5
            x0 = int(np.floor(px)); tx = px - x0
            wx = cr(tx)
            v = 0.0
            for ky in range(4):
                yy = min(max(y0 + ky - 1, 0), h - 1)
                for kx in range(4):
                    xx = min(max(x0 + kx - 1, 0), w - 1)
                    v += wy[ky] * wx[kx] * a[yy, xx]
            total += v
    # scaled integer sum / (2Dx^3 * 2Dy^3) vs the float reference sum
    denom = (2.0 * (2 * ow) ** 3) * (2.0 * (2 * oh) ** 3)
    assert abs(r.sum_sc / denom - total) < 1e-6 * max(1.0, abs(total))


def test_bspline_weights_exact_properties():
    """The scaled integer B-spline weights must form an exact partition
    of unity (sum = 6*d^3), be non-negative (the no-overshoot property
    that defines INTERP_CUBICSPLINE), and reproduce linear ramps
    exactly (B-splines have linear precision)."""
    import numpy as np

    from rsgislib_spark.sources.multimodal import _bs_weights

    for d in (48, 32, 10):
        f = np.arange(d, dtype=np.int64)
        w0, w1, w2, w3 = _bs_weights(f, d)
        assert ((w0 + w1 + w2 + w3) == 6 * d ** 3).all()
        for w in (w0, w1, w2, w3):
            assert (w >= 0).all()
        x0 = 7
        lin = w0 * (x0 - 1) + w1 * x0 + w2 * (x0 + 1) + w3 * (x0 + 2)
        # linear precision: sum_k w_k*(x0+k-1) = 6d^3*(x0 + f/d)
        assert (lin * d == 6 * d ** 3 * (x0 * d + f)).all()


def test_lanczos_table_properties():
    """Quantized Lanczos table: every row sums to exactly the scale
    (forced partition of unity), the t=0 row is a pure center tap, and
    quantization error per tap is bounded by one quantum plus the
    center-tap residual fold."""
    import numpy as np

    from rsgislib_spark.sources.multimodal import LANCZOS_SCALE, lanczos_table

    for d in (96, 64, 10):
        tab = lanczos_table(d)
        assert tab.shape == (d, 6)
        assert (tab.sum(axis=1) == LANCZOS_SCALE).all()
        assert list(tab[0]) == [0, 0, LANCZOS_SCALE, 0, 0, 0]

        # independent float reference for the non-center taps
        t = np.arange(d) / d
        ks = np.arange(-2, 4, dtype=float)
        x = t[:, None] - ks[None, :]
        with np.errstate(invalid="ignore", divide="ignore"):
            w = np.where(np.abs(x) < 3,
                         np.sinc(x) * np.sinc(x / 3), 0.0)
        w[0, 2] = 1.0
        w = w / w.sum(axis=1, keepdims=True)
        err = np.abs(tab / LANCZOS_SCALE - w)
        mask = np.ones_like(err, dtype=bool)
        mask[:, 2] = False  # center tap absorbs the rounding residual
        assert err[mask].max() <= 0.5 / LANCZOS_SCALE + 1e-12
        assert err[:, 2].max() <= 6.0 / LANCZOS_SCALE


def test_resize_lanczos_matches_float_reference(spark):
    """The integer Lanczos stats must agree with an independent float
    Lanczos-3 implementation to quantization tolerance."""
    import numpy as np

    from rsgislib_spark.sources.multimodal import (LANCZOS_SCALE,
                                                   resize_lanczos_stats)

    rng = np.random.RandomState(11)
    w, h, ow, oh = 40, 30, 16, 12
    arr = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    df = spark.createDataFrame(
        [("i0", bytearray(arr.tobytes()), w, h, "raw8")],
        "image_id string, bytes binary, w int, h int, fmt string")
    r = resize_lanczos_stats(df, ow, oh).collect()[0]

    def lz(t):
        x = t - np.arange(-2, 4, dtype=float)
        with np.errstate(invalid="ignore", divide="ignore"):
            w_ = np.where(np.abs(x) < 3, np.sinc(x) * np.sinc(x / 3), 0.0)
        if t == 0.0:
            w_ = np.array([0, 0, 1.0, 0, 0, 0])
        return w_ / w_.sum()

    a = arr.astype(np.float64)
    total = 0.0
    for yo in range(oh):
        py = (yo + 0.5) * h / oh - 0.5
        y0 = int(np.floor(py))
        wy = lz(py - y0)
        for xo in range(ow):
            px = (xo + 0.5) * w / ow - 0.5
            x0 = int(np.floor(px))
            wx = lz(px - x0)
            v = 0.0
            for ky in range(6):
                yy = min(max(y0 + ky - 2, 0), h - 1)
                for kx in range(6):
                    xx = min(max(x0 + kx - 2, 0), w - 1)
                    v += wy[ky] * wx[kx] * a[yy, xx]
            total += v
    approx = r.sum_sc / float(LANCZOS_SCALE) ** 2
    # per-tap quantization <= 0.5/scale (residual on center), 36 taps,
    # pixel <= 255, n_out outputs
    tol = ow * oh * 36 * (7.0 / LANCZOS_SCALE) * 255
    assert abs(approx - total) < tol


def _png(w, h, depth, scan):
    """A grayscale PNG around an uncompressed scanline stream."""
    import struct
    import zlib

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan, 6)) + chunk(b"IEND", b""))


def _row_loop_png(arr):
    """Reference framing: a filter-0 byte prepended to each row in turn."""
    depth = 8 if arr.dtype == np.uint8 else 16
    raw = (arr if depth == 8 else arr.astype(">u2")).tobytes()
    h, w = arr.shape
    stride = w * depth // 8
    scan = b"".join(b"\x00" + raw[y * stride:(y + 1) * stride]
                    for y in range(h))
    return _png(w, h, depth, scan)


@pytest.mark.parametrize("arr", [
    pixel_array(11, 57, 43, "raw8"),
    pixel_array(11, 57, 43, "raw16"),
    pixel_array(3, 128, 97, "raw8")[5:70, 9:100],     # non-contiguous
    pixel_array(3, 128, 97, "raw16")[5:70, 9:100],
    np.full((1, 1), 200, np.uint8),
    np.zeros((4, 0), np.uint16),
], ids=["u8", "u16", "u8_view", "u16_view", "1x1", "zero_width"])
def test_encode_png_matches_row_loop_framing(arr):
    assert codec.encode_png(arr) == _row_loop_png(arr)


def test_encode_png_scanline_golden():
    import zlib

    arr = np.array([[1, 258], [65535, 0]], np.uint16)
    buf = codec.encode_png(arr)
    # IDAT body starts after signature (8) + IHDR chunk (25) + len/tag (8)
    n = int.from_bytes(buf[33:37], "big")
    assert buf[37:41] == b"IDAT"
    assert zlib.decompress(buf[41:41 + n]) == \
        b"\x00\x00\x01\x01\x02" b"\x00\xff\xff\x00\x00"


def test_png_mixed_filter_rows_take_fallback(monkeypatch):
    arr = np.array([[10, 20, 30], [11, 22, 33], [1, 2, 3]], np.uint8)
    calls = []
    real = codec._unfilter

    def spy(*a):
        calls.append(a)
        return real(*a)

    monkeypatch.setattr(codec, "_unfilter", spy)
    plain = b"".join(b"\x00" + bytes(r) for r in arr.tolist())
    assert np.array_equal(codec.decode_png(_png(3, 3, 8, plain)), arr)
    assert calls == []
    # row 1 stored with the Up filter: bytes are the deltas to row 0
    up = bytes((b - a) % 256 for a, b in zip(arr[0], arr[1]))
    mixed = (b"\x00" + bytes(arr[0].tolist()) + b"\x02" + up
             + b"\x00" + bytes(arr[2].tolist()))
    assert np.array_equal(codec.decode_png(_png(3, 3, 8, mixed)), arr)
    assert len(calls) == 1


def test_png_bad_filter_type_raises():
    scan = b"\x00\x01\x02" + b"\x05\x03\x04"
    with pytest.raises(ValueError, match="bad PNG filter type 5"):
        codec.decode_png(_png(2, 2, 8, scan))


def test_png_data_size_mismatch_raises():
    with pytest.raises(ValueError, match="size mismatch"):
        codec.decode_png(_png(2, 2, 8, b"\x00\x01\x02\x00\x03"))


def _image_batch():
    """Arrow batch of (image_id, bytes, w, h, fmt, lon) rows, one per
    lossless format, plus the planes decode_image gives them."""
    import pyarrow as pa

    rows, want = [], []
    for k, (fmt, w, h) in enumerate((("raw8", 19, 7), ("raw16", 11, 13),
                                     ("png", 23, 5), ("png", 8, 9))):
        img_id = 5 + 7 * k
        buf = codec.encode_image(pixel_array(img_id, w, h, fmt), fmt)
        rows.append((f"img{img_id}", buf, w, h, fmt, img_id * 10))
        want.append(codec.decode_image(buf, w, h, fmt))
    names = list(codec.IMAGE_COLS) + ["lon"]
    batch = pa.RecordBatch.from_pylist([dict(zip(names, r)) for r in rows])
    return batch, want


@pytest.mark.parametrize("dtype", [None, np.int64])
def test_planes_match_decode_image(dtype):
    batch, want = _image_batch()
    got = list(codec.planes(batch, "lon", "fmt", dtype=dtype))
    assert [g[0] for g in got] == batch.column("image_id").to_pylist()
    assert [g[2] for g in got] == batch.column("lon").to_pylist()
    assert [g[3] for g in got] == batch.column("fmt").to_pylist()
    for (_, plane, *_), ref in zip(got, want):
        assert plane.dtype == (ref.dtype if dtype is None else dtype)
        assert np.array_equal(plane, ref)
        if dtype is not None:
            plane[0, 0] = -1          # a cast plane is a writable copy


class _CaptureFrame:
    """Stands in for a Spark DataFrame: records the select and the
    mapInArrow kernel instead of planning them."""

    def select(self, *cols):
        self.cols = cols
        return self

    def mapInArrow(self, fn, schema):
        self.fn, self.schema = fn, schema
        return self


def test_map_images_kernel_contract():
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    schema = StructType([StructField("image_id", StringType()),
                         StructField("n_pix", LongType()),
                         StructField("lon", LongType())])

    def per_image(out, image_id, plane, lon):
        out["image_id"].append(image_id)
        out["n_pix"].append(int(plane.size))
        out["lon"].append(lon)

    frame = codec.map_images(_CaptureFrame(), per_image, schema,
                             extra_cols=("lon",), dtype=np.int64)
    assert frame.cols == codec.IMAGE_COLS + ("lon",)
    assert frame.fn.__name__ == "test_codec_test_map_images_kernel_contract"
    batch, want = _image_batch()
    empty, full = frame.fn(iter([batch.slice(0, 0), batch]))
    assert empty.schema == to_arrow_schema(schema) and empty.num_rows == 0
    assert full.schema == to_arrow_schema(schema)
    assert full.column("n_pix").to_pylist() == [p.size for p in want]
    assert full.column("lon").to_pylist() == batch.column("lon").to_pylist()


def test_empty_batch_keeps_array_type():
    """An empty output batch types an ``array<bigint>`` field as
    ``list<int64>``: a kernel may yield it (a pandas frame typed such
    an empty column float64, which Arrow cannot convert)."""
    import pyarrow as pa
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)

    schema = StructType([StructField("image_id", StringType()),
                         StructField("hist", ArrayType(LongType()))])
    out = codec.to_batch({"image_id": [], "hist": []}, schema)
    assert out.num_rows == 0
    assert out.schema.field("hist").type == pa.list_(pa.int64())

    frame = codec.map_images(_CaptureFrame(), lambda out, *row: None,
                             schema)
    batch, _ = _image_batch()
    (got,) = frame.fn(iter([batch]))
    assert got.num_rows == 0
    assert got.schema.field("hist").type == pa.list_(pa.int64())


def test_empty_array_batches_through_spark(spark, sf_dir):
    """A Python stage whose batches are all empty still runs when the
    schema holds an ``array<bigint>`` field."""
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)

    from rsgislib_spark import synth

    schema = StructType([StructField("image_id", StringType()),
                         StructField("hist", ArrayType(LongType()))])

    def per_image(out, image_id, plane):
        if plane.size < 0:            # never: every batch is empty
            out["image_id"].append(image_id)
            out["hist"].append(np.bincount(plane.ravel()))

    img = synth.synth_images(spark, sf_dir, with_bytes=True,
                             with_footprint=False).where("id % 97 = 0")
    assert codec.map_images(img, per_image, schema).collect() == []


def test_migrated_operator_plan_names_its_stage(spark, sf_dir):
    import re

    from rsgislib_spark import synth
    from rsgislib_spark.operators.imgcalcmisc import prop_true_stats

    img = synth.synth_images(spark, sf_dir, with_bytes=True,
                             with_footprint=False).where("id % 97 = 0")
    df = prop_true_stats(img)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow imgcalcmisc_prop_true_stats(" in plan
    assert not re.search(r"\bgen\(", plan)
