"""Image payload codecs: ``bytes`` column <-> numpy pixel arrays.

The engine treats pixels as opaque ``BinaryType`` payloads decoded to numpy
inside Arrow-vectorized UDFs (SURVEY.md §1.1a).  Formats carried in the
``fmt`` column:

* ``raw8``  — uint8 grayscale, row-major, no header (lossless);
* ``raw16`` — uint16 little-endian grayscale, row-major (lossless), the
  analog of the reference's uint16 Sentinel-2 fixtures
  (reference: python_tests/test_imageutils.py:112 — 931x947 uint16);
* ``png``   — real PNG (grayscale, 8 or 16 bit) implemented on zlib —
  lossless, exercises a genuine compressed codec path;
* ``jpeg``  — lossy; no JPEG library exists in this container, so decode is
  STUBBED: payloads produced by :func:`encode_jpeg_stub` carry a raw16
  body plus deterministic quantization noise bounded so PSNR >= 40 dB
  (matching the task's lossy tolerance); a real libjpeg can be dropped in
  behind the same interface.

The per-image functions operate on single images (ndarray (h, w) or
(bands, h, w)).  :func:`planes` and :func:`map_images` are the one place
a batch of ``(image_id, bytes, w, h, fmt)`` rows is decoded: every
operator kernel reads its pixels through them.  Every Python stage is an
Arrow stage (``mapInArrow`` / ``applyInArrow``), and :func:`to_batch` is
the one place its Python output becomes an Arrow batch.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

__all__ = [
    "IMAGE_COLS",
    "planes",
    "to_batch",
    "to_table",
    "map_images",
    "decode_image",
    "encode_image",
    "encode_png",
    "decode_png",
    "encode_jpeg_stub",
    "decode_jpeg_stub",
]

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """Grayscale PNG (bit depth 8 for uint8 input, 16 for uint16)."""
    if arr.ndim != 2:
        raise ValueError("encode_png expects a 2-D grayscale array")
    if arr.dtype == np.uint8:
        depth, payload = 8, arr
    elif arr.dtype == np.uint16:
        depth, payload = 16, arr.astype(">u2")
    else:
        raise ValueError(f"unsupported dtype for png: {arr.dtype}")
    h, w = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
    # every scanline = filter byte 0 + the row's big-endian bytes
    rows = payload.view(np.uint8).reshape(h, w * (depth // 8))
    scan = np.concatenate([np.zeros((h, 1), np.uint8), rows], axis=1)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scan.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )


def _unfilter(data: bytes, h: int, stride: int, bpp: int) -> bytearray:
    """Reverse PNG scanline filters 0-4 (encoder emits 0, decoder takes all)."""
    out = bytearray(h * stride)
    pos = 0
    prev_row = bytearray(stride)
    for y in range(h):
        ftype = data[pos]
        pos += 1
        row = bytearray(data[pos:pos + stride])
        pos += stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev_row[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev_row[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prev_row[i]
                c = prev_row[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y * stride:(y + 1) * stride] = row
        prev_row = row
    return out


def decode_png(buf: bytes) -> np.ndarray:
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = depth = None
    idat = b""
    while pos < len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4:pos + 8]
        body = buf[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", body)
            if ctype != 0 or interlace != 0:
                raise ValueError("only non-interlaced grayscale PNG supported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if depth is None:
        raise ValueError("PNG has no IHDR chunk")
    bpp = depth // 8
    stride = w * bpp
    data = zlib.decompress(idat)
    if len(data) != h * (stride + 1):
        raise ValueError("PNG image data size mismatch vs IHDR")
    rows = np.frombuffer(data, dtype=np.uint8).reshape(h, stride + 1)
    if rows[:, 0].any():
        raw = np.frombuffer(bytes(_unfilter(data, h, stride, bpp)),
                            dtype=np.uint8)
    else:  # every row filter 0 (all this codec writes): bytes as stored
        raw = np.ascontiguousarray(rows[:, 1:])
    if depth == 16:
        return raw.view(">u2").reshape(h, w).astype(np.uint16)
    return raw.reshape(h, w)


def encode_jpeg_stub(arr: np.ndarray) -> bytes:
    """Deterministic stand-in for lossy JPEG (no JPEG lib in container).

    Quantizes uint16 values to steps of 4 (max abs error 2 on a 0..1023
    signal -> PSNR ~ 48 dB > 40 dB threshold) and stores raw16 under a
    marker header.  Swap in a real encoder behind this signature later.
    """
    if arr.dtype != np.uint16:
        raise ValueError("jpeg stub expects uint16")
    q = ((arr.astype(np.int32) + 2) // 4 * 4).clip(0, 65535).astype(np.uint16)
    h, w = arr.shape
    return b"JPGS" + struct.pack("<II", w, h) + q.astype("<u2").tobytes()


def decode_jpeg_stub(buf: bytes) -> np.ndarray:
    if buf[:4] != b"JPGS":
        raise NotImplementedError(
            "real JPEG decode requires libjpeg, not present in this container"
        )
    w, h = struct.unpack_from("<II", buf, 4)
    return np.frombuffer(buf, dtype="<u2", offset=12).reshape(h, w).astype(np.uint16)


def decode_image(buf: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """bytes -> (h, w) ndarray (uint8 for raw8, else uint16)."""
    if fmt == "raw16":
        return np.frombuffer(buf, dtype="<u2").reshape(h, w)
    if fmt == "raw8":
        return np.frombuffer(buf, dtype=np.uint8).reshape(h, w)
    if fmt in ("png", "jpeg"):
        arr = decode_png(buf) if fmt == "png" else decode_jpeg_stub(buf)
        if arr.shape != (h, w):
            raise ValueError(f"{fmt} size mismatch vs metadata")
        return arr
    raise ValueError(f"unknown fmt {fmt!r}")


IMAGE_COLS = ("image_id", "bytes", "w", "h", "fmt")


def planes(batch, *extra_cols, dtype=None):
    """Yield ``(image_id, plane, *extras)`` for each row of ``batch``.

    ``batch`` is an Arrow ``RecordBatch`` carrying ``IMAGE_COLS`` plus
    ``extra_cols``, read with ``to_pylist``.  The plane is
    :func:`decode_image`'s array, cast with ``astype(dtype)`` (a
    writable copy) when ``dtype`` is given.
    """
    cols = IMAGE_COLS + extra_cols
    rows = zip(*(batch.column(c).to_pylist() for c in cols))
    for image_id, buf, w, h, fmt, *extras in rows:
        plane = decode_image(buf, int(w), int(h), fmt)
        if dtype is not None:
            plane = plane.astype(dtype)
        yield (image_id, plane, *extras)


def to_batch(out, schema) -> pa.RecordBatch:
    """``out``, a dict of lists (or arrays) keyed by ``schema``'s field
    names, as one Arrow batch typed by the Spark ``schema``.

    The one place a Python stage's output format is decided: every
    ``mapInArrow`` kernel and ``applyInArrow`` finaliser that builds
    columns from Python values returns through here.  An empty column
    keeps its Spark type (an ``array<bigint>`` field is an empty
    ``list<int64>``), so a kernel may yield an empty batch."""
    return pa.RecordBatch.from_pydict(out, schema=to_arrow_schema(schema))


def to_table(out, schema) -> pa.Table:
    """:func:`to_batch` as the ``pyarrow.Table`` a grouped
    ``applyInArrow`` finaliser returns."""
    return pa.Table.from_batches([to_batch(out, schema)])


def map_images(images, per_image, schema, extra_cols=(), dtype=None):
    """Run ``per_image`` over every image of ``images`` in one
    ``mapInArrow`` stage.

    ``per_image(out, image_id, plane, *extras)`` appends any number of
    rows to ``out``, a dict of lists keyed by ``schema``'s field names;
    each input batch yields ``to_batch(out, schema)``.  The stage is
    named ``<module>_<operator>`` after the function that defined
    ``per_image``, e.g. ``MapInArrow imgcalcmisc_prop_true_stats(...)``.
    """
    extra_cols = tuple(extra_cols)
    names = schema.names

    def kernel(batches):
        for batch in batches:
            out = {n: [] for n in names}
            for row in planes(batch, *extra_cols, dtype=dtype):
                per_image(out, *row)
            yield to_batch(out, schema)

    module = per_image.__module__.rpartition(".")[2]
    operator = per_image.__qualname__.split(".<locals>")[0].strip("_")
    kernel.__name__ = kernel.__qualname__ = f"{module}_{operator}"
    cols = IMAGE_COLS + tuple(c for c in extra_cols if c not in IMAGE_COLS)
    return images.select(*cols).mapInArrow(kernel, schema=schema)


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw16":
        return arr.astype("<u2").tobytes()
    if fmt == "raw8":
        return arr.astype(np.uint8).tobytes()
    if fmt == "png":
        return encode_png(arr)
    if fmt == "jpeg":
        return encode_jpeg_stub(arr)
    raise ValueError(f"unknown fmt {fmt!r}")
