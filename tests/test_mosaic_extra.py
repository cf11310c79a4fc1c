"""NDVI/NDWI composite: both mask classes occur and the composite is
a genuine per-pixel mixture of the two index rules.  Every mosaic,
composite and mode operator is exact on 16-bit pixel values and on
image ids past 2^21."""

import collections
import math

import numpy as np

from rsgislib_spark.functions import codec
from rsgislib_spark.operators.imagemath import window_rank_stats
from rsgislib_spark.operators.mosaic import (composite_max_index_window,
                                             composite_ndvi_ndwi_window,
                                             mosaic_mode_window,
                                             mosaic_thresh_window,
                                             mosaic_window)
from rsgislib_spark.queries import _px_images
from rsgislib_spark.sources.multimodal import resize_mode_stats


def test_ndvi_ndwi_mask_and_mixture(spark, sf_dir):
    img = _px_images(spark, sf_dir, mod=5, with_footprint=True)
    out = composite_ndvi_ndwi_window(img, 10.0, 45.0, 60, 60, 0.001) \
        .toPandas()
    assert len(out) > 0
    assert set(out.lw_mask) <= {1, 2}
    assert (out.lw_mask == 2).any() and (out.lw_mask == 1).any()
    # land pixels agree with the pure max-NDVI composite
    ndvi = composite_max_index_window(img, 10.0, 45.0, 60, 60, 0.001) \
        .toPandas().set_index(["px", "py"])
    land = out[out.lw_mask == 1].set_index(["px", "py"])
    j = land.join(ndvi, rsuffix="_v")
    assert (j.best_id == j.best_id_v).all()
    assert (j.best_idx == j.best_idx_v).all()
    # ...and at least one water pixel picked a different source image
    water = out[out.lw_mask == 2].set_index(["px", "py"])
    jw = water.join(ndvi, rsuffix="_v")
    assert (jw.best_id != jw.best_id_v).any()


# --- 16-bit values and ids past 2^21 against a numpy brute force -------

#: ids from 2^21 up past 2^40, in no particular row order
_WIDE_IDS = ((1 << 40) + 5, (1 << 21) + 9, (1 << 41) + 3, (1 << 21),
             (1 << 40) + 17, (1 << 33) + 1)
#: few distinct 16-bit values, so ties and repeated modes occur
_WIDE_VALS = (2048, 2049, 4095, 40000, 65534, 65535)


def _wide_planes():
    """``{id: (xmin, ymin, plane)}``: raw16 planes on a 1-unit grid,
    overlapping in the 8 x 8 window at the origin."""
    rng = np.random.RandomState(13)
    out = {}
    for iid in _WIDE_IDS:
        h, w = rng.randint(4, 10, 2)
        xmin, ymin = rng.randint(-2, 5, 2)
        out[iid] = (int(xmin), int(ymin),
                    rng.choice(_WIDE_VALS, size=(h, w)).astype(np.int64))
    return out


def _wide_images(spark):
    rows = [(iid, f"img{iid}", codec.encode_image(p, "raw16"),
             p.shape[1], p.shape[0], "raw16", float(x0),
             float(x0 + p.shape[1]), float(y0), float(y0 + p.shape[0]))
            for iid, (x0, y0, p) in _wide_planes().items()]
    return spark.createDataFrame(
        rows, "id long, image_id string, bytes binary, w int, h int, "
              "fmt string, xmin double, xmax double, ymin double, "
              "ymax double").repartition(3)


def _stacks():
    """``{(px, py): [(id, plane, sy, sx), ...]}`` over the 8 x 8 window:
    each image covering the output pixel centre, with the nearest
    source pixel."""
    out = {}
    for iid, (x0, y0, p) in _wide_planes().items():
        h, w = p.shape
        for py in range(8):
            for px in range(8):
                cx, cy = px + 0.5, py + 0.5
                if x0 <= cx < x0 + w and y0 < cy <= y0 + h:
                    sx = min(math.floor(cx - x0), w - 1)
                    sy = min(math.floor(y0 + h - cy), h - 1)
                    out.setdefault((px, py), []).append((iid, p, sy, sx))
    return out


def _mode(vals):
    """Most frequent value, ties -> smallest."""
    cnt = collections.Counter(vals)
    return min(cnt, key=lambda v: (-cnt[v], v))


def _rows(df, key=("px", "py")):
    return {tuple(r[k] for k in key): r.asDict() for r in df.collect()}


def test_wide_mosaic_window(spark):
    got = _rows(mosaic_window(_wide_images(spark), 0.0, 0.0, 8, 8, 1.0))
    want = {}
    for k, st in _stacks().items():
        vs = [(iid, int(p[sy, sx])) for iid, p, sy, sx in st]
        want[k] = {"px": k[0], "py": k[1], "n_imgs": len(vs),
                   "v_last": max(vs)[1],
                   "v_min": min(v for _, v in vs),
                   "v_max": max(v for _, v in vs),
                   "idx_max": max((v, iid) for iid, v in vs)[1]}
    assert got == want


def test_wide_mosaic_thresh_window(spark):
    lower, upper = 2048, 65535
    got = _rows(mosaic_thresh_window(_wide_images(spark), 0.0, 0.0, 8, 8,
                                     1.0, lower, upper))
    want = {}
    for k, st in _stacks().items():
        vs = [(iid, int(p[sy, sx])) for iid, p, sy, sx in st
              if lower < p[sy, sx] < upper]
        if vs:
            want[k] = {"px": k[0], "py": k[1], "n_imgs": len(vs),
                       "v_last": max(vs)[1],
                       "v_min": min(v for _, v in vs),
                       "v_max": max(v for _, v in vs)}
    assert got == want


def _index(a, b):
    return math.floor((a - b) * 1000000.0 / (a + b + 1))


def test_wide_composite_max_index(spark):
    got = _rows(composite_max_index_window(_wide_images(spark), 0.0, 0.0,
                                           8, 8, 1.0))
    want = {}
    for k, st in _stacks().items():
        best = max((_index(int(p[sy, -1 - sx]), int(p[sy, sx])), iid,
                    int(p[sy, sx])) for iid, p, sy, sx in st)
        want[k] = {"px": k[0], "py": k[1], "n_imgs": len(st),
                   **dict(zip(("best_idx", "best_id", "best_v"), best))}
    assert got == want


def test_wide_composite_ndvi_ndwi(spark):
    got = _rows(composite_ndvi_ndwi_window(_wide_images(spark), 0.0, 0.0,
                                           8, 8, 1.0))
    want = {}
    for k, st in _stacks().items():
        ndvi, ndwi = [], []
        for iid, p, sy, sx in st:
            red, nir = int(p[sy, sx]), int(p[sy, -1 - sx])
            green = int(p[-1 - sy, sx])
            ndvi.append((_index(nir, red), iid, red))
            ndwi.append((_index(green, nir), iid, red))
        water = 2 * sum(i > 0 for i, _, _ in ndwi) > len(st)
        best = max(ndwi if water else ndvi)
        want[k] = {"px": k[0], "py": k[1], "n_imgs": len(st),
                   "lw_mask": 2 if water else 1,
                   **dict(zip(("best_idx", "best_id", "best_v"), best))}
    assert got == want


def test_wide_mosaic_mode(spark):
    got = _rows(mosaic_mode_window(_wide_images(spark), 0.0, 0.0, 8, 8,
                                   1.0))
    want = {k: {"px": k[0], "py": k[1], "n_imgs": len(st),
                "mode_v": _mode(int(p[sy, sx]) for _, p, sy, sx in st)}
            for k, st in _stacks().items()}
    assert got == want


def _plane_stats(vals):
    return (len(vals), sum(vals), min(vals), max(vals))


def test_wide_window_mode(spark):
    got = {r.image_id: (r.n_interior, r.sum_mode, r.min_mode, r.max_mode)
           for r in window_rank_stats(_wide_images(spark), 3, "mode")
           .collect()}
    want = {}
    for iid, (_, _, p) in _wide_planes().items():
        h, w = p.shape
        want[f"img{iid}"] = _plane_stats(
            [_mode(p[y:y + 3, x:x + 3].ravel().tolist())
             for y in range(h - 2) for x in range(w - 2)])
    assert got == want


def test_wide_resize_mode(spark):
    got = {r.image_id: (r.n_out, r.sum_sc, r.min_sc, r.max_sc)
           for r in resize_mode_stats(_wide_images(spark), 3, 2).collect()}
    want = {}
    for iid, (_, _, p) in _wide_planes().items():
        h, w = p.shape
        blocks = collections.defaultdict(list)
        for y in range(h):
            for x in range(w):
                blocks[(y * 2 // h, x * 3 // w)].append(int(p[y, x]))
        want[f"img{iid}"] = _plane_stats([_mode(b) for b in
                                          blocks.values()])
    assert got == want
