"""Zonal stats operator vs brute-force numpy oracle (reference semantics)."""

import collections
import math

import numpy as np
import pytest

from rsgislib_spark import synth
from rsgislib_spark.operators.zonal import zonal_stats


@pytest.fixture(scope="module")
def result(spark, sf_dir):
    images = synth.synth_images(spark, sf_dir, with_bytes=True)
    zones = synth.synth_zones(spark, sf_dir)
    out = zonal_stats(images, zones).toPandas().set_index("zone_id")
    return out, images.drop("bytes").toPandas(), zones.toPandas()


def brute_zone_values(ipdf, z):
    vals = []
    for _, im in ipdf.iterrows():
        arr = synth.pixel_array(int(im["id"]), int(im.w), int(im.h), im.fmt)
        cx = im.xmin + (np.arange(im.w) + 0.5) * synth.IMG_RES_DEG
        cy = im.ymax - (np.arange(im.h) + 0.5) * synth.IMG_RES_DEG
        mx = (cx >= z.zxmin) & (cx < z.zxmax)
        my = (cy >= z.zymin) & (cy < z.zymax)
        if mx.any() and my.any():
            vals.append(arr[np.ix_(my, mx)].ravel())
    return np.concatenate(vals) if vals else np.array([])


def test_zonal_stats_match_numpy(result):
    out, ipdf, zpdf = result
    checked_nonempty = 0
    for _, z in zpdf.iterrows():
        vals = brute_zone_values(ipdf, z).astype(np.int64)
        row = out.loc[int(z.zone_id)]
        if vals.size == 0:
            for c in ("n_pix", "sum_pix", "min_pix", "max_pix", "mean_pix",
                      "stddev_pix", "median_pix", "mode_pix"):
                assert row[c] == -9999.0, (z.zone_id, c)
            continue
        checked_nonempty += 1
        assert row.n_pix == vals.size
        assert row.sum_pix == vals.sum()
        assert row.min_pix == vals.min()
        assert row.max_pix == vals.max()
        assert abs(row.mean_pix - vals.mean()) < 1e-9
        assert abs(row.stddev_pix - vals.std()) < 1e-6
        assert row.median_pix == float(np.median(vals))
        # scipy.stats.mstats.mode convention: smallest modal value
        counts = np.bincount(vals)
        assert row.mode_pix == float(np.flatnonzero(counts == counts.max())[0])
    assert checked_nonempty >= 3  # the synthetic world must exercise hits


def test_zonal_thresholds_and_nodata(spark, sf_dir):
    images = synth.synth_images(spark, sf_dir, with_bytes=True).limit(60)
    zones = synth.synth_zones(spark, sf_dir)
    out = zonal_stats(images, zones, min_thres=100, max_thres=200,
                      nodata=150).toPandas().set_index("zone_id")
    ipdf = images.drop("bytes").toPandas()
    zpdf = zones.toPandas()
    for _, z in zpdf.iterrows():
        vals = brute_zone_values(ipdf, z).astype(np.int64)
        vals = vals[vals != 150]
        vals = vals[(vals >= 100) & (vals <= 200)]
        row = out.loc[int(z.zone_id)]
        if vals.size == 0:
            assert row.n_pix == -9999.0
        else:
            assert row.n_pix == vals.size and row.sum_pix == vals.sum()


def test_zonal_hybrid_valid_centroid_branch(spark):
    """A zone too small to catch any pixel CENTER but whose centroid lies
    on an image must take the valid-centroid fallback: every stat = the
    centroid pixel value, stddev 0.0, count 1.0 (reference
    calc_zonal_band_stats_test_poly_pts else-branch)."""
    import numpy as np

    from rsgislib_spark import synth
    from rsgislib_spark.functions import codec
    from rsgislib_spark.operators.zonal import zonal_stats_hybrid

    # one synthetic image at (0,0)..(0.016, 0.016), res 0.001 -> 16x16
    arr = synth.pixel_array(5, 16, 16, "raw16")
    img = spark.createDataFrame(
        [(5, "img_5", codec.encode_image(arr, "raw16"), 16, 16, "raw16",
          0.0, 0.016, 0.0, 0.016)],
        "id long, image_id string, bytes binary, w int, h int, fmt string,"
        " xmin double, xmax double, ymin double, ymax double")
    # zone A: sliver between pixel centers (no center inside, centroid on
    # the image); zone B: covers pixels; zone C: off-image entirely
    zones = spark.createDataFrame(
        [(1, 0.0031, 0.0039, 0.0031, 0.0039),
         (2, 0.0, 0.016, 0.0, 0.016),
         (3, 50.0, 50.001, 50.0, 50.001)],
        "zone_id long, zxmin double, zxmax double, zymin double,"
        " zymax double")
    out = {r.zone_id: r for r in
           zonal_stats_hybrid(img, zones, percentile=75.0).collect()}
    # zone A: centroid (0.0035, 0.0035) -> pixel (3, 12) [y measured from
    # the top edge ymax=0.016]
    v = float(arr[12, 3])
    a = out[1]
    assert (a.n_pix, a.stddev_pix) == (1.0, 0.0)
    assert a.min_pix == a.max_pix == a.mean_pix == a.median_pix \
        == a.perc_pix == v
    # zone B: full stats over all 256 pixels
    b = out[2]
    vals = np.sort(arr.astype(np.float64).ravel())
    assert b.n_pix == 256.0
    assert b.perc_pix == float(np.percentile(vals, 75.0))
    assert b.median_pix == float(np.median(vals))
    # zone C: invalid centroid -> no-data stats, count 0.0
    c = out[3]
    assert (c.n_pix, c.min_pix, c.perc_pix) == (0.0, -9999.0, -9999.0)


# --- 16-bit values up to 65,535 against a numpy brute force -------------

#: few distinct 16-bit values, so ties and repeated modes occur
_WIDE_VALS = (0, 1023, 1024, 2048, 40000, 65534, 65535)
_STATS = ("n_pix", "sum_pix", "min_pix", "max_pix", "mean_pix",
          "stddev_pix", "median_pix", "mode_pix")


def _wide_plane():
    """A raw16 (h, w) plane on a 1-unit grid with its corner at (0, 0)."""
    rng = np.random.RandomState(29)
    return rng.choice(_WIDE_VALS, size=(9, 12)).astype(np.int64)


def _wide_images(spark):
    from rsgislib_spark.functions import codec

    p = _wide_plane()
    h, w = p.shape
    return spark.createDataFrame(
        [(7, "wide", codec.encode_image(p, "raw16"), w, h, "raw16", 0.0,
          float(w), 0.0, float(h))],
        "id long, image_id string, bytes binary, w int, h int, fmt string,"
        " xmin double, xmax double, ymin double, ymax double")


#: the whole image, two overlapping rects, a sliver holding no pixel
#: centre (its centroid falls in pixel (x 3, y 4)), and an off-image zone
_WIDE_ZONES = ((1, 0.0, 12.0, 0.0, 9.0), (2, 2.0, 7.0, 1.0, 5.0),
               (3, 6.5, 11.2, 3.3, 8.9), (4, 3.2, 3.4, 4.2, 4.4),
               (5, 50.0, 51.0, 50.0, 51.0))


def _wide_zone_vals(zxmin, zxmax, zymin, zymax):
    p = _wide_plane()
    h, w = p.shape
    cx = np.arange(w) + 0.5
    cy = h - (np.arange(h) + 0.5)
    return p[np.ix_((cy >= zymin) & (cy < zymax),
                    (cx >= zxmin) & (cx < zxmax))].ravel()


def _brute_stats(vals):
    cnt = collections.Counter(vals.tolist())
    return {"n_pix": float(vals.size), "sum_pix": float(vals.sum()),
            "min_pix": float(vals.min()), "max_pix": float(vals.max()),
            "mean_pix": pytest.approx(vals.mean(), rel=1e-12),
            "stddev_pix": pytest.approx(vals.std(), rel=1e-9),
            "median_pix": float(np.median(vals)),
            "mode_pix": float(min(cnt, key=lambda v: (-cnt[v], v)))}


def _wide_zones(spark):
    return spark.createDataFrame(
        list(_WIDE_ZONES), "zone_id long, zxmin double, zxmax double,"
                           " zymin double, zymax double")


def test_wide_zonal_stats(spark):
    out = {r.zone_id: r.asDict() for r in
           zonal_stats(_wide_images(spark), _wide_zones(spark),
                       res_deg=1.0).collect()}
    for zone_id, *box in _WIDE_ZONES:
        vals = _wide_zone_vals(*box)
        got = {c: out[zone_id][c] for c in _STATS}
        if vals.size:
            assert got == _brute_stats(vals), zone_id
        else:
            assert got == {c: -9999.0 for c in _STATS}, zone_id
    assert max(_wide_zone_vals(*_WIDE_ZONES[0][1:])) == 65535


def test_wide_zonal_stats_hybrid(spark):
    from rsgislib_spark.operators.zonal import zonal_stats_hybrid

    out = {r.zone_id: r.asDict() for r in
           zonal_stats_hybrid(_wide_images(spark), _wide_zones(spark),
                              percentile=75.0, res_deg=1.0).collect()}
    for zone_id, *box in _WIDE_ZONES:
        vals = _wide_zone_vals(*box)
        got = {c: out[zone_id][c] for c in _STATS + ("perc_pix",)}
        if vals.size:
            want = {**_brute_stats(vals), "perc_pix": pytest.approx(
                np.percentile(vals, 75.0), rel=1e-12)}
        elif zone_id == 4:      # centroid fallback: pixel (x 3, y 4)
            v = float(_wide_plane()[4, 3])
            want = {**{c: v for c in _STATS}, "n_pix": 1.0,
                    "stddev_pix": 0.0, "perc_pix": v}
        else:
            want = {**{c: -9999.0 for c in _STATS}, "n_pix": 0.0,
                    "perc_pix": -9999.0}
        assert got == want, zone_id


def test_wide_value_counts(spark):
    from rsgislib_spark.operators.imagemath import value_counts

    vals, cnt = np.unique(_wide_plane(), return_counts=True)
    got = {r.val: r.n for r in value_counts(_wide_images(spark)).collect()}
    assert got == dict(zip(vals.tolist(), cnt.tolist()))


def test_wide_percentiles_from_hist(spark):
    from rsgislib_spark.operators.imagemath import percentiles_from_hist

    ps = (0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    srt = np.sort(_wide_plane().ravel())
    got = {r.p: r.value for r in
           percentiles_from_hist(_wide_images(spark), ps=ps).collect()}
    # nearest rank: the ceil(p * n)-th smallest value
    assert got == {p: int(srt[math.ceil(p * srt.size) - 1]) for p in ps}
