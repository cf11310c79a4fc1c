"""Non-triviality for the imagecalc-misc operators (NOTES lesson 15):
every branch the queries claim to exercise actually occurs on the
mod-19 corpus.  Pure numpy."""
import numpy as np

from rsgislib_spark import synth
from rsgislib_spark.operators.imgcalcmisc import ENV_DEFAULT

from synthref import fmt_of_id

L0, L1, B0, B1 = ENV_DEFAULT
RES = synth.IMG_RES_DEG


def _imgs(n=106, mod=19):
    for k in range(n):
        img_id = k * mod
        w = 32 + (img_id * 7) % 97
        h = 32 + (img_id * 13) % 97
        fmt = fmt_of_id(np.array([img_id]))[0]
        v = synth.pixel_array(img_id, w, h, fmt).astype(np.int64)
        yield img_id, v, v[:, ::-1]


def _lonlat(img_id):
    if img_id % 5 == 0:
        lon = 10.0 + ((img_id * 7) % 1000) / 20000.0
        lat = 45.0 + ((img_id * 11) % 1000) / 20000.0
    else:
        lon = -180.0 + ((img_id * 9973) % 360000) / 1000.0
        lat = -60.0 + ((img_id * 7919) % 120000) / 1000.0
    return (lon + img_id / 100000000.0, lat + img_id / 160000000.0)


def test_all_bands_equal_hits_symmetry_axis():
    total = 0
    for _, v, m in _imgs():
        total += int(((v == 100) & (m == 100)).sum())
    assert total > 0, "img_value 100 never symmetric on the corpus"


def test_mean_in_mask_and_prop_true_nonvacuous():
    n_masked = n_empty = 0
    for _, v, m in _imgs(n=30):
        sel = ((m // 64) == 3) & (v != 0)
        n_masked += int(sel.sum())
        if sel.sum() == 0:
            n_empty += 1
        t = int((v > m).sum())
        assert 0 < t < v.size  # both predicate outcomes occur
    assert n_masked > 0


def test_stats_in_env_branches():
    full = empty = partial = 0
    for img_id, v, _ in _imgs():
        lon, lat = _lonlat(img_id)
        h, w = v.shape
        cx = lon + (np.arange(w) + 0.5) * RES
        cy = lat - (np.arange(h) + 0.5) * RES
        inx = (cx >= L0) & (cx <= L1)
        iny = (cy >= B0) & (cy <= B1)
        n = int(inx.sum()) * int(iny.sum())
        if n == 0:
            empty += 1
        elif n == v.size:
            full += 1
        else:
            partial += 1
    assert full > 0 and empty > 0 and partial > 0, (full, empty, partial)


def test_mode_tie_rule_first_max():
    # bincount argmax returns the SMALLEST value among tied counts —
    # the reference's strict-> scan (RSGISMathsUtils.cpp:711-723)
    a = np.array([5, 5, 2, 2, 9], dtype=np.int64)
    assert int(np.bincount(a).argmax()) == 2


def test_ts_fill_all_branches_live():
    from rsgislib_spark.operators.imgcalcmisc import CLR_TABLE
    assert len(CLR_TABLE) == 4
    refs = [0, 0, 0, 0]
    for img_id, v, _ in _imgs(n=40):
        dates = (v, np.roll(v, 3, axis=1), np.roll(v, 5, axis=0))
        ref = np.zeros_like(v)
        for i, p in enumerate(dates, start=1):
            take = (ref == 0) & (p % 5 != 0)
            ref = np.where(take, i, ref)
        for i in range(4):
            refs[i] += int((ref == i).sum())
    # every fill source AND the unfilled branch occur on the corpus
    assert all(r > 0 for r in refs), refs


def test_subtract_offsets_lift_branch_fires():
    total = 0
    for _, v, m in _imgs(n=20):
        for off, dn in ((17, v), (42, m)):
            total += int(((dn != 0) & (dn - off <= 0)).sum())
    assert total > 0
