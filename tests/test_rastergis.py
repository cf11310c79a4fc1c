"""RAT enrichment invariants (find_neighbours / mode / percentiles /
collapse_rat) — structural checks independent of the DuckDB parity gate."""

import numpy as np
import pandas as pd
import pytest

from rsgislib_spark import synth
from rsgislib_spark.functions.groupmode import group_mode
from rsgislib_spark.operators.rastergis import (_clump_neighbours,
                                                _clump_percentiles,
                                                collapse_rat, rat_table)
from rsgislib_spark.operators.rasterize import label_components


def _clump_images(spark, sf_dir):
    meta = synth.synth_images(spark, sf_dir,
                              with_footprint=False).where("id % 19 = 0")
    return synth.attach_bytes(meta.repartition(4))


def _sample_rat(spark, sf_dir):
    return rat_table(_clump_images(spark, sf_dir), quant=128).toPandas()


def test_neighbour_symmetry_numpy():
    rng = np.random.RandomState(3)
    lab = label_components(rng.rand(40, 37) > 0.45)
    n = int(lab.max())
    nn, mn, mx = _clump_neighbours(lab, n)
    # rebuild the full neighbour sets brute-force and check symmetry
    sets = {c: set() for c in range(1, n + 1)}
    h, w = lab.shape
    for y in range(h):
        for x in range(w):
            c = lab[y, x]
            if c == 0:
                continue
            for dy, dx in ((0, 1), (1, 0)):
                yy, xx = y + dy, x + dx
                if yy < h and xx < w and lab[yy, xx] not in (0, c):
                    sets[c].add(int(lab[yy, xx]))
                    sets[int(lab[yy, xx])].add(int(c))
    for c in range(1, n + 1):
        assert nn[c] == len(sets[c])
        for b in sets[c]:
            assert c in sets[b]          # find_neighbours symmetry
        assert mn[c] == (min(sets[c]) if sets[c] else 0)
        assert mx[c] == (max(sets[c]) if sets[c] else 0)


def test_mode_and_percentile_bounds():
    rng = np.random.RandomState(11)
    ls = rng.randint(1, 9, 4000).astype(np.int64)
    n = int(ls.max())
    draws = rng.randint(0, 50, 4000).astype(np.int64)
    # 8-bit-range values, then 16-bit ones (2048..65748)
    for vs in (draws, 2048 + 1300 * draws):
        mode = group_mode(ls, vs, n)
        p25, p50, p75 = _clump_percentiles(ls, vs, n)
        for c in range(1, n + 1):
            cv = vs[ls == c]
            uniq, cnt = np.unique(cv, return_counts=True)
            assert mode[c] == uniq[cnt == cnt.max()].min()
            assert (cv.min() <= p25[c - 1] <= p50[c - 1] <= p75[c - 1]
                    <= cv.max())
            assert p50[c - 1] == np.sort(cv)[(len(cv) * 50 + 99) // 100 - 1]


def test_rat_table_spark(spark, sf_dir):
    rat = _sample_rat(spark, sf_dir)
    assert len(rat) > 0
    # clump ids dense per image
    for _, g in rat.groupby("image_id"):
        assert sorted(g["clump_id"]) == list(range(1, len(g) + 1))
    # neighbour ids always reference existing clumps of the same image
    nz = rat[rat["n_neigh"] > 0]
    mx = rat.groupby("image_id")["clump_id"].max()
    for _, r in nz.iterrows():
        assert 1 <= r["min_neigh"] <= r["max_neigh"] <= mx[r["image_id"]]
        assert r["min_neigh"] != r["clump_id"]
        assert r["max_neigh"] != r["clump_id"]
    # percentile ordering
    assert (rat["p25"] <= rat["p50"]).all()
    assert (rat["p50"] <= rat["p75"]).all()
    # segment values live inside their quantization band
    assert (rat["p75"] // 128 == rat["p25"] // 128).all()
    assert (rat["mode_val"] // 128 == rat["p50"] // 128).all()
    # segmentation labels every pixel: neighbours are non-vacuous
    assert rat["n_neigh"].sum() > 0


def test_collapse_rat_dense(spark, sf_dir):
    img = _clump_images(spark, sf_dir)
    out = collapse_rat(rat_table(img, quant=128), min_pix=8).toPandas()
    assert (out["n_pix"] >= 8).all()
    for _, g in out.groupby("image_id"):
        g = g.sort_values("clump_id")
        assert list(g["new_id"]) == list(range(1, len(g) + 1))
        # original relative order preserved
        assert g["clump_id"].is_monotonic_increasing


def test_merge_small_clumps(spark, sf_dir):
    from rsgislib_spark.operators.rastergis import merge_small_clumps

    img = _clump_images(spark, sf_dir)
    out = merge_small_clumps(img, quant=128, min_pix=8).toPandas()
    rat = _sample_rat(spark, sf_dir).set_index(["image_id", "clump_id"])
    assert len(out) > 0
    moved = out[out["new_label"] != out["clump_id"]]
    kept = out[out["new_label"] == out["clump_id"]]
    assert len(moved) > 0
    # only small clumps move, and only into genuinely larger-or-equal
    # 4-neighbourhood targets that exist
    sizes = out.set_index(["image_id", "clump_id"])["n_pix"]
    for _, r in moved.iterrows():
        assert r["n_pix"] < 8
        key = (r["image_id"], r["clump_id"])
        tgt = (r["image_id"], r["new_label"])
        assert tgt in sizes.index
        # the target is among the clump's neighbours
        nb = rat.loc[key]
        assert nb["min_neigh"] <= r["new_label"] <= nb["max_neigh"]
    # large clumps never move; small isolated clumps keep their label
    for _, r in kept.iterrows():
        key = (r["image_id"], r["clump_id"])
        assert r["n_pix"] >= 8 or rat.loc[key]["n_neigh"] == 0


def test_clump_geo_stats(spark, sf_dir):
    from rsgislib_spark.operators.rastergis import clump_geo_stats

    img = _clump_images(spark, sf_dir)
    out = clump_geo_stats(img, quant=128, res=0.001).toPandas()
    assert len(out) > 0
    # mean pixel-centre lies strictly inside the corner-based bbox
    assert (out["min_e"] < out["mean_e"]).all()
    assert (out["mean_e"] < out["max_e"]).all()
    assert (out["min_n"] < out["mean_n"]).all()
    assert (out["mean_n"] < out["max_n"]).all()
    # bbox area (pixels) bounds the clump pixel count
    res = 0.001
    wpx = ((out["max_e"] - out["min_e"]) / res).round().astype(int)
    hpx = ((out["max_n"] - out["min_n"]) / res).round().astype(int)
    assert (out["n_pix"] <= wpx * hpx).all()
    # a 4-connected clump spanning wpx cols and hpx rows has >= max px
    assert (out["n_pix"] >= np.maximum(wpx, hpx)).all()
    # non-degenerate: at least one multi-pixel clump with a >1x1 bbox
    assert ((wpx > 1) & (hpx > 1)).any()


def test_clump_border_stats(spark, sf_dir):
    from rsgislib_spark.operators.rastergis import clump_border_stats

    img = _clump_images(spark, sf_dir)
    out = clump_border_stats(img, quant=128, rel_cls=0).toPandas()
    assert len(out) > 0
    # segmentation lattice: every clump in a multi-clump image borders
    # something (non-vacuous, NOTES lesson 15)
    multi = out.groupby("image_id")["clump_id"].transform("max") > 1
    assert (out.loc[multi, "border_len"] > 0).all()
    assert out["border_len"].sum() > 0
    assert (out["border_cls0"] <= out["border_len"]).all()
    ok = out["border_len"] > 0
    assert np.allclose(out.loc[ok, "rel_border"],
                       out.loc[ok, "border_cls0"] / out.loc[ok, "border_len"])
    assert (out.loc[~ok, "rel_border"] == 0.0).all()
    # per image, total border length is symmetric-even? no — each side
    # counts its shared edges once, so the per-image SUM counts every
    # boundary edge exactly twice => even
    per_img = out.groupby("image_id")["border_len"].sum()
    assert (per_img % 2 == 0).all()
    # some clump of class 0 exists => somewhere border_cls0 > 0
    assert out["border_cls0"].sum() > 0


def test_clump_cat_stats(spark, sf_dir):
    from rsgislib_spark.operators.rastergis import (clump_cat_majority,
                                                    clump_cat_stats)

    img = _clump_images(spark, sf_dir)
    out = clump_cat_stats(img, quant=128, cat_mod=4).toPandas()
    assert len(out) > 0
    # proportions per clump sum to exactly 1 and counts to n_pix
    g = out.groupby(["image_id", "clump_id"])
    assert (g["cat_pix"].sum() == g["n_pix"].first()).all()
    assert np.allclose(g["prop"].sum(), 1.0)
    # non-vacuous (lesson 15): some clump holds more than one category
    assert (g["category"].count() > 1).any()
    assert (out["prop"] > 0).all()
    # majority agrees with a pandas argmax under the first-max rule
    maj = clump_cat_majority(img, quant=128, cat_mod=4).toPandas()
    want = (out.sort_values(["image_id", "clump_id", "cat_pix", "category"],
                            ascending=[True, True, False, True])
            .groupby(["image_id", "clump_id"]).first().reset_index())
    m = maj.sort_values(["image_id", "clump_id"]).reset_index(drop=True)
    w = want.sort_values(["image_id", "clump_id"]).reset_index(drop=True)
    assert (m["maj_cat"].values == w["category"].values).all()
    assert np.allclose(m["maj_prop"], w["cat_pix"] / w["n_pix"])


def test_rel_diff_neigh_stats(spark, sf_dir):
    from rsgislib_spark.operators.rastergis import rel_diff_neigh_stats

    img = _clump_images(spark, sf_dir)
    out = rel_diff_neigh_stats(img, quant=128, use_abs=False).toPandas()
    assert len(out) > 0
    # non-vacuous: neighbours exist in every multi-clump image
    multi = out.groupby("image_id")["clump_id"].transform("max") > 1
    assert (out.loc[multi, "n_neigh"] > 0).all()
    ok = out["n_neigh"] > 0
    assert (out.loc[ok, "min_diff"] <= out.loc[ok, "mean_diff"]).all()
    assert (out.loc[ok, "mean_diff"] <= out.loc[ok, "max_diff"]).all()
    assert np.allclose(out.loc[ok, "mean_diff"],
                       out.loc[ok, "sum_diff"] / out.loc[ok, "n_neigh"])
    # antisymmetry: the sum over all (i,j) directed diffs is zero/image
    assert (out.groupby("image_id")["sum_diff"].sum() == 0).all()
    # abs variant dominates and is non-negative
    ab = rel_diff_neigh_stats(img, quant=128, use_abs=True).toPandas()
    assert (ab["min_diff"] >= 0).all()
    assert (ab.sort_values(["image_id", "clump_id"])["max_diff"].values
            >= np.abs(out.sort_values(["image_id", "clump_id"])
                      ["max_diff"].values)).all()


def test_clump_meanlit_stats(spark, sf_dir):
    from rsgislib_spark.operators.rastergis import clump_meanlit_stats

    img = _clump_images(spark, sf_dir)
    out = clump_meanlit_stats(img, quant=128).toPandas()
    assert len(out) > 0
    # the lit subset is never empty and is a PROPER subset somewhere
    # (non-vacuous: b2 varies inside clumps, lesson 15)
    assert (out["lit_pix"] >= 1).all()
    assert (out["lit_pix"] <= out["n_pix"]).all()
    assert (out["lit_pix"] < out["n_pix"]).any()
    assert (out["lit_min"] <= out["lit_max"]).all()
    assert np.allclose(out["lit_mean"], out["lit_sum"] / out["lit_pix"])
    assert ((out["lit_min"] <= out["lit_mean"])
            & (out["lit_mean"] <= out["lit_max"])).all()


def test_dist_to_large_clumps(spark, sf_dir):
    from rsgislib_spark.operators.rastergis import dist_to_large_clumps

    img = _clump_images(spark, sf_dir)
    out = dist_to_large_clumps(img, quant=128, size_thres=500).toPandas()
    assert len(out) > 0
    # only small clumps appear, every distance is positive (sets are
    # disjoint) and attainable inside the image diagonal
    assert (out["n_pix"] < 500).all()
    assert (out["min_sq_px"] >= 1).all()
    assert (out["min_sq_px"] < 2 * 128 * 128).all()
    assert np.allclose(out["dist_deg"],
                       np.sqrt(out["min_sq_px"].astype(float)) * 0.001)
    # adjacency exists in the stripe lattice: some small clump touches a
    # large one (distance exactly 1)
    assert (out["min_sq_px"] == 1).any()


def test_clump_tile_positions(spark, sf_dir):
    from rsgislib_spark.operators.rastergis import clump_tile_positions

    img = _clump_images(spark, sf_dir)
    out = clump_tile_positions(img, quant=128, mix=True).toPandas()
    assert len(out) > 0
    # every clump classified, ALL THREE classes occur, and both border
    # and interior clumps exist (non-vacuous, lesson 15)
    assert (out["tile_pos"] != 0).all()
    assert {1, 2, 3} == set(out["tile_pos"].unique())
    assert (out["on_border"] == 1).any()
    assert (out["on_border"] == 0).any()
    # the overlap band includes the image edge ring (d=0 < overlap), so
    # an on-border clump can never be classified pure body
    assert not ((out["on_border"] == 1) & (out["tile_pos"] == 3)).any()


def test_find_change_clumps(spark, sf_dir):
    from rsgislib_spark.operators.rastergis import find_change_clumps

    img = _clump_images(spark, sf_dir)
    out = find_change_clumps(img, quant=128, k=1).toPandas()
    assert len(out) > 0
    # both outcomes occur (non-vacuous, lesson 15)
    assert (out["change"] == 1).any()
    assert (out["change"] == 0).any()
    # brute-force float recheck: |v - mean| > 2*sigma per (image, cls)
    for (_, _), g in out.groupby(["image_id", "cls"]):
        v = g["n_pix"].to_numpy(dtype=float)
        mu, sd = v.mean(), v.std()
        # away from the float boundary the flags must agree exactly
        clear = np.abs(np.abs(v - mu) - sd) > 1e-6
        assert (g["change"].to_numpy()[clear]
                == (np.abs(v - mu) > sd)[clear].astype(int)).all()
    # singleton classes are never change (sigma = 0, v == mean)
    ones = out.groupby(["image_id", "cls"]).filter(lambda g: len(g) == 1)
    assert (ones["change"] == 0).all()


def test_select_clumps_on_grid(spark, sf_dir):
    from rsgislib_spark.operators.rastergis import select_clumps_on_grid

    img = _clump_images(spark, sf_dir)
    out = select_clumps_on_grid(img, quant=128, rows=4, cols=4).toPandas()
    assert len(out) > 0
    assert set(out["sel"].unique()) == {0, 1}
    # exactly one selection per occupied (image, tile) cell
    g = out.groupby(["image_id", "tile_row", "tile_col"])
    assert (g["sel"].sum() == 1).all()
    # the selected clump carries the cell's minimum metric, smallest id
    for _, grp in g:
        w = grp[grp["sel"] == 1].iloc[0]
        mn = grp["n_pix"].min()
        assert w["n_pix"] == mn
        assert w["clump_id"] == grp.loc[grp["n_pix"] == mn, "clump_id"].min()
    assert (out["tile_row"].between(0, 3)).all()
    assert (out["tile_col"].between(0, 3)).all()
    # multiple distinct cells are occupied (non-vacuous, lesson 15)
    assert out.groupby("image_id").apply(
        lambda grp: len(grp[["tile_row", "tile_col"]].drop_duplicates()),
        include_groups=False).max() > 4
