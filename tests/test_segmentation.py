"""Connected-component labeling vs an independent BFS reference, and the
clump/polygonize operators over the synthetic image table."""

import os
import sys
from collections import deque

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bfs_labels(mask):
    """Independent reference: plain BFS flood fill, scan order."""
    h, w = mask.shape
    lab = np.zeros((h, w), dtype=np.int64)
    nxt = 0
    for y in range(h):
        for x in range(w):
            if mask[y, x] and lab[y, x] == 0:
                nxt += 1
                q = deque([(y, x)])
                lab[y, x] = nxt
                while q:
                    cy, cx = q.popleft()
                    for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        ny, nx_ = cy + dy, cx + dx
                        if (0 <= ny < h and 0 <= nx_ < w and mask[ny, nx_]
                                and lab[ny, nx_] == 0):
                            lab[ny, nx_] = nxt
                            q.append((ny, nx_))
    return lab


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_label_components_matches_bfs(seed):
    from rsgislib_spark.operators.rasterize import label_components

    rng = np.random.RandomState(seed)
    mask = rng.rand(40, 53) < (0.25 + 0.15 * seed)
    ours = label_components(mask)
    ref = bfs_labels(mask)
    # same partition of pixels into components, and identical label ids
    # (both number components in first-pixel scan order)
    assert (ours == ref).all()


def test_label_components_edge_cases():
    from rsgislib_spark.operators.rasterize import label_components

    assert label_components(np.zeros((5, 5), bool)).max() == 0
    assert label_components(np.ones((5, 5), bool)).max() == 1
    snake = np.zeros((5, 5), bool)
    snake[0, :] = True
    snake[:, 4] = True
    snake[4, :] = True
    assert label_components(snake).max() == 1


def test_polygonize_bboxes_consistency(spark, sf_dir):
    from rsgislib_spark import synth
    from rsgislib_spark.operators.rasterize import (clump_stats,
                                                    polygonize_bboxes)

    img = synth.synth_images(spark, sf_dir, with_bytes=True,
                             with_footprint=False).where("id % 31 = 0")
    thr = 700
    rows = polygonize_bboxes(img, thr).collect()
    assert rows
    # bbox sanity + per-image totals equal foreground counts
    per_img = {}
    for r in rows:
        assert r.bxmax > r.bxmin and r.bymax > r.bymin
        assert r.n_pix <= (r.bxmax - r.bxmin) * (r.bymax - r.bymin)
        per_img[r.image_id] = per_img.get(r.image_id, 0) + r.n_pix
    meta = {r.image_id: (r.w, r.h, r.fmt, r.id)
            for r in img.select("image_id", "w", "h", "fmt", "id").collect()}
    for image_id, total in per_img.items():
        w, h, fmt, iid = meta[image_id]
        plane = synth.pixel_array(int(iid), int(w), int(h), str(fmt))
        assert total == int((plane.astype(np.int64) >= thr).sum())
    stats = {r.image_id: r.n_fg for r in clump_stats(img, thr).collect()}
    assert stats == per_img


def test_rasterize_window_burn(spark, sf_dir):
    from rsgislib_spark import synth
    from rsgislib_spark.operators.rasterize import rasterize_window

    zones = synth.synth_zones(spark, sf_dir)
    out = rasterize_window(spark, zones, 9.4, 44.4, 20, 20, 0.1).collect()
    assert len(out) == 400
    # the megacity zone 0 box [9.5,10.5]x[44.5,45.5] must be burnt
    burns = {(r.px, r.py): r.burn for r in out}
    assert burns[(5, 5)] >= 0          # center inside zone 0 footprint
    assert min(burns.values()) >= -1

def test_slic_superpixels_invariants(spark, sf_dir):
    """SLIC partition invariants on the synth corpus: every pixel
    labelled (sum n_pix == w*h), centres inside the image, and
    compactness — with m=10/s=8 every superpixel's mean position stays
    within its member count's reach of the seed grid (no runaway
    centres)."""
    from rsgislib_spark.operators.segmentation import slic_superpixels
    from rsgislib_spark.queries import _px_images

    img = _px_images(spark, sf_dir, mod=19)
    meta = {r.image_id: (r.w, r.h)
            for r in img.select("image_id", "w", "h").collect()}
    out = slic_superpixels(img).toPandas()
    assert len(out) > 0
    for image_id, g in out.groupby("image_id"):
        w, h = meta[image_id]
        assert g.n_pix.sum() == w * h            # complete partition
        assert ((g.cx >= 0) & (g.cx < w)).all()
        assert ((g.cy >= 0) & (g.cy < h)).all()
        gx, gy = w // 8, h // 8
        assert len(g) <= gx * gy                 # one row per live seed
        assert len(g) >= 0.5 * gx * gy           # most seeds survive


def test_quickshift_invariants(spark, sf_dir):
    """Quickshift forest invariants: segments partition every pixel
    exactly once (counts and flat-index checksums both telescope to the
    whole image), seg ids dense per image."""
    from rsgislib_spark.operators.segmentation import quickshift_segments
    from rsgislib_spark.queries import _px_images

    img = _px_images(spark, sf_dir, mod=53)
    meta = {r.image_id: (r.w, r.h)
            for r in img.select("image_id", "w", "h").collect()}
    out = quickshift_segments(img).toPandas()
    assert len(out) > 0
    for image_id, g in out.groupby("image_id"):
        w, h = meta[image_id]
        n = w * h
        assert g.n_pix.sum() == n
        assert g.px_ck.sum() == n * (n - 1) // 2
        assert sorted(g.seg_id) == list(range(1, len(g) + 1))
        assert 1 <= len(g) < n          # non-trivial merging happened


def test_watershed_invariants_and_convergence_margin(spark, sf_dir):
    """Watershed basins partition the grid, every basin's marker is a
    strict 4-neighbour local minimum, and the engine's fixpoint arrives
    within 40 rounds on the corpus — margin under the oracle's 48-round
    unroll (the leastcost lesson-20 discipline)."""
    import numpy as np
    from rsgislib_spark.functions import codec
    from rsgislib_spark.operators.leastcost import block_costs
    from rsgislib_spark.operators.segmentation import (_ws_relax,
                                                       watershed_basins)
    from rsgislib_spark.queries import _px_images

    img = _px_images(spark, sf_dir, mod=53)
    rows = img.select("image_id", "bytes", "w", "h", "fmt").collect()
    out = watershed_basins(img).toPandas()
    assert len(out) > 0
    worst = 0
    for r in rows:
        c = block_costs(codec.decode_image(
            bytes(r.bytes), r.w, r.h, r.fmt).astype(np.int64))
        _ws_relax(c)
        worst = max(worst, _ws_relax.last_rounds)
        g = out[out.image_id == r.image_id]
        assert g.n_cells.sum() == c.size        # complete partition
        assert (g.basin >= 0).all()             # corpus has minima
        for b, mc in zip(g.basin, g.marker_c):
            gy, gx = divmod(int(b), c.shape[1])
            assert c[gy, gx] == mc
            for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):
                ny, nx = gy + dy, gx + dx
                if 0 <= ny < c.shape[0] and 0 <= nx < c.shape[1]:
                    assert c[ny, nx] > c[gy, gx]   # strict local min
    assert worst <= 40, f"convergence margin eroded: {worst} rounds"


def test_felzenszwalb_theorem1_and_invariants(spark, sf_dir):
    """FH Theorem-1 'not too fine': every edge between two DIFFERENT
    final segments fails the merge predicate of at least one side
    (w*|C| > Int(C)*|C| + k); plus partition completeness and
    monotonicity in k."""
    import numpy as np
    from rsgislib_spark.functions import codec
    from rsgislib_spark.operators.leastcost import block_costs
    from rsgislib_spark.operators.segmentation import FH_K, _fh_run
    from rsgislib_spark.queries import _px_images

    img = _px_images(spark, sf_dir, mod=53)
    rows = img.select("image_id", "bytes", "w", "h", "fmt").collect()
    assert rows
    for r in rows:
        c = block_costs(codec.decode_image(
            bytes(r.bytes), r.w, r.h, r.fmt).astype(np.int64))
        gh, gw = c.shape
        roots, counts, cks, ims = _fh_run(c, FH_K)
        assert sum(counts) == gh * gw
        n_small = len(_fh_run(c, FH_K * 10)[0])
        assert n_small <= len(roots)            # monotone in k
        # rebuild labels + per-root stats for the boundary check
        stats = {rt: (n, im) for rt, n, im in zip(roots, counts, ims)}
        # independent union-find replay (labels needed for the
        # boundary check; also asserts the kernel's root set)
        cf = c.ravel()
        parent = list(range(gh * gw))
        size = [1] * (gh * gw)
        internal = [0] * (gh * gw)
        edges = []
        for y in range(gh):
            for x in range(gw):
                u = y * gw + x
                if x + 1 < gw:
                    edges.append((abs(int(cf[u]) - int(cf[u + 1])),
                                  u, u + 1))
                if y + 1 < gh:
                    edges.append((abs(int(cf[u]) - int(cf[u + gw])),
                                  u, u + gw))
        edges.sort()

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for w_, u, v in edges:
            ru, rv = find(u), find(v)
            if ru == rv:
                continue
            if (w_ * size[ru] <= internal[ru] * size[ru] + FH_K
                    and w_ * size[rv] <= internal[rv] * size[rv] + FH_K):
                ra, rb = (ru, rv) if ru < rv else (rv, ru)
                parent[rb] = ra
                size[ra] += size[rb]
                internal[ra] = max(internal[ra], internal[rb], w_)
        labf = [find(i) for i in range(gh * gw)]
        assert sorted(set(labf)) == sorted(roots)   # replay == kernel
        # Theorem 1: min crossing edge of every adjacent segment pair
        # exceeds at least one side's threshold
        crossing = {}
        for w_, u, v in edges:
            a, b = labf[u], labf[v]
            if a != b:
                key = (min(a, b), max(a, b))
                if key not in crossing:
                    crossing[key] = w_   # edges sorted -> first is min
        for (a, b), w_ in crossing.items():
            na, ia = stats[a][0], stats[a][1]
            nb, ib = stats[b][0], stats[b][1]
            assert (w_ * na > ia * na + FH_K) or (w_ * nb > ib * nb
                                                  + FH_K), (a, b, w_)


def test_random_walker_invariants(spark, sf_dir):
    """Random-walker potential obeys the discrete maximum principle
    (0 <= x <= 1, checked via the quantised sum bounds), both seeds
    anchor their own label, and partitions are complete."""
    from rsgislib_spark.operators.segmentation import random_walker_basins
    from rsgislib_spark.queries import _px_images

    out = random_walker_basins(_px_images(spark, sf_dir, mod=53)) \
        .toPandas()
    assert len(out) > 0
    for r in out.itertuples():
        assert r.n_a + r.n_b == r.n_cells
        assert r.n_a >= 1 and r.n_b >= 1        # each seed holds a side
        assert r.seed_a != r.seed_b
        # maximum principle: every potential in [0, 1] =>
        # 0 <= pot_ck <= n_cells * 2^20
        assert 0 <= r.pot_ck <= r.n_cells * 1048576


def test_slic_window_follows_grid_step(spark, sf_dir):
    """With a non-default grid step ``s`` the search window is ``2*s``:
    the engine matches the DuckDB oracle built for the same ``s``."""
    import duckdb

    from rsgislib_spark.operators.segmentation import slic_superpixels
    from rsgislib_spark.oracles import _slic_oracle
    from rsgislib_spark.queries import _px_images

    con = duckdb.connect()
    for t in ("part", "nation", "supplier"):
        con.sql(f"CREATE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    s = 4
    got = slic_superpixels(_px_images(spark, sf_dir, mod=19), s=s) \
        .select("image_id", "k", "n_pix", "cx", "cy", "cv", "px_ck").collect()
    want = con.sql(_slic_oracle(s=s)).fetchall()
    assert len(got) > 0
    assert sorted(map(tuple, got)) == sorted(want)


def test_slic_rejects_zero_iters(spark, sf_dir):
    from rsgislib_spark.operators.segmentation import slic_superpixels
    from rsgislib_spark.queries import _px_images

    img = _px_images(spark, sf_dir, mod=19)
    with pytest.raises(ValueError, match="iters"):
        slic_superpixels(img, iters=0)
