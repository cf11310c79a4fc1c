"""Regression tests for the round-1 ADVICE findings.

* shingles() on documents shorter than n tokens (sequence(1,0) crash);
* tile_spec_offset_df floor vs truncate on images narrower than the
  half-tile offset;
* band-math sandbox: attribute-chain escapes must be rejected;
* run_resumable exactly-once: a crash between the data write and the
  lineage write, after the stale-partition delete, or during the data
  write must not leave duplicated rows after resume.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_shingles_short_documents(spark):
    from rsgislib_spark.operators.textops import shingles

    docs = _docs(spark, ["", "one", "one two", "one two three",
                         "one two three four"])
    rows = shingles(docs, n=3).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, set()).add(r.s)
    # <3 tokens -> no shingles; 3 tokens -> 1; 4 tokens -> 2
    assert set(got) == {3, 4}
    assert got[3] == {"one two three"}
    assert got[4] == {"one two three", "two three four"}


def test_minhash_pairs_survive_short_documents(spark):
    """The full dedup pipeline must not crash when short/empty docs are
    mixed in, and short docs can never appear in any pair."""
    from rsgislib_spark.operators.textops import minhash_pairs, \
        ngram_jaccard_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _docs(spark, ["", "x", "x y", base, base + " extra"])
    for fn in (ngram_jaccard_pairs, minhash_pairs):
        pairs = fn(docs).collect()
        ids = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
        assert ids <= {3, 4}
        assert (3, 4) in {(r.doc_a, r.doc_b) for r in pairs}


def test_offset_tiling_floor_semantics_narrow_image(spark):
    """w < tile_width//2: floor gives num_x = -1 (one clamped half tile
    per row), never a spurious degenerate tile with txmin > txmax."""
    from rsgislib_spark.operators.tiling import tile_spec_offset_df

    img = spark.createDataFrame([("tiny", 10, 100)],
                                "image_id string, w int, h int")
    rows = tile_spec_offset_df(img, 48, 32).collect()
    assert rows
    for r in rows:
        assert r.txmin <= r.txmax and r.tymin <= r.tymax
        assert 0 <= r.txmin and r.txmax <= 10
    # exactly one column of tiles (the clamped leading half tile)
    assert {r.tile_x for r in rows} == {0}


def test_offset_tiling_unchanged_on_regular_sizes(spark):
    """Floor fix is behavior-preserving for w >= half offset: still
    matches the pure-python reference-grid oracle."""
    from rsgislib_spark.geo.tilegrid import tile_specs
    from rsgislib_spark.operators.tiling import tile_spec_offset_df

    sizes = [(32, 35), (48, 32), (100, 97), (128, 33)]
    img = spark.createDataFrame(
        [(f"i{k}", w, h) for k, (w, h) in enumerate(sizes)],
        "image_id string, w int, h int")
    got = {}
    for r in tile_spec_offset_df(img, 48, 32).collect():
        got.setdefault(r.image_id, []).append(
            (r.tile_idx, (r.txmin, r.txmax, r.tymin, r.tymax)))
    for k, (w, h) in enumerate(sizes):
        want = [(i, (xa, xb, ya, yb)) for i, (xa, xb, ya, yb)
                in enumerate(tile_specs(w, h, 48, 32, offset=True))]
        assert sorted(got[f"i{k}"]) == want, (w, h)


def test_band_math_rejects_attribute_escape():
    import numpy as np

    from rsgislib_spark.operators.imagemath import eval_band_math

    a = np.arange(16, dtype=np.int64).reshape(4, 4)
    # legitimate expressions still work
    assert eval_band_math(a, "where(b1 > 7, 2*b1 + 1, 0)").shape == (4, 4)
    for bad in (
        "b1.__class__",
        "b1.__class__.__subclasses__()",
        "abs.__self__",
        "(1).__class__",
        "[x for x in b1]",
        "b1[0]",
        "lambda: 1",
        "__import__('os')",
    ):
        with pytest.raises(ValueError):
            eval_band_math(a, bad)


def test_run_resumable_crash_between_writes_no_duplicates(spark, sf_dir,
                                                          tmp_path):
    """Simulate a crash AFTER the data write but BEFORE the lineage
    write: the resume pass re-processes those cells and must replace
    (not duplicate) their data partitions."""
    from rsgislib_spark import synth
    from rsgislib_spark.plans.lineage import run_resumable

    img = synth.synth_images(spark, sf_dir, with_footprint=False)
    out = str(tmp_path / "job")

    def process(df):
        return df.select("cell", "image_id", "phash")

    # "crashed run": data written for every pending cell, lineage never
    # committed (the exact failure window the protocol must survive)
    from rsgislib_spark.operators.spatial_join import with_point_cell
    keyed = with_point_cell(img)
    keyed.select("cell", "image_id", "phash").write \
        .partitionBy("cell").parquet(os.path.join(out, "data"))

    n = run_resumable(img, out, process)   # resume: all cells pending
    assert n > 0
    data = spark.read.parquet(os.path.join(out, "data"))
    assert data.count() == img.count()
    assert data.select("image_id").distinct().count() == img.count()


def test_run_resumable_crash_after_delete(spark, sf_dir, tmp_path):
    """Simulate a crash right AFTER the stale-partition delete, before
    any data is written: the pending cells lost their partial data and
    still have no lineage row, so the resume pass must rebuild them and
    the result must equal a clean single run."""
    from rsgislib_spark import synth
    from rsgislib_spark.operators.spatial_join import with_point_cell
    from rsgislib_spark.plans.lineage import run_resumable

    img = synth.synth_images(spark, sf_dir, with_footprint=False)
    out = str(tmp_path / "job")
    data = os.path.join(out, "data")

    def process(df):
        return df.select("cell", "image_id", "phash")

    # a partial earlier attempt: data for every cell, no lineage
    with_point_cell(img).select("cell", "image_id", "phash") \
        .limit(50).write.partitionBy("cell").parquet(data)
    partial = [d for d in os.listdir(data) if d.startswith("cell=")]
    assert partial

    def crash(df):
        raise RuntimeError("crash after the delete")

    with pytest.raises(RuntimeError, match="crash after the delete"):
        run_resumable(img, out, crash)
    assert not any(os.path.exists(os.path.join(data, d)) for d in partial)
    assert not os.path.exists(os.path.join(out, "lineage"))

    n = run_resumable(img, out, process)
    clean = str(tmp_path / "clean")
    assert run_resumable(img, clean, process) == n

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).select(
            *sorted(spark.read.parquet(path).columns)).collect())

    assert rows(data) == rows(os.path.join(clean, "data"))
    assert rows(os.path.join(out, "lineage")) == \
        rows(os.path.join(clean, "lineage"))


def test_run_resumable_crash_during_data_write(spark, sf_dir, tmp_path):
    """Simulate a crash partway through the data write: ``process``'s
    Arrow stage raises on one cell while the other write tasks run.  No
    lineage is committed, so the resume pass must rebuild every cell
    once, and the result must equal a clean single run."""
    from rsgislib_spark import synth
    from rsgislib_spark.operators.spatial_join import with_point_cell
    from rsgislib_spark.plans.lineage import run_resumable

    img = synth.synth_images(spark, sf_dir, with_footprint=False)
    out = str(tmp_path / "job")
    cells = sorted(r.cell for r in
                   with_point_cell(img).select("cell").distinct().collect())
    victim = cells[len(cells) // 2]

    def process(df):
        return df.select("cell", "image_id", "phash")

    def crashing(df):
        def crash_on_victim(batches):
            for batch in batches:
                if victim in batch.column("cell").to_pylist():
                    raise RuntimeError("crash during the data write")
                yield batch

        sel = process(df).repartition(4, "cell")
        return sel.mapInArrow(crash_on_victim, schema=sel.schema)

    with pytest.raises(Exception, match="crash during the data write"):
        run_resumable(img, out, crashing)
    assert not os.path.exists(os.path.join(out, "lineage"))

    assert run_resumable(img, out, process) == len(cells)
    assert run_resumable(img, out, process) == 0
    clean = str(tmp_path / "clean")
    assert run_resumable(img, clean, process) == len(cells)

    def rows(path):
        df = spark.read.parquet(path)
        return sorted(tuple(r) for r in
                      df.select(*sorted(df.columns)).collect())

    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.count() == lineage.select("cell").distinct().count() \
        == len(cells)
    assert rows(os.path.join(out, "data")) == \
        rows(os.path.join(clean, "data"))


def test_band_math_b2_bound():
    """ADVICE r2: 'b2' is whitelisted by validate_band_math, so the
    eval env must bind it (the mirrored plane, the engine's standing
    second-band convention) instead of escaping as a NameError."""
    import numpy as np

    from rsgislib_spark.operators.imagemath import eval_band_math

    arr = np.arange(12, dtype=np.int64).reshape(3, 4)
    out = eval_band_math(arr, "b1 + b2")
    assert (out == arr + arr[:, ::-1]).all()


# --- round-4 ADVICE regressions -------------------------------------------


def test_alphashape_duplicate_points():
    """ADVICE r3: duplicate points must not break either triangulation
    backend; the deduped cloud gives the same boundary as the clean
    one."""
    import numpy as np

    from rsgislib_spark.operators.alphashape import alpha_shape_edges_pdf

    rng = np.random.default_rng(3)
    pts = rng.uniform(0, 10, size=(40, 2))
    dup = np.vstack([pts, pts[::3], pts[:5]])
    clean = sorted(alpha_shape_edges_pdf(pts, alpha=0.0))
    withdup = sorted(alpha_shape_edges_pdf(dup, alpha=0.0))
    assert clean == withdup
    assert len(clean) >= 3  # convex hull limit produces a closed ring


def test_corr_window_16bit_no_wrap():
    """ADVICE r3: the correlation denominator is taken in float64 —
    full-range 16-bit planes must not wrap int64.  A plane and its
    mirror at v ~ 65535 magnitudes yields |r| <= 1000 everywhere."""
    import numpy as np

    # reproduce the kernel's moment math directly at hostile magnitudes
    rng = np.random.default_rng(5)
    a = rng.integers(0, 65536, size=(12, 12), dtype=np.int64)
    b = a[:, ::-1]
    h, w = a.shape

    def wsum(p):
        acc = np.zeros((h - 2, w - 2), dtype=np.int64)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                acc += p[1 + dy:h - 1 + dy, 1 + dx:w - 1 + dx]
        return acc

    sx, sy = wsum(a), wsum(b)
    sxx, syy, sxy = wsum(a * a), wsum(b * b), wsum(a * b)
    num = 9 * sxy - sx * sy
    d1 = (9 * sxx - sx * sx).astype(np.float64)
    d2 = (9 * syy - sy * sy).astype(np.float64)
    den = d1 * d2
    assert (den >= 0).all()          # float64 product cannot wrap
    nz = den > 0
    r = num[nz].astype(np.float64) * 1000.0 / np.sqrt(den[nz])
    assert np.abs(r).max() <= 1000.5  # |pearson| <= 1 at any magnitude


def test_lineage_delete_via_hadoop_fs(spark, tmp_path):
    """ADVICE r3: the stale-partition delete goes through the Hadoop
    FileSystem API, so it works (and is exercised here) on file: URIs
    exactly as it would on hdfs:/s3a:.  The commit lists ``data/`` once
    and deletes only cells that are both pending and on disk: a
    completed cell's directory and files survive, a pending cell with
    no directory is fine, and a pending cell's stale file goes."""
    from rsgislib_spark.operators.spatial_join import with_point_cell
    from rsgislib_spark.plans.lineage import run_resumable

    schema = "id long, lon double, lat double, phash long"
    rows = [(1, 10.01, 45.01, 7), (2, 20.02, 30.02, 9),
            (3, -70.03, -20.03, 11)]
    cells = [r.cell for r in with_point_cell(
        spark.createDataFrame(rows, schema)).orderBy("id").collect()]
    assert len(set(cells)) == 3
    out = str(tmp_path / "out")
    data = os.path.join(out, "data")

    # commit row 1 only: its cell is complete; plant a marker beside
    # its parquet files, which the next commit must not touch
    run_resumable(spark.createDataFrame(rows[:1], schema), out,
                  lambda df: df.select("id", "cell"))
    done_dir = os.path.join(data, f"cell={cells[0]}")
    done_files = sorted(os.listdir(done_dir))
    # a leading "_" keeps the parquet reader off it
    keep = os.path.join(done_dir, "_keep-me")
    open(keep, "w").write("completed")

    # row 2's cell is pending with a crashed run's stale file on disk;
    # row 3's cell is pending with no directory at all
    stale_dir = os.path.join(data, f"cell={cells[1]}")
    os.makedirs(stale_dir)
    stale = os.path.join(stale_dir, "stale-leftover.parquet")
    open(stale, "w").write("junk")
    assert not os.path.exists(os.path.join(data, f"cell={cells[2]}"))

    n = run_resumable(spark.createDataFrame(rows, schema), out,
                      lambda df: df.select("id", "cell"))
    assert n == 2
    assert not os.path.exists(stale)
    assert sorted(os.listdir(done_dir)) == sorted(done_files + ["_keep-me"])
    got = sorted((r.id, r.cell) for r in spark.read.parquet(data).collect())
    assert got == [(i + 1, c) for i, c in enumerate(cells)]
