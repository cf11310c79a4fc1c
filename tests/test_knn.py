"""kNN / radius operators vs brute-force numpy oracles."""

import numpy as np
import pytest

from rsgislib_spark import synth
from rsgislib_spark.operators.knn import TieError, match_closest_points, npts_in_radius


@pytest.fixture(scope="module")
def layers(spark, sf_dir):
    images = synth.synth_images(spark, sf_dir, with_bytes=False,
                                with_footprint=False)
    qpts = synth.synth_qpoints(spark, sf_dir)
    return images, qpts, images.toPandas(), qpts.toPandas()


def test_match_closest_matches_brute(layers):
    images, qpts, ipdf, qpdf = layers
    out = match_closest_points(qpts, images).toPandas().sort_values("qid")
    ilon = ipdf.lon.values
    ilat = ipdf.lat.values
    for _, r in out.iterrows():
        d = np.sqrt((ilon - r.qlon) ** 2 + (ilat - r.qlat) ** 2)
        j = int(np.argmin(d))
        assert r.match_image_id == ipdf.image_id.iloc[j], r.qid
        assert abs(r.dist_match - d[j]) < 1e-12
        assert r.x_match == ilon[j] and r.y_match == ilat[j]


def test_match_closest_tolerance_strict(layers):
    images, qpts, ipdf, qpdf = layers
    tol = 0.05
    out = match_closest_points(qpts, images, tolerance=tol).toPandas()
    assert (out.dist_match < tol).all()
    full = match_closest_points(qpts, images).toPandas()
    assert len(out) == (full.dist_match < tol).sum()


def test_match_closest_tie_raises(spark):
    base = spark.createDataFrame([(1, 0.0, 0.0)], "qid long, qlon double, qlat double")
    match = spark.createDataFrame(
        [("a", 1.0, 0.0), ("b", -1.0, 0.0)],
        "image_id string, lon double, lat double",
    )
    with pytest.raises(TieError):
        match_closest_points(base, match).collect()


def test_npts_in_radius_matches_brute(layers):
    images, _, ipdf, _ = layers
    r = 0.2
    out = npts_in_radius(images, r).toPandas().sort_values("id")
    lon, lat = ipdf.lon.values, ipdf.lat.values
    exp = {}
    for i in range(len(ipdf)):
        d = np.sqrt((lon - lon[i]) ** 2 + (lat - lat[i]) ** 2)
        exp[ipdf.image_id.iloc[i]] = int((d <= r).sum()) - 1
    got = dict(zip(out.image_id, out.n_pts_r))
    assert got == exp


def test_match_closest_pathological_skew(spark):
    """All match points piled in one cell + isolated base points across
    empty oceans: the escalation ladder must stay exact (the old
    brute-force fallback's worst case)."""
    import numpy as np

    rng = [(i, 10.0 + (i % 7) * 1e-4, 45.0 + (i % 11) * 1e-4)
           for i in range(200)]  # dense cluster, one cell
    match = spark.createDataFrame(
        [(f"m{i}", lo, la) for i, lo, la in rng],
        "image_id string, lon double, lat double")
    base = spark.createDataFrame(
        [(1, -170.0, -80.0), (2, 170.0, 80.0), (3, 0.0, 0.0),
         (4, 10.0, 45.0), (5, -90.0, 30.0)],
        "qid long, qlon double, qlat double")
    out = {r.qid: (r.match_image_id, r.dist_match)
           for r in match_closest_points(base, match,
                                         check_ties=False).collect()}
    mlon = np.array([lo for _, lo, _ in rng])
    mlat = np.array([la for _, _, la in rng])
    for qid, (qlon, qlat) in {1: (-170.0, -80.0), 2: (170.0, 80.0),
                              3: (0.0, 0.0), 4: (10.0, 45.0),
                              5: (-90.0, 30.0)}.items():
        d = np.sqrt((mlon - qlon) ** 2 + (mlat - qlat) ** 2)
        # the cluster pattern repeats every 77 points, so exact-distance
        # ties exist; with check_ties=False the engine deterministically
        # returns the lexicographically-smallest key among the tied set
        tied = np.nonzero(d == d.min())[0]
        assert out[qid][0] == min(f"m{j}" for j in tied), qid
        assert abs(out[qid][1] - d.min()) < 1e-12


def test_match_closest_match_count_hint(layers):
    """Passing match_count skips the count() action and cannot change
    the result (even when the hint is wildly wrong)."""
    images, qpts, ipdf, _ = layers
    exact = match_closest_points(qpts, images).toPandas() \
        .sort_values("qid").reset_index(drop=True)
    for hint in (1, 10**12):
        got = match_closest_points(qpts, images, match_count=hint) \
            .toPandas().sort_values("qid").reset_index(drop=True)
        assert got.equals(exact), hint


def test_knn_classify_matches_bruteforce_under_skew(spark):
    """Top-k ladder vs numpy brute force on a pathological layout:
    half the match points piled into one megacity cell, plus empty
    oceans — the distribution that forces multi-rung escalation."""
    import numpy as np

    from rsgislib_spark.operators.knn import knn_classify

    rng = np.random.RandomState(42)
    m = 400
    mx = np.concatenate([rng.uniform(-0.5, 0.5, m // 2),
                         rng.uniform(-170, 170, m // 2)])
    my = np.concatenate([rng.uniform(-0.5, 0.5, m // 2),
                         rng.uniform(-80, 80, m // 2)])
    match = spark.createDataFrame(
        [(int(i), float(mx[i]), float(my[i]), int(i % 7))
         for i in range(m)],
        "id long, lon double, lat double, cls long")
    qx = rng.uniform(-175, 175, 60)
    qy = rng.uniform(-85, 85, 60)
    base = spark.createDataFrame(
        [(int(i), float(qx[i]), float(qy[i])) for i in range(60)],
        "qid long, qlon double, qlat double")
    got = {r.qid: (r.pred_cls, r.n_votes)
           for r in knn_classify(base, match, k=3, match_lon="lon",
                                 match_lat="lat").collect()}
    for i in range(60):
        d = np.sqrt((mx - qx[i]) ** 2 + (my - qy[i]) ** 2)
        order = np.lexsort((np.arange(m), d))[:3]
        cls = (order % 7)
        vals, counts = np.unique(cls, return_counts=True)
        best = vals[np.lexsort((vals, -counts))][0]
        want = (int(best), int(counts[vals == best][0]))
        assert got[i] == want, (i, got[i], want)


def test_match_closest_rereads_rewritten_table(spark, tmp_path):
    """A table rewritten in place by an external writer (same path, same
    row count) is matched against its NEW rows.  Spark's CacheManager
    matches cached frames by plan, so a persisted intermediate of the
    first call would serve the second call the first table's data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(7)
    path = str(tmp_path / "match.parquet")
    base = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-170, 170, 20), rng.uniform(-80, 80, 20)))],
        "qid long, qlon double, qlat double")
    bpdf = base.toPandas().sort_values("qid")
    for tag in ("m1", "m2"):
        lon, lat = rng.uniform(-180, 180, 500), rng.uniform(-90, 90, 500)
        keys = [f"{tag}_{i}" for i in range(500)]
        pq.write_table(pa.table({"image_id": keys, "lon": lon, "lat": lat}),
                       path)
        out = match_closest_points(base, spark.read.parquet(path))
        got = dict(out.select("qid", "match_image_id").collect())
        want = {int(q): keys[int(np.argmin(np.hypot(lon - x, lat - y)))]
                for q, x, y in zip(bpdf.qid, bpdf.qlon, bpdf.qlat)}
        assert got == want, tag


def test_knn_operators_register_no_cache(spark, layers):
    """The kNN operators leave nothing in the CacheManager once their
    results are collected (their intermediates are local checkpoints)."""
    from pyspark.sql import functions as F

    from rsgislib_spark.operators.knn import knn_classify

    images, qpts, _, _ = layers
    spark.catalog.clearCache()
    match_closest_points(qpts, images).collect()
    knn_classify(qpts, images.withColumn("cls", F.col("id") % 5),
                 k=3).collect()
    npts_in_radius(images, 0.2).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_repeated_knn_closest_does_full_work(spark, sf_dir):
    """An identical repeat of q_knn_closest launches as many jobs as the
    first call: no result of the first call is reused by the second."""
    from rsgislib_spark.queries import q_knn_closest

    sc = spark.sparkContext
    spark.catalog.clearCache()
    jobs = []
    try:
        for group in ("knn_first", "knn_repeat"):
            sc.setJobGroup(group, "q_knn_closest")
            q_knn_closest(spark, sf_dir).collect()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs[0] > 0 and jobs[1] == jobs[0], jobs


def test_repeated_knn_classify_does_full_work(spark, sf_dir):
    """An identical repeat of q_knn_classify launches as many jobs as the
    first call: the part row count hint is read afresh, not memoised."""
    from rsgislib_spark.queries import q_knn_classify

    sc = spark.sparkContext
    spark.catalog.clearCache()
    jobs = []
    try:
        for group in ("knn_classify_first", "knn_classify_repeat"):
            sc.setJobGroup(group, "q_knn_classify")
            q_knn_classify(spark, sf_dir).collect()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs[0] > 0 and jobs[1] == jobs[0], jobs


def test_npart_count_follows_rewritten_table(tmp_path):
    """The part row count hint is the file's current row count: rewriting
    part.parquet changes it, and reading it needs no Spark session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rsgislib_spark.queries import _npart_count

    path = str(tmp_path / "part.parquet")
    for n in (7, 19):
        pq.write_table(pa.table({"p_partkey": pa.array(range(n), pa.int64())}),
                       path)
        assert _npart_count(str(tmp_path)) == n
