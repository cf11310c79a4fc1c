"""Checkpoint/resume lineage protocol, streaming parity with the batch
path, multimodal stub behaviour."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def test_run_resumable_idempotent(spark, sf_dir, tmp_path):
    from rsgislib_spark import synth
    from rsgislib_spark.plans.lineage import completed_cells, run_resumable

    img = synth.synth_images(spark, sf_dir, with_footprint=False)
    out = str(tmp_path / "job")

    def process(df):
        return df.select("cell", "image_id", "phash")

    n1 = run_resumable(img, out, process)
    assert n1 > 0
    # re-run on identical input: every cell has lineage -> nothing to do
    n2 = run_resumable(img, out, process)
    assert n2 == 0
    # data completeness: one output row per input row, none duplicated
    data = spark.read.parquet(os.path.join(out, "data"))
    assert data.count() == img.count()
    assert data.select("image_id").distinct().count() == img.count()
    assert completed_cells(spark, os.path.join(out, "lineage")).count() == n1


def test_run_resumable_processes_only_missing(spark, sf_dir, tmp_path):
    """Killing a run midway = some cells done; resume does the rest."""
    from rsgislib_spark import synth
    from rsgislib_spark.operators.spatial_join import with_point_cell
    from rsgislib_spark.plans.lineage import run_resumable

    img = synth.synth_images(spark, sf_dir, with_footprint=False)
    keyed = with_point_cell(img)
    cells = sorted(r.cell for r in keyed.select("cell").distinct().collect())
    half = set(cells[: len(cells) // 2])
    part1 = keyed.where(F.col("cell").isin([int(c) for c in half])).drop("cell")
    out = str(tmp_path / "job")

    def process(df):
        return df.select("cell", "image_id", "phash")

    n1 = run_resumable(part1, out, process)
    assert n1 == len(half)
    n2 = run_resumable(img, out, process)          # full input resumes
    assert n1 + n2 == len(cells)
    data = spark.read.parquet(os.path.join(out, "data"))
    assert data.count() == img.count()


def test_run_resumable_resumes_on_uri_out_dir(spark, sf_dir, tmp_path):
    """A ``file://`` out_dir resumes like a plain path: the second run
    finds every cell's lineage row, commits nothing and appends none."""
    from rsgislib_spark import synth
    from rsgislib_spark.plans.lineage import run_resumable

    img = synth.synth_images(spark, sf_dir, with_footprint=False)
    out = "file://" + str(tmp_path / "job")

    def process(df):
        return df.select("cell", "image_id", "phash")

    n1 = run_resumable(img, out, process)
    assert n1 > 0
    assert run_resumable(img, out, process) == 0
    lineage = spark.read.parquet(out + "/lineage")
    assert lineage.count() == lineage.select("cell").distinct().count() == n1
    # the declared read schema is the one the commit writes
    from rsgislib_spark.plans.lineage import _LINEAGE_SCHEMA
    declared = spark.read.schema(_LINEAGE_SCHEMA).parquet(out + "/lineage")
    assert dict(lineage.dtypes) == dict(declared.dtypes)


def _committed(spark, sf_dir, out):
    """The sf table committed once under ``out``; returns (images,
    process, cells committed)."""
    from rsgislib_spark import synth
    from rsgislib_spark.plans.lineage import run_resumable

    img = synth.synth_images(spark, sf_dir, with_footprint=False)

    def process(df):
        return df.select("cell", "image_id", "phash")

    return img, process, run_resumable(img, out, process)


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_failed_commit_leaves_no_cached_frame(spark, sf_dir, tmp_path):
    """A commit whose ``process`` raises leaves nothing in the
    CacheManager and no persisted RDD: the pending slice is a local
    checkpoint, freed on the way out, not a persisted frame that only
    the success path unpersists."""
    from rsgislib_spark import synth
    from rsgislib_spark.plans.lineage import run_resumable

    img = synth.synth_images(spark, sf_dir, with_footprint=False)

    def crash(df):
        raise RuntimeError("process failed")

    spark.catalog.clearCache()
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="process failed"):
        run_resumable(img, str(tmp_path / "job"), crash)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _persistent_rdds(spark) <= before


def test_idle_resume_job_count(spark, sf_dir, tmp_path):
    """An idle resume over a fully committed out_dir runs at most 2 Spark
    jobs: the lineage broadcast and one collect of the pending cells,
    whose scan materialises the pending slice."""
    from rsgislib_spark.plans.lineage import run_resumable

    out = str(tmp_path / "job")
    before = _persistent_rdds(spark)
    img, process, n1 = _committed(spark, sf_dir, out)
    assert n1 > 0
    sc = spark.sparkContext
    try:
        sc.setJobGroup("idle_resume", "idle_resume")
        assert run_resumable(img, out, process) == 0
        jobs = sc.statusTracker().getJobIdsForGroup("idle_resume")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(jobs) <= 2, jobs
    # neither run leaves its pending slice's blocks behind
    assert _persistent_rdds(spark) <= before


def test_resume_ignores_duplicated_lineage_cell(spark, sf_dir, tmp_path):
    """A lineage holding one cell's record twice (what a ``file://``
    out_dir wrote before existence went through the Hadoop FileSystem)
    still resumes with nothing pending, and ``completed_cells`` lists
    that cell once."""
    from rsgislib_spark.plans.lineage import completed_cells, run_resumable

    out = str(tmp_path / "job")
    img, process, n1 = _committed(spark, sf_dir, out)
    lineage = os.path.join(out, "lineage")
    first = spark.read.parquet(lineage).orderBy("cell").limit(1)
    cell = first.first().cell
    first.write.mode("append").parquet(lineage)
    assert spark.read.parquet(lineage).where(F.col("cell") == cell).count() == 2

    assert run_resumable(img, out, process) == 0
    done = completed_cells(spark, lineage)
    assert done.count() == n1
    assert done.where(F.col("cell") == cell).count() == 1


def test_stateful_stream_sessionize_matches_batch(spark, sf_dir):
    """applyInPandasWithState sessionization == batch window-fn oracle."""
    from rsgislib_spark.streaming.events import (sessionize_batch,
                                                 sessionize_stream)

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    batch = {r.user_id: (r.n_sessions, r.n_events)
             for r in sessionize_batch(events).collect()}
    stream = {r.user_id: (r.n_sessions, r.n_events)
              for r in sessionize_stream(spark, sf_dir).collect()}
    assert stream == batch and batch


def test_stateful_sessionize_across_micro_batches(spark, sf_dir, tmp_path):
    """State must carry correctly across REAL micro-batches: the events
    table is re-laid-out as three time-ordered files replayed with
    maxFilesPerTrigger=1; the final per-user state must equal the batch
    oracle (update-mode emits one row per touched batch — the final row
    has the maxima)."""
    import time

    from pyspark.sql import functions as F

    from rsgislib_spark.streaming.events import (sessionize_batch,
                                                 sessionize_stream)

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    qs = events.approxQuantile("event_id", [0.33, 0.66], 0.0)
    chunks_dir = str(tmp_path / "event_chunks")
    os.makedirs(chunks_dir)
    bounds = [(None, qs[0]), (qs[0], qs[1]), (qs[1], None)]
    ordered = events.orderBy("ts").withColumn(
        "rk", F.row_number().over(__import__("pyspark").sql.Window
                                  .orderBy("ts", "event_id")))
    n = ordered.count()
    for i in range(3):
        lo, hi = i * n // 3, (i + 1) * n // 3
        part = ordered.where((F.col("rk") > lo) & (F.col("rk") <= hi)) \
            .drop("rk")
        part.toPandas().to_parquet(
            os.path.join(chunks_dir, f"chunk_{i}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True)
        time.sleep(1.1)   # distinct mtimes -> oldest-first replay order

    out = sessionize_stream(spark, chunks_dir, max_files_per_trigger=1)
    final = {r.user_id: (r.n_sessions, r.n_events)
             for r in out.groupBy("user_id")
             .agg(F.max("n_sessions").alias("n_sessions"),
                  F.max("n_events").alias("n_events")).collect()}
    ref = {r.user_id: (r.n_sessions, r.n_events)
           for r in sessionize_batch(events).collect()}
    assert final == ref
    # and state really did cross batches: some users span >= 2 chunks
    multi = out.groupBy("user_id").count().where("count >= 2").count()
    assert multi > 0


def test_multimodal_decode_stub_raises():
    """No audio/video codec: the one decode path raises for them."""
    from rsgislib_spark.functions import codec

    for fmt in ("mp4", "wav"):
        with pytest.raises(ValueError, match="unknown fmt"):
            codec.decode_image(b"\x00" * 16, 2, 2, fmt)


def test_resize_roundtrip_bytes(spark, sf_dir):
    """Resized payloads re-encode/decode losslessly (png path included)."""
    import numpy as np

    from rsgislib_spark import synth
    from rsgislib_spark.functions import codec
    from rsgislib_spark.sources.multimodal import resize_nn

    img = synth.synth_images(spark, sf_dir, with_bytes=True,
                             with_footprint=False).where("id % 97 = 0")
    rows = resize_nn(img, 16, 16, encode=True).collect()
    assert rows
    for r in rows:
        arr = codec.decode_image(bytes(r.bytes), 16, 16, r.fmt)
        assert arr.shape == (16, 16)
        assert int(arr.astype(np.int64).sum()) == r.sum_pix


def test_stream_dedup_replayed_batches_exactly_once(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark: the same event file replayed in a
    LATER micro-batch must be fully suppressed by cross-batch dedup
    state — output equals the distinct event set, exactly once."""
    import time

    from rsgislib_spark.streaming.events import stream_dedup

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    sub = events.orderBy("event_id").limit(400).toPandas()
    replay_dir = str(tmp_path / "replayed")
    os.makedirs(replay_dir)
    for i in range(2):  # identical content, two files -> two batches
        sub.to_parquet(os.path.join(replay_dir, f"delivery_{i}.parquet"),
                       coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        time.sleep(1.1)

    out = stream_dedup(spark, replay_dir, max_files_per_trigger=1)
    got = out.collect()
    assert len(got) == 400                      # 800 delivered, 400 emitted
    assert len({r.event_id for r in got}) == 400


def test_season_trend_fit(spark, sf_dir):
    """Season-trend OLS: coefficients agree with numpy lstsq on the
    same quantized regressor; harmonic table is a true cosine."""
    import numpy as np

    from rsgislib_spark.operators.timeseries import (harmonic_table,
                                                     season_trend_fit)

    tbl = dict(harmonic_table())
    assert tbl[1] == 128 and min(tbl.values()) == -128
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = season_trend_fit(ev).toPandas()
    assert len(out) > 0
    pdf = ev.toPandas()
    pdf["doy"] = pdf["ts"].dt.dayofyear
    pdf["cq"] = pdf["doy"].map(tbl)
    pdf["vc"] = (pdf["value"] * 100).round()
    for _, r in out.iterrows():
        g = pdf[pdf["event_type"] == r["event_type"]]
        A = np.stack([np.ones(len(g)), g["cq"].to_numpy(float)], axis=1)
        sol, *_ = np.linalg.lstsq(A, g["vc"].to_numpy(float), rcond=None)
        assert abs(r["a_cents"] - sol[0]) < 1e-6
        assert abs(r["b_cents"] - sol[1]) < 1e-9
        assert r["n"] == len(g)
