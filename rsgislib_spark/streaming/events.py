"""Structured Streaming over the events table + batch-equivalent ops.

The reference is batch-only (SURVEY.md §2.10); this module supplies the
streaming surface the new engine owes a modern pipeline:

* ``stream_hourly_counts`` — ``readStream`` -> tumbling 1-hour window
  aggregation -> memory sink, ``Trigger.AvailableNow`` (processes the
  whole backlog as micro-batches then stops — the batch-parity mode).
  ``complete`` output keeps every window so the result equals the batch
  aggregation bit-for-bit (counts/min/max only — no float accumulation);
* ``stream_dedup`` — watermarked ``dropDuplicatesWithinWatermark``;
* ``sessionize_stream`` — stateful gap sessionization with
  ``applyInPandasWithState``;
* ``sessionize_batch`` — gap-based sessionization as pure window
  functions (lag + cumulative sum over an explicit total order) — the
  batch semantics that a streaming ``applyInPandasWithState``
  implementation must reproduce; used as its oracle.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

__all__ = [
    "stream_hourly_counts",
    "stream_dedup",
    "sessionize_batch",
    "sessionize_stream",
]


def _events_stream(spark: SparkSession, sf_dir: str,
                   max_files_per_trigger: int | None = None) -> DataFrame:
    """File-stream source over the events table.

    ``sf_dir`` may be the driver's table directory (single
    ``events.parquet`` file -> one micro-batch) or a directory of
    time-ordered event files; ``max_files_per_trigger=1`` then replays
    them as genuine incremental micro-batches (state crosses batches).
    """
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.exists(path):          # driver layout: one file in sf_dir
        schema = spark.read.parquet(path).schema
        reader = (spark.readStream.schema(schema)
                  .option("pathGlobFilter", "events.parquet"))
    else:                             # directory of event part-files
        schema = spark.read.parquet(sf_dir).schema
        reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(sf_dir)


def _run_to_memory(agg: DataFrame, mode: str) -> DataFrame:
    name = "t" + uuid.uuid4().hex
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return agg.sparkSession.table(name)


def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window hourly counts with batch-identical results."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("value").alias("min_value"),
             F.max("value").alias("max_value"))
        .select(F.col("win.start").alias("hour"), "event_type",
                "n_events", "min_value", "max_value")
    )
    return _run_to_memory(agg, "complete")


def sessionize_stream(spark: SparkSession, sf_dir: str,
                      gap_minutes: int = 30,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Stateful streaming sessionization (``applyInPandasWithState``).

    Per-user state carries (last event epoch, session count, event
    count) across micro-batches; each batch's events extend or open
    sessions by the gap rule.  With ``Trigger.AvailableNow`` over the
    static events file the result equals :func:`sessionize_batch` — the
    batch operator is the oracle (tests/test_plans_streaming.py).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (LongType, StructField, StructType)

    gap = gap_minutes * 60
    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
    ])
    state_schema = StructType([
        StructField("last_ts", LongType()),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
    ])

    def update(key, pdf_iter, state):
        last_ts, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0))
        all_ts = []
        for pdf in pdf_iter:
            all_ts.extend(int(t.timestamp()) for t in pd.to_datetime(pdf["ts"]))
        for t in sorted(all_ts):
            if last_ts is None or t - last_ts > gap:
                n_sessions += 1
            last_ts = t
            n_events += 1
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame({"user_id": [key[0]],
                            "n_sessions": [n_sessions],
                            "n_events": [n_events]})

    ev = _events_stream(spark, sf_dir, max_files_per_trigger) \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .select("user_id", "ts", "event_id")
    agg = ev.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)
    return _run_to_memory(agg, "update")


def stream_dedup(spark: SparkSession, sf_dir: str,
                 watermark: str = "8760 hours",
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming exactly-once dedup: ``dropDuplicatesWithinWatermark``.

    Replays of the same event (at-least-once sources re-delivering
    within the watermark horizon) are emitted exactly once; the dedup
    state is keyed by ``event_id`` and expires with the watermark, so
    state size is bounded by the horizon's event volume — the
    production pattern for ingest dedup at scale.  Cross-micro-batch
    behaviour (duplicates arriving in LATER batches still suppressed)
    is exercised with ``max_files_per_trigger=1`` over a replayed file
    set in tests/test_plans_streaming.py.
    """
    ev = _events_stream(spark, sf_dir, max_files_per_trigger) \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .withWatermark("ts", watermark)
    dd = ev.dropDuplicatesWithinWatermark(["event_id"])
    return _run_to_memory(
        dd.select("event_id", "user_id", "event_type", "value"), "append")


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user: new session when idle > gap.

    lag + cumulative-sum over (user_id, ts, event_id) — the explicit
    total order makes session ids deterministic under any partitioning.
    Output: one row per user with session/event counts.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = gap_minutes * 60
    # NTZ timestamps cannot cast straight to long in Spark 4; go via
    # TIMESTAMP (session tz is pinned to UTC in session.get_spark).
    epoch = F.col("ts").cast("timestamp").cast("long")
    marked = events.withColumn(
        "new_s",
        F.when(epoch - F.lag(epoch, 1).over(w) > gap, 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_idx",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id")
        .agg((F.max("session_idx") + 1).alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
    )
