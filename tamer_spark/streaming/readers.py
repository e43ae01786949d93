"""Structured-Streaming-native pipelines.

Where the reference's driver loop pulls one batch at a time (its only
execution mode), Spark can run the same ingestion *as a stream*: file-source
discovery replaces the S3 polling fiber (S3Setup.scala:74-106 — new-object
detection is native), watermarks replace the ``lag`` guard
(db/package.scala:37-41), and the checkpoint log replaces the compacted
state topic. ``Trigger.AvailableNow`` gives the batch-like "drain what
exists, then stop" mode the engine loop uses for backfills.

This module holds the one copy of each streaming rule — file readers,
event-time windows (tumbling, hopping and session, one ``windowed_agg``),
bounded-state dedup and the AvailableNow drain into a memory table. The
graded gates ``streaming_window_aggs`` and ``streaming_row_gates``
(queries.py) build and drain their streams through it.

Scale notes: ``maxFilesPerTrigger`` bounds per-micro-batch work (the
``bufferSize`` backpressure analog, config.scala:104); watermark delay
bounds state size for windowed aggs — without it, 100 TB of late-data state
accumulates unboundedly.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_parquet(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window: Column,
    watermark: str = "10 minutes",
    keys: list | None = None,
    aggs: list | None = None,
) -> DataFrame:
    """Event-time window aggregation with a watermark, on a stream or a
    static frame alike.

    ``window`` is Spark's own window Column over ``ts_col``: tumbling
    ``F.window(ts, "1 hour")``, hopping ``F.window(ts, "1 hour", "30
    minutes")`` or gap-based ``F.session_window(ts, "30 minutes")``.
    ``keys`` are column names or Columns. The streaming analog of the
    reference's tumbling JDBC window (#10): the watermark is the ``lag``
    guard — events later than it are dropped instead of blocking progress.
    """
    aggs = aggs or [F.count(F.lit(1)).alias("n")]
    out = (
        df.withWatermark(ts_col, watermark)
        .groupBy(window.alias("window"), *(keys or []))
        .agg(*aggs)
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[c for c in out.columns if c != "window"],
    )


def stream_dedup_exact(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication — the streaming form of
    operators/dedup.dedup_exact.

    With ``ts_col``, uses ``dropDuplicatesWithinWatermark``: state for a key
    is held only until the watermark passes it, so dedup state is bounded by
    (arrival rate × watermark) instead of growing with the whole corpus —
    the only shape that survives an unbounded 100 TB stream. Without
    ``ts_col``, falls back to global ``dropDuplicates`` (state grows
    forever; only for bounded backfills).

    Deduplicate on a digest of the payload (e.g.
    ``F.md5(F.col("text")).alias("content_hash")`` projected beforehand) so
    state stores ~32 bytes per key, not the document.
    """
    if ts_col is None:
        return df.dropDuplicates(key_cols)
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


_MEMORY_SEQ = itertools.count()


def run_available_now_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Drain all currently-available input into an in-memory table and
    return that table as a static frame.

    No checkpoint: each call drains from the start, so this is for gates and
    tests that compare a stream with its batch run; a restartable drain
    gives ``writeStream`` a ``checkpointLocation``.
    """
    name = f"available_now_{next(_MEMORY_SEQ)}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)
