"""Commit-gated reads of epoch-partitioned outputs: ``sinks.epoch_frames``,
``ParquetEpochSink.read(before=...)``, and the curation example's gate sink
that reads its own history through them."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

from tamer_spark.engine import Pipeline, RetryPolicy
from tamer_spark.plans import plan_shape
from tamer_spark.sinks import ParquetEpochSink, epoch_frames

REPO = Path(__file__).resolve().parent.parent


def _jobs_during(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_epoch_frames_reads_strictly_earlier_epochs(spark, tmp_path):
    sink = ParquetEpochSink(str(tmp_path / "out"))
    for e in range(3):
        sink.write(spark.createDataFrame([(e, f"v{e}")], "k long, v string"), e)
    got = {(r.k, r.epoch) for r in epoch_frames(spark, sink.path, "k long, v string", before=2).collect()}
    assert got == {(0, 0), (1, 1)}
    assert {r.epoch for r in sink.read(spark).collect()} == {0, 1, 2}
    assert {r.epoch for r in sink.read(spark, before=1).collect()} == {0}


def test_epoch_frames_with_a_schema_runs_no_inference_job(spark, tmp_path):
    sink = ParquetEpochSink(str(tmp_path / "out"))
    sink.write(spark.createDataFrame([(1, "a")], "k long, v string"), 0)
    df, jobs = _jobs_during(
        spark, f"epoch-frames-{tmp_path.name}", lambda: epoch_frames(spark, sink.path, "k long, v string")
    )
    assert jobs == 0
    assert df.columns == ["k", "v", "epoch"]


def test_epoch_frames_is_empty_without_earlier_epochs(spark, tmp_path):
    missing = epoch_frames(spark, str(tmp_path / "nothing"), "k long")
    assert missing.collect() == [] and missing.columns == ["k", "epoch"]
    sink = ParquetEpochSink(str(tmp_path / "out"))
    sink.write(spark.createDataFrame([(1,)], "k long"), 0)
    assert epoch_frames(spark, sink.path, "k long", before=0).collect() == []


def test_drop_uncommitted_removes_every_later_epoch(spark, tmp_path):
    sink = ParquetEpochSink(str(tmp_path / "out"))
    for e in range(4):
        sink.write(spark.createDataFrame([(e,)], "k long"), e)
    sink.drop_uncommitted(spark, 2)
    assert {r.epoch for r in sink.read(spark).collect()} == {0, 1}
    sink.drop_uncommitted(spark, 5)  # nothing at or after 5: a no-op
    assert {r.epoch for r in sink.read(spark).collect()} == {0, 1}


def test_a_non_decimal_epoch_dir_is_not_an_epoch(spark, tmp_path):
    """``epoch=²``: ``'²'.isdigit()`` is True but ``int('²')`` raises, so
    one such dir broke every read and drop of the sink's epochs."""
    sink = ParquetEpochSink(str(tmp_path / "out"))
    for e in range(2):
        sink.write(spark.createDataFrame([(e,)], "k long"), e)
    (tmp_path / "out" / "epoch=²").mkdir()
    assert {r.epoch for r in epoch_frames(spark, sink.path, "k long").collect()} == {0, 1}
    sink.drop_uncommitted(spark, 1)
    assert {r.epoch for r in sink.read(spark).collect()} == {0}
    assert (tmp_path / "out" / "epoch=²").is_dir()


def test_curation_gate_retry_keeps_every_survivor(spark):
    """The curation example's gate sink fails once after writing its
    survivors, digest index and posting list; the engine retries the epoch.
    Its history reads stop before the epoch being written, so the retry
    does not gate the batch against its own digests and keeps every
    survivor of the first attempt."""
    sys.path.insert(0, str(REPO / "examples"))
    ex = importlib.import_module("incremental_curation_epochs")
    first = {}

    class FailOnceAfterIndex(ex.CurationSink):
        def write(self, df, epoch):
            super().write(df, epoch)
            if not first:
                first.update(self.stats[epoch])
                raise RuntimeError("injected failure after the index write")

    sink = FailOnceAfterIndex()
    pipe = Pipeline(ex.CrawlSource(), sink, str(ex.ws / "retry-checkpoint"), retry=RetryPolicy(retries=1))
    pipe.run(spark, max_iterations=1)
    assert first["out"] > 0
    assert sink.stats[0] == first
    assert spark.read.parquet(str(ex.CURATED / "epoch=0")).count() == first["out"]
    assert spark.read.parquet(str(ex.INDEX / "epoch=0")).count() == first["out"]


def test_an_empty_epoch_frame_scans_no_python_rdd(spark, tmp_path):
    """With no epoch to read, the frame is planned on the JVM side: a join
    of a cached batch against it scans no Python RDD (``Scan ExistingRDD``
    has no size statistics, so the join would shuffle both sides)."""
    batch = spark.range(100).selectExpr("id AS k", "CAST(id AS STRING) AS v").cache()
    try:
        empty = epoch_frames(spark, str(tmp_path / "out"), "k long, v string", before=0)
        assert empty.dtypes == [("k", "bigint"), ("v", "string"), ("epoch", "int")]
        joined = batch.join(empty, "k", "left_anti")
        assert plan_shape(joined).count("Scan ExistingRDD") == 0
        assert joined.count() == 100
    finally:
        batch.unpersist()
