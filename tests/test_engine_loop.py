"""Engine-loop invariants ported from the reference test suite.

TamerSpec (core/src/test/scala/tamer/TamerSpec.scala:39-67): a synthetic
source counting 1..10 must produce each state exactly once, in order —
including across crash/restart (exactly-once with resume)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tamer_spark.engine import Pipeline, RetryPolicy, pin, unpin
from tamer_spark.errors import TamerError
from tamer_spark.sinks import MemorySink
from tamer_spark.state import fingerprint


class CountingSource:
    """state = int cursor; iteration emits one row (i, i) for i = state+1,
    up to ``limit`` — the TamerSpec fixture."""

    def __init__(self, limit=10):
        self.limit = limit

    def initial_state(self):
        return 0

    def state_fingerprint(self):
        return fingerprint("counting-source", self.limit, 0)

    def iteration(self, state, spark):
        if state >= self.limit:
            return None, state
        i = state + 1
        return spark.createDataFrame([(i, i)], "key int, value int"), i


def test_counts_1_to_10_exactly_once_in_order(spark, tmp_path):
    sink = MemorySink()
    pipe = Pipeline(CountingSource(), sink, str(tmp_path / "cp"))
    final = pipe.run(spark, until=lambda s: s >= 10)
    assert final == 10
    assert [r.key for r in sink.rows] == list(range(1, 11))


def test_crash_resume_no_dupes_no_loss(spark, tmp_path):
    """Kill the pipeline mid-run (sink write fails hard), restart with a new
    Pipeline over the same checkpoint: every record still exactly once."""
    sink = MemorySink(fail_on_epochs={5})
    pipe = Pipeline(
        CountingSource(), sink, str(tmp_path / "cp"), retry=RetryPolicy(retries=1, base_delay_s=0.0)
    )
    with pytest.raises(TamerError):
        pipe.run(spark, until=lambda s: s >= 10)
    # simulate restart: fresh sink failure config, same checkpoint
    sink.fail_on_epochs = set()
    final = Pipeline(CountingSource(), sink, str(tmp_path / "cp")).run(
        spark, until=lambda s: s >= 10
    )
    assert final == 10
    assert sorted(r.key for r in sink.rows) == list(range(1, 11))


def test_transient_sink_failure_is_retried(spark, tmp_path):
    sink = MemorySink(fail_once_on_epochs={2})
    pipe = Pipeline(
        CountingSource(), sink, str(tmp_path / "cp"), retry=RetryPolicy(retries=3, base_delay_s=0.0)
    )
    assert pipe.run(spark, until=lambda s: s >= 10) == 10
    assert [r.key for r in sink.rows] == list(range(1, 11))


def test_replayed_epoch_is_idempotent(spark, tmp_path):
    """Crash AFTER sink write but BEFORE state commit → epoch replays; sink
    must converge to the same content (overwrite semantics)."""
    sink = MemorySink()
    pipe = Pipeline(CountingSource(), sink, str(tmp_path / "cp"))
    pipe.run(spark, max_iterations=3)
    # simulate losing the last state commit: roll the checkpoint back one epoch
    store = pipe._store()
    doc = store.load()
    store.commit(doc.epoch - 1, doc.state - 1)
    Pipeline(CountingSource(), sink, str(tmp_path / "cp")).run(spark, until=lambda s: s >= 10)
    assert sorted(r.key for r in sink.rows) == list(range(1, 11))


def test_source_plan_executes_once_per_epoch(spark, tmp_path):
    """The engine pins each batch (persist) so the live source plan runs
    EXACTLY once per epoch — the row count materializes the cache and the
    sink write reads cached blocks. An accumulator inside the source plan
    counts actual evaluations."""
    sc = spark.sparkContext
    acc = sc.accumulator(0)

    class InstrumentedSource(CountingSource):
        def iteration(self, state, spark_):
            if state >= self.limit:
                return None, state
            i = state + 1

            def part(rows):
                acc.add(1)
                return rows

            rdd = sc.parallelize([(i, i)], 1).mapPartitions(part)
            return spark_.createDataFrame(rdd, "key int, value int"), i

    sink = MemorySink()
    Pipeline(InstrumentedSource(limit=5), sink, str(tmp_path / "cp")).run(
        spark, until=lambda s: s >= 5
    )
    assert [r.key for r in sink.rows] == [1, 2, 3, 4, 5]
    assert acc.value == 5, f"source plan executed {acc.value} times across 5 epochs"


def test_no_cached_batches_left_after_run(spark, tmp_path):
    """The epoch persist is released in a finally — a finished run leaves no
    cached RDD storage behind (long-lived drivers must not accumulate).

    The session is shared across the suite and other operators release their
    caches via GC finalizers, so assert against a pre-run snapshot: the run
    must not add any persisted RDD of its own.
    """

    def persisted_ids():
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
        return {it.next() for _ in range(spark.sparkContext._jsc.sc().getPersistentRDDs().size())}

    before = persisted_ids()
    sink = MemorySink()
    Pipeline(CountingSource(limit=3), sink, str(tmp_path / "cp")).run(
        spark, until=lambda s: s >= 3
    )
    leaked = persisted_ids() - before
    assert not leaked, f"run leaked cached RDD ids: {leaked}"


def _jobs_in(spark, group, action):
    """Run ``action`` under job group ``group``; return (result, jobs run)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pin_is_one_job_and_idempotent_per_object(spark):
    """pin fills the cache and observes rows + caller aggregates in ONE job;
    pinning the same object again returns the recorded row with no job."""
    df = spark.range(50).withColumn("k", F.col("id") % 7)
    first, jobs = _jobs_in(spark, "pin-first", lambda: pin(df, mx=F.max("k"), s=F.sum("id")))
    assert (first, jobs) == ({"rows": 50, "mx": 6, "s": 1225}, 1)
    again, jobs = _jobs_in(spark, "pin-again", lambda: pin(df))
    assert (again, jobs) == (first, 0)
    assert df.storageLevel.useMemory and df.storageLevel.useDisk
    unpin(df)
    assert not df.storageLevel.useMemory
    # after unpin the record is gone: a new pin runs its pass again
    _, jobs = _jobs_in(spark, "pin-repin", lambda: pin(df))
    assert jobs == 1
    unpin(df)


def test_pin_empty_batch_observes_zero_rows_and_null_aggregates(spark):
    empty = spark.createDataFrame([], "id long, ts timestamp")
    try:
        assert pin(empty, mx=F.max("ts"), s=F.sum("id")) == {"rows": 0, "mx": None, "s": None}
    finally:
        unpin(empty)


def test_idle_poll_backs_off_exponentially(spark, tmp_path):
    """No-progress iterations sleep with exponential backoff capped at
    poll_max_s, resetting on progress (reference S3 poll schedule,
    S3Setup.scala:74-77)."""
    sleeps = []

    class DrainedSource(CountingSource):
        def iteration(self, state, spark_):
            if state >= 2:
                return None, state  # drained: no progress
            i = state + 1
            return spark_.createDataFrame([(i, i)], "key int, value int"), i

    pipe = Pipeline(
        DrainedSource(limit=2),
        MemorySink(),
        str(tmp_path / "cp"),
        poll_interval_s=0.01,
        poll_max_s=0.04,
        sleep_fn=sleeps.append,
    )
    pipe.run(spark, max_iterations=7)  # 2 productive + 5 idle
    assert sleeps == [0.01, 0.02, 0.04, 0.04, 0.04]


def test_run_until_drained_stops_after_idle(spark, tmp_path):
    sink = MemorySink()
    pipe = Pipeline(
        CountingSource(limit=4), sink, str(tmp_path / "cp"), poll_interval_s=0.0
    )

    class Drainable(CountingSource):
        def iteration(self, state, spark_):
            if state >= self.limit:
                return None, state
            i = state + 1
            return spark_.createDataFrame([(i, i)], "key int, value int"), i

    pipe.source = Drainable(limit=4)
    final = pipe.run_until_drained(spark, idle_iterations=2)
    assert final == 4
    assert [r.key for r in sink.rows] == [1, 2, 3, 4]
