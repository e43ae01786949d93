"""Engine-loop invariants ported from the reference test suite.

TamerSpec (core/src/test/scala/tamer/TamerSpec.scala:39-67): a synthetic
source counting 1..10 must produce each state exactly once, in order —
including across crash/restart (exactly-once with resume)."""

from __future__ import annotations

import re
import threading
import time

import pytest
from pyspark.sql import functions as F

from tamer_spark.engine import Pipeline, RetryPolicy, pin, unpin
from tamer_spark.errors import TamerError
from tamer_spark.sinks import MemorySink
from tamer_spark.state import fingerprint
from tests.conftest import COMMIT_STEPS, CacheWatch, Crash, crash_commit


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


class RecordingSource(CountingSource):
    """CountingSource that records the state of every iteration call."""

    def __init__(self, limit=10):
        super().__init__(limit)
        self.calls = []

    def iteration(self, state, spark):
        self.calls.append(state)
        return super().iteration(state, spark)


def test_counts_1_to_10_exactly_once_in_order(spark, tmp_path):
    sink = MemorySink()
    pipe = Pipeline(CountingSource(), sink, str(tmp_path / "cp"))
    final = pipe.run(spark, until=lambda s: s >= 10)
    assert final == 10
    assert [r.key for r in sink.rows] == list(range(1, 11))


def test_crash_resume_no_dupes_no_loss(spark, tmp_path):
    """Kill the pipeline mid-run (sink write fails hard), restart with a new
    Pipeline over the same checkpoint: every record still exactly once.

    The failing epoch's successor was already read ahead and pinned; the
    failure discards it unwritten, so the state stays at the failed epoch
    and no cached batch is left behind."""
    source = RecordingSource()
    cache = CacheWatch(spark)
    sink = MemorySink(fail_on_epochs={5})
    pipe = Pipeline(
        source, sink, str(tmp_path / "cp"), retry=RetryPolicy(retries=1, base_delay_s=0.0)
    )
    with pytest.raises(TamerError):
        pipe.run(spark, until=lambda s: s >= 10)
    assert source.calls == [0, 1, 2, 3, 4, 5, 6]  # 6 = the discarded read-ahead
    doc = pipe._store().load()
    assert (doc.epoch, doc.state) == (5, 5)
    assert [r.key for r in sink.rows] == [1, 2, 3, 4, 5]
    leaked = cache.added()
    assert not leaked, f"failed run leaked caches: {leaked}"
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

    cache = CacheWatch(spark)
    sink = MemorySink()
    Pipeline(CountingSource(limit=3), sink, str(tmp_path / "cp")).run(
        spark, until=lambda s: s >= 3
    )
    leaked = cache.added()
    assert not leaked, f"run leaked caches: {leaked}"


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


def test_pin_whose_pass_fails_releases_the_frame(spark):
    """A source that pins its batch need not release it when the pin fails:
    pin has already unpersisted the frame when it raises."""
    df = spark.range(5).select(
        F.when(F.col("id") == 3, F.raise_error(F.lit("pin pass fails"))).otherwise(F.col("id")).alias("id")
    )
    with pytest.raises(Exception, match="pin pass fails"):
        pin(df)
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


def test_pin_whose_observation_fails_releases_the_frame(spark):
    """An aggregate that fails analysis fails the pin before its pass runs;
    the frame is released all the same."""
    df = spark.range(5)
    with pytest.raises(Exception, match="no_such_column"):
        pin(df, bad=F.max("no_such_column"))
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


def test_cache_watch_sees_a_frame_marked_but_never_run(spark):
    """The leak check counts CacheManager entries as well as RDDs: a frame
    that persist() marked but no action filled has no RDD yet."""
    cache = CacheWatch(spark)
    df = spark.range(3).persist()
    try:
        assert cache.added() == {"cache_entries": 1}
    finally:
        df.unpersist()
    assert not cache.added()


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


def test_next_iteration_overlaps_the_current_write(spark, tmp_path):
    """Epoch N's sink write waits until iteration(S_{N+1}) has started: the
    serial loop would time out here; the read-ahead loop runs both at once.
    The last epoch reads nothing ahead (max_iterations stops the loop)."""
    started = {s: threading.Event() for s in range(5)}
    overlapped = []

    class Signalling(CountingSource):
        def iteration(self, state, spark_):
            started[state].set()
            return super().iteration(state, spark_)

    class WaitingSink(MemorySink):
        def write(self, df, epoch):
            if epoch < 3:
                overlapped.append(started[epoch + 1].wait(timeout=60))
            super().write(df, epoch)

    sink = WaitingSink()
    Pipeline(Signalling(), sink, str(tmp_path / "cp")).run(spark, max_iterations=4)
    assert overlapped == [True, True, True]
    assert [r.key for r in sink.rows] == [1, 2, 3, 4]
    assert not started[4].is_set()


@pytest.mark.parametrize(
    "stop", [{"max_iterations": 4}, {"until": lambda s: s >= 4}], ids=["max_iterations", "until"]
)
def test_iteration_runs_once_per_epoch(spark, tmp_path, stop):
    """Reading ahead never calls the source for an epoch that will not run:
    under max_iterations or a pure until, one iteration per epoch."""
    source = RecordingSource()
    sink = MemorySink()
    assert Pipeline(source, sink, str(tmp_path / "cp")).run(spark, **stop) == 4
    assert source.calls == [0, 1, 2, 3]
    assert [r.key for r in sink.rows] == [1, 2, 3, 4]


def test_read_ahead_error_surfaces_after_the_previous_commit(spark, tmp_path):
    """An iteration that raises on the read-ahead thread raises from run()
    only after the epoch it overlapped was written, committed and observed
    — where the serial loop would have raised it."""
    loop_thread = threading.current_thread()
    raised_on = []
    seen = []

    class Failing(CountingSource):
        def iteration(self, state, spark_):
            if state == 3:
                raised_on.append(threading.current_thread())
                raise ValueError("source down")
            return super().iteration(state, spark_)

    sink = MemorySink()
    pipe = Pipeline(Failing(), sink, str(tmp_path / "cp"), observer=lambda m: seen.append(m.epoch))
    with pytest.raises(ValueError, match="source down"):
        pipe.run(spark, until=lambda s: s >= 10)
    assert raised_on and raised_on[0] is not loop_thread
    assert seen == [0, 1, 2]
    doc = pipe._store().load()
    assert (doc.epoch, doc.state) == (3, 3)
    assert [r.key for r in sink.rows] == [1, 2, 3]


def test_retry_backoff_sleeps_through_sleep_fn(spark, tmp_path):
    """Sink retries back off through the injectable sleep_fn, like idle
    polling: exponential from base_delay_s, capped at max_delay_s."""
    sleeps = []
    pipe = Pipeline(
        CountingSource(),
        MemorySink(fail_on_epochs={1}),
        str(tmp_path / "cp"),
        retry=RetryPolicy(retries=3, base_delay_s=0.25, max_delay_s=0.5),
        sleep_fn=sleeps.append,
    )
    with pytest.raises(TamerError):
        pipe.run(spark, max_iterations=3)
    assert sleeps == [0.25, 0.5, 0.5]


def test_run_until_drained_leaves_no_cached_batch(spark, tmp_path):
    """A drained source that still advances its state and returns EMPTY
    DataFrames (not None) keeps the loop reading ahead; the idle-count stop
    only shows after the observer, so the last read-ahead batch is pinned
    and must be discarded unwritten."""

    class Sliding(CountingSource):
        def iteration(self, state, spark_):
            rows = [(state + 1, state + 1)] if state < self.limit else []
            return spark_.createDataFrame(rows, "key int, value int"), state + 1

    cache = CacheWatch(spark)
    sink = MemorySink()
    pipe = Pipeline(Sliding(limit=3), sink, str(tmp_path / "cp"), poll_interval_s=0.0)
    assert pipe.run_until_drained(spark, idle_iterations=2) == 5
    assert [r.key for r in sink.rows] == [1, 2, 3]
    leaked = cache.added()
    assert not leaked, f"drain leaked caches: {leaked}"


# --- write-ahead: commit-gated sinks --------------------------------------


class GatedSink(MemorySink):
    """A fake commit-gated sink: MemorySink plus the write-ahead opt-in,
    recording each ``drop_uncommitted`` call and the write/observe order."""

    def __init__(self, **kw):
        super().__init__(**kw)
        self.dropped = []
        self.log = []
        self.lock = threading.Lock()

    def drop_uncommitted(self, spark, epoch):
        self.dropped.append(epoch)
        for e in [e for e in self.epochs if e >= epoch]:
            del self.epochs[e]

    def note(self, *event):
        with self.lock:
            self.log.append(event)


def test_write_ahead_overlaps_writes_and_commits_in_order(spark, tmp_path):
    """A commit-gated sink's write of epoch N+1 starts before commit N: the
    write of N waits until write N+1 has begun (the in-order schedule would
    time out here). Commits and observers still run in epoch order, each
    after its own write, and at most two writes are in flight."""
    started = {e: threading.Event() for e in range(6)}
    in_flight, peak = [], []

    class Overlapping(GatedSink):
        def write(self, df, epoch):
            self.note("write", epoch)
            started[epoch].set()
            with self.lock:
                in_flight.append(epoch)
                peak.append(len(in_flight))
            try:
                if epoch < 4:
                    self.note("overlapped", epoch, started[epoch + 1].wait(timeout=60))
                super().write(df, epoch)
            finally:
                with self.lock:
                    in_flight.remove(epoch)
            self.note("written", epoch)

    sink = Overlapping()
    store_epochs = []
    pipe = Pipeline(CountingSource(), sink, str(tmp_path / "cp"))

    def observer(m):
        store_epochs.append(pipe._store().load().epoch)
        sink.note("observe", m.epoch)

    pipe.observer = observer
    assert pipe.run(spark, max_iterations=5) == 5
    assert sink.dropped == [0] and max(peak) == 2
    assert [e for ev, e, *rest in sink.log if ev == "overlapped" and rest == [True]] == [0, 1, 2, 3]
    observed = [e for ev, e, *_ in sink.log if ev == "observe"]
    assert observed == [0, 1, 2, 3, 4] and store_epochs == [1, 2, 3, 4, 5]
    for e in observed:
        assert sink.log.index(("written", e)) < sink.log.index(("observe", e))
    assert [r.key for r in sink.rows] == [1, 2, 3, 4, 5]


def test_committed_reader_never_sees_an_in_flight_epoch(spark, tmp_path):
    """While epoch 1 is being written ahead of commit 0, a reader bounded by
    the committed epoch sees nothing of it; after the run, everything."""
    from tamer_spark.sinks import ParquetEpochSink

    seen = []
    pipe = None

    class Reading(ParquetEpochSink):
        def write(self, df, epoch):
            super().write(df, epoch)
            if epoch == 1:  # written, not committed: the loop may be anywhere
                committed = pipe._store().load().epoch
                seen.append((committed, sorted(r.key for r in self.read(spark, before=committed).collect())))

    sink = Reading(str(tmp_path / "out"))
    pipe = Pipeline(CountingSource(), sink, str(tmp_path / "cp"))
    pipe.run(spark, max_iterations=3)
    (committed, keys), = seen
    assert committed <= 1 and keys == list(range(1, committed + 1))
    assert sorted(r.key for r in sink.read(spark, before=3).collect()) == [1, 2, 3]


def test_write_ahead_failure_raises_after_the_previous_commit(spark, tmp_path):
    """A write of epoch N+1 that fails permanently while epoch N is still
    writing raises only after commit N: the state stays at N+1, nothing
    after it runs, and no cached batch is left behind."""
    attempts = threading.Semaphore(0)
    seen = []

    class Failing(GatedSink):
        def write(self, df, epoch):
            if epoch == 3:
                attempts.release()
                raise RuntimeError("injected permanent failure at epoch 3")
            if epoch == 2:  # hold write 2 until write 3 has failed for good
                for _ in range(2):
                    assert attempts.acquire(timeout=60)
            super().write(df, epoch)

    cache = CacheWatch(spark)
    source = RecordingSource()
    sink = Failing()
    pipe = Pipeline(
        source, sink, str(tmp_path / "cp"),
        retry=RetryPolicy(retries=1, base_delay_s=0.0),
        observer=lambda m: seen.append(m.epoch),
    )
    with pytest.raises(TamerError):
        pipe.run(spark, until=lambda s: s >= 10)
    assert seen == [0, 1, 2]
    doc = pipe._store().load()
    assert (doc.epoch, doc.state) == (3, 3)
    assert [r.key for r in sink.rows] == [1, 2, 3]
    assert max(source.calls) <= 4  # the chain stopped at the failed epoch
    leaked = cache.added()
    assert not leaked, f"failed run leaked caches: {leaked}"


class ScriptedSource(CountingSource):
    """state = int cursor; ``batches[state]`` is the key list of that
    state's batch (an empty list gives an empty DataFrame)."""

    def __init__(self, batches):
        super().__init__(limit=len(batches))
        self.batches = batches

    def iteration(self, state, spark):
        if state >= self.limit:
            return None, state
        return spark.createDataFrame([(k, state) for k in self.batches[state]], "key int, value int"), state + 1


def test_empty_replay_leaves_no_stale_epoch_written_ahead(spark, tmp_path):
    """Run 1 writes epoch 3 ahead, then fails on epoch 2 for good. Run 2
    replays epoch 3 as an EMPTY batch, which the loop never writes: only the
    start-of-run drop keeps run 1's rows of epoch 3 from showing among the
    committed epochs. No cached batch is left behind by either run."""
    from tamer_spark.sinks import ParquetEpochSink

    wrote_3 = threading.Event()

    class FailingOnce(ParquetEpochSink):
        fail = True

        def write(self, df, epoch):
            if epoch == 2 and self.fail:
                assert wrote_3.wait(timeout=60)
                raise RuntimeError("injected failure at epoch 2")
            super().write(df, epoch)
            if epoch == 3:
                wrote_3.set()

    cache = CacheWatch(spark)
    out = str(tmp_path / "out")
    sink = FailingOnce(out)
    run1 = Pipeline(
        ScriptedSource([[1], [2], [3], [40, 41], [5]]), sink, str(tmp_path / "cp"),
        retry=RetryPolicy(retries=0),
    )
    with pytest.raises(TamerError):
        run1.run(spark, until=lambda s: s >= 5)
    assert run1._store().load().epoch == 2
    assert sorted(r.key for r in sink.read(spark).where("epoch = 3").collect()) == [40, 41]
    sink.fail = False
    run2 = Pipeline(ScriptedSource([[1], [2], [3], [], [5]]), sink, str(tmp_path / "cp"))
    assert run2.run(spark, until=lambda s: s >= 5) == 5
    committed = run2._store().load().epoch
    assert committed == 5
    assert sorted(r.key for r in sink.read(spark, before=committed).collect()) == [1, 2, 3, 5]
    leaked = cache.added()
    assert not leaked, f"runs leaked caches: {leaked}"


def test_ordinary_sink_is_never_written_before_the_previous_commit(spark, tmp_path):
    """Without the opt-in the write of epoch N starts only once epoch N-1
    is committed, even though the source chain reads ahead."""
    at_write = {}
    pipe = None

    class Recording(MemorySink):
        def write(self, df, epoch):
            at_write[epoch] = pipe._store().load().epoch
            super().write(df, epoch)

    sink = Recording()
    pipe = Pipeline(CountingSource(), sink, str(tmp_path / "cp"))
    pipe.run(spark, until=lambda s: s >= 6)
    assert at_write == {e: e for e in range(6)}


# --- the steps run ahead: thread pool, context, waiting -------------------


def test_waiting_on_a_step_run_ahead_burns_no_cpu(spark, tmp_path):
    """While the head epoch's write blocks on a worker, the loop thread
    sleeps until some step finishes: the process's CPU time over a 1 s
    block stays far below 1 s. (Waiting on a set that holds a finished
    step returns at once, so the loop would spin for the whole block.)"""
    cpu = []

    class Blocking(GatedSink):
        def write(self, df, epoch):
            if epoch == 0:
                t0 = time.process_time()
                time.sleep(1.0)
                cpu.append(time.process_time() - t0)
            super().write(df, epoch)

    sink = Blocking()
    Pipeline(CountingSource(), sink, str(tmp_path / "cp")).run(spark, max_iterations=3)
    assert [r.key for r in sink.rows] == [1, 2, 3]
    assert len(cpu) == 1 and cpu[0] < 0.3, f"{cpu[0]:.2f} s of CPU while blocked 1 s"


def _connection_threads(spark):
    """JVM threads serving a py4j connection: one per Python thread that
    has called into the JVM and is still alive. Spark names its own threads
    (its block-manager pools grow with every unpersist, up to 100 each);
    py4j leaves the JVM's default ``Thread-N``."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    names = [i.getThreadName() for i in mx.getThreadInfo(mx.getAllThreadIds()) if i is not None]
    return sum(re.fullmatch(r"Thread-\d+", n) is not None for n in names)


@pytest.mark.parametrize("sink", [MemorySink, GatedSink], ids=["ordinary", "write_ahead"])
def test_runs_leave_no_threads_behind(spark, tmp_path, sink):
    """Each run's workers stop with it: across 40 runs the Python thread
    count and the JVM's py4j connection threads stay within a small
    constant (a leak would add one, or three, per run)."""

    def runs(n, name):
        for i in range(n):
            Pipeline(CountingSource(limit=2), sink(), str(tmp_path / f"{name}{i}")).run(spark, max_iterations=2)

    runs(3, "warm")
    py_before, jvm_before = threading.active_count(), _connection_threads(spark)
    runs(40, "run")
    assert threading.active_count() - py_before <= 2
    assert _connection_threads(spark) - jvm_before <= 4


def _job_tags(spark, group):
    """The job tags of every job of job group ``group``, one set per job."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None).iterator()
    out = []
    while jobs.hasNext():
        j = jobs.next()
        if j.jobGroup().isDefined() and j.jobGroup().get() == group:
            tags = j.jobTags().iterator()
            out.append({tags.next() for _ in range(j.jobTags().size())})
    return out


def test_steps_run_ahead_carry_the_callers_job_group_and_tags(spark, tmp_path):
    """A job group and a session tag set on the thread that calls run()
    reach every job of the run, those of the reads and writes run ahead on
    the pool included: 3 epochs, each one pin and one sink collect."""
    loop_thread = threading.current_thread()
    ahead = []

    class Noting(CountingSource):
        def iteration(self, state, spark_):
            if threading.current_thread() is not loop_thread:
                ahead.append(state)
            return super().iteration(state, spark_)

    sc = spark.sparkContext
    group, tag = f"steps-{tmp_path.name}", f"tamer-steps-{tmp_path.name}"
    sc.setJobGroup(group, group)
    spark.addTag(tag)
    try:
        Pipeline(Noting(), GatedSink(), str(tmp_path / "cp")).run(spark, max_iterations=3)
    finally:
        spark.removeTag(tag)
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert ahead == [1, 2]
    tagged = [any(t.endswith(f"-{tag}") for t in tags) for tags in _job_tags(spark, group)]
    assert tagged == [True] * 6


# --- crash-point matrix ---------------------------------------------------

#: where in epoch CRASH_EPOCH the process dies
CRASH_POINTS = (
    "iteration",
    "pin",
    "write_before_files",
    "write_after_files",
    "between_write_and_commit",
    *(f"commit_{step}" for step in COMMIT_STEPS),
    "observer",
)
CRASH_EPOCH = 3


def _matrix_sink(kind, tmp_path):
    """The shipped sink of ``kind`` and a reader of the keys it delivered."""
    from tamer_spark.operators.rollup import ContinuousRollup, rollup_sink
    from tamer_spark.sinks import ParquetEpochSink

    if kind == "ordinary":
        sink = MemorySink()
        return sink, lambda spark, limit: [r.key for r in sink.rows]
    if kind == "write_ahead":
        sink = ParquetEpochSink(str(tmp_path / "out"))
        return sink, lambda spark, limit: sorted(r.key for r in sink.read(spark, before=limit).collect())
    if kind == "rollup":
        rollup = ContinuousRollup(str(tmp_path / "rollup"), ["key"], ["n"])
        sink = rollup_sink(rollup, lambda df: df.groupBy("key").agg(F.count(F.lit(1)).alias("n")))
        return sink, lambda spark, limit: sorted(r.key for r in rollup.read(spark).collect() for _ in range(r.n))
    # the transactional Kafka sink, against test_kafka_sink's file-backed
    # fake broker (its producers run in executor tasks)
    from tests.test_kafka_sink import FileBroker, _txn_sink

    broker = FileBroker(tmp_path / "broker")
    kafka = _txn_sink(broker)

    class Records:
        def write(self, df, epoch):
            kafka.write(df.selectExpr(*(f"CAST(CAST({c} AS STRING) AS BINARY) AS {c}" for c in ("key", "value"))), epoch)

    return Records(), lambda spark, limit: sorted(int(k) for k, _ in broker.committed.get("t", []))


@pytest.mark.parametrize("sink_kind", ["ordinary", "write_ahead", "rollup", "kafka"])
@pytest.mark.parametrize("point", CRASH_POINTS)
def test_crash_anywhere_resumes_to_exactly_once(spark, tmp_path, monkeypatch, point, sink_kind):
    """The process dies at one step of epoch 3 — its iteration, the pin of
    its batch, its sink write before or after the files land, between the
    write and the commit, each step of the state commit, the observer —
    while the next epoch is read ahead (and, for a write-ahead
    ``ParquetEpochSink``, may already be written). A fresh Pipeline over
    the same checkpoint drains to every record exactly once, and neither
    run leaves a cached batch behind. The matrix runs the ``MemorySink``
    test sink, ``ParquetEpochSink``, ``rollup_sink`` and
    ``TransactionalKafkaSink``."""
    import tamer_spark.engine as engine_mod
    from tamer_spark.state import StateStore

    k, limit = CRASH_EPOCH, 6
    fired, made = [], []  # made: (state, batch) of every iteration of both runs

    def crash(where):
        if where == point and not fired:
            fired.append(where)
            raise Crash(f"injected crash: {where}")

    class Source(RecordingSource):
        def iteration(self, state, spark_):
            if state == k:
                crash("iteration")
            df, nxt = super().iteration(state, spark_)
            made.append((state, df))
            return df, nxt

    inner, delivered = _matrix_sink(sink_kind, tmp_path)

    class Sink:
        def write(self, df, epoch):
            if epoch == k:
                crash("write_before_files")
            inner.write(df, epoch)
            if epoch == k:
                crash("write_after_files")

        def __getattr__(self, name):  # drop_uncommitted: write-ahead or not
            return getattr(inner, name)

    real_observed, real_commit = engine_mod.observed, StateStore.commit

    def observed(df, *a, **kw):
        if any(b is df for s, b in made if s == k):
            crash("pin")
        return real_observed(df, *a, **kw)

    def commit(self, epoch, new_state):
        if epoch == k + 1:
            crash("between_write_and_commit")
        return real_commit(self, epoch, new_state)

    monkeypatch.setattr(engine_mod, "observed", observed)
    monkeypatch.setattr(StateStore, "commit", commit)
    if point.startswith("commit_"):
        # commit 1 initializes the checkpoint; epoch e's commit is e + 2
        crash_commit(monkeypatch, point[len("commit_"):], at=k + 2)

    cache = CacheWatch(spark)
    source, cp, sink = Source(limit), str(tmp_path / "cp"), Sink()

    def run():
        pipe = Pipeline(source, sink, cp, observer=lambda m: m.epoch == k and crash("observer"))
        return pipe.run(spark, until=lambda s: s >= limit), pipe._store().load().epoch

    with pytest.raises(Crash) as died:
        run()
    if point.startswith("commit_"):
        assert str(died.value) == f"injected crash in the {point[len('commit_'):]}"
    else:
        assert fired == [point]
    committed = StateStore(cp, source.state_fingerprint()).load().epoch
    assert committed == (k + 1 if point in ("commit_dir_fsync", "observer") else k)
    if point not in ("iteration", "pin"):
        assert k + 1 in source.calls  # the next epoch was read ahead
    assert not cache.added(), cache.added()
    assert run() == (limit, limit)
    assert not cache.added(), cache.added()
    assert delivered(spark, limit) == list(range(1, limit + 1))
