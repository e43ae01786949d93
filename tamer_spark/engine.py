"""The engine loop: stateful, incremental, exactly-once micro-batch ingestion.

This is the Spark re-expression of the reference runtime
(core/src/main/scala/tamer/Tamer.scala):

- ``Source`` plays the role of ``Setup`` (core/src/main/scala/tamer/Setup.scala:26-34):
  an initial state, a stable fingerprint, and an ``iteration`` that turns the
  current state into one batch of data (a DataFrame — the analog of the
  ``NonEmptyChunk[Record[K,V]]`` queue) plus the next state.
- ``Sink.write(df, epoch)`` is the transactional produce (Tamer.scala:64-87);
  sinks must be **idempotent per epoch** — re-writing the same epoch after a
  crash must not duplicate data. File sinks get this from deterministic
  per-epoch paths + overwrite; Kafka gets it from a transactional producer
  whose transactional.id embeds (fingerprint, epoch).
- ``Pipeline.run`` is ``runLoop`` (Tamer.scala:244-250, 329-335): resume or
  initialize state, then repeat {iteration → sink write → state commit}.
  The reference makes {data produce, offset commit, state produce} a single
  Kafka transaction (Tamer.scala:150-186); Spark cannot span a sink write and
  a state write in one transaction, so we use **epoch idempotence**: state
  ``(epoch+1, new_state)`` is committed only *after* the sink commit, and a
  crash in between replays the epoch against an idempotent sink — the same
  exactly-once observable behavior.

The reference overlaps its source and sink fibers through an in-process
bounded queue (Tamer.scala:333). Here the DataFrame *is* the batch and
executors do the parallelism within it; across batches the loop reads ONE
epoch ahead: once epoch N's iteration has returned a progressed state and the
loop will certainly run epoch N+1, ``iteration(S')`` and the pin of its batch
run on a background thread while epoch N is written and committed (the
D-Streams overlap of the next interval's ingestion with the current one's
processing). The prefetched batch is written only after commit N, so at most
two batches are pinned at once and exactly-once is untouched; a stop, a sink
failure or an exception discards it. Backpressure stays per-iteration batch
sizing (window length / page size / maxKeys), which is where the reference's
``bufferSize`` knob ends up too.

Retry policy: the reference hard-codes 10 × exponential backoff from 100 ms
and marks it FIXME (Tamer.scala:58); here it's configurable.
"""

from __future__ import annotations

import logging
import threading
import time
import weakref
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator, Protocol

from pyspark import InheritableThread, StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tamer_spark.errors import TamerError
from tamer_spark.metrics import observed
from tamer_spark.state import StateStore, fingerprint

log = logging.getLogger("tamer_spark.engine")


class Source(Protocol):
    """A stateful incremental source (the reference's ``Setup``)."""

    def initial_state(self) -> Any: ...

    def state_fingerprint(self) -> str:
        """Stable identity of (source descriptor, initial state) — guards
        against resuming a different pipeline's checkpoint."""
        ...

    def iteration(self, state: Any, spark: SparkSession) -> tuple[DataFrame | None, Any]:
        """Pull one batch for ``state``; return (batch, next_state).

        ``batch`` may be None/empty (no new data — a normal outcome, unlike
        the reference's REST source which spins, RESTSetup.scala:208-215).
        Returning ``next_state == state`` with an empty batch means "no
        progress"; the loop then sleeps ``poll_interval``.

        The loop may call this on a background thread while the same
        ``run()`` is still writing and committing the previous epoch, so it
        must not read that epoch's sink output. Output committed by an
        earlier ``run()`` is safe to read: a run's first iteration is never
        read ahead.
        """
        ...


class Sink(Protocol):
    def write(self, df: DataFrame, epoch: int) -> None:
        """Write one epoch. MUST be idempotent for a repeated ``epoch``."""
        ...


# the observed row of every pinned batch, keyed weakly on the DataFrame object
# itself: the Source/Sink protocols carry only the DataFrame, so the object is
# the one handle the source, the engine and a sink share for one batch. The
# loop's read-ahead thread pins while the loop thread unpins, so every access
# holds _pinned_lock (never across the pass itself, or the two would serialize)
_pinned: "weakref.WeakKeyDictionary[DataFrame, dict]" = weakref.WeakKeyDictionary()
_pinned_lock = threading.Lock()


def pin(df: DataFrame, **aggs: Column) -> dict:
    """Cache ``df`` and compute its row count plus ``aggs`` in ONE pass.

    Persists at MEMORY_AND_DISK, then runs a single map-only action — a
    ``noop`` write of ``df.observe(count(1) AS rows, **aggs)`` — that fills
    the cache and returns the observed metrics: one job, one stage, no
    shuffle (a ``df.agg(...).collect()`` or ``df.count()`` is a shuffle, two
    jobs under AQE). Each aggregate is ``None`` on an empty batch.

    Idempotent per object: pinning the same DataFrame again returns the
    recorded row and runs no job, so a batch the source pinned costs the
    engine (and any sink that pins it) nothing. Release with :func:`unpin`.
    """
    with _pinned_lock:
        row = _pinned.get(df)
    if row is None:
        df.persist(StorageLevel.MEMORY_AND_DISK)
        exprs = [F.count(F.lit(1)).alias("rows")] + [c.alias(k) for k, c in aggs.items()]
        odf, obs = observed(df, "pin", exprs)
        odf.write.format("noop").mode("overwrite").save()
        row = obs.get
        with _pinned_lock:
            _pinned[df] = row
    return row


def unpin(df: DataFrame) -> None:
    """Drop ``df``'s cached blocks and its :func:`pin` record."""
    with _pinned_lock:
        _pinned.pop(df, None)
    df.unpersist()


@dataclass
class RetryPolicy:
    """Configurable retry (reference: hard-coded 10×exp-from-100ms, Tamer.scala:58)."""

    retries: int = 10
    base_delay_s: float = 0.1
    max_delay_s: float = 30.0

    def delays(self) -> Iterator[float]:
        d = self.base_delay_s
        for _ in range(self.retries):
            yield d
            d = min(d * 2, self.max_delay_s)


@dataclass
class BatchMetrics:
    """Per-iteration metrics exposed to state folds / observers.

    Mirrors ``ResultMetadata(queryExecutionTimeInNanos)`` + pulled-at
    (reference db/src/main/scala/tamer/db/model.scala:30-33).

    ``iteration_s`` is the source iteration's own duration, wherever it ran
    (on the loop thread, or ahead of time on the read-ahead thread while
    the previous epoch was written). ``write_s`` is how long the loop waited
    for the pin, sink write and retries; a batch pinned ahead adds no pin.
    """

    epoch: int
    rows: int
    iteration_s: float
    write_s: float


def _iterate(
    source: Source, state: Any, spark: SparkSession
) -> tuple[DataFrame | None, Any, float]:
    """``source.iteration(state)`` plus its own duration in seconds."""
    t0 = time.monotonic()
    df, new_state = source.iteration(state, spark)
    return df, new_state, time.monotonic() - t0


class _ReadAhead:
    """``source.iteration(state)`` plus the pin of its batch, started now on
    a fresh :class:`~pyspark.InheritableThread` (so the Spark local
    properties of the starting thread — job group, description — follow
    it); :meth:`result` joins it and re-raises what it raised."""

    def __init__(self, source: Source, state: Any, spark: SparkSession) -> None:
        self._out: tuple[DataFrame | None, Any, float] | None = None
        self._err: BaseException | None = None
        self._thread = InheritableThread(target=self._read, args=(source, state, spark))
        self._thread.start()

    def _read(self, source: Source, state: Any, spark: SparkSession) -> None:
        try:
            self._out = _iterate(source, state, spark)
        except BaseException as e:  # noqa: BLE001 — re-raised on the loop thread
            self._err = e
            return
        df = self._out[0]
        if df is not None:
            try:
                pin(df)
            except Exception:  # noqa: BLE001 — the write pins again, with retries
                log.warning("read-ahead pin failed; the write retries it", exc_info=True)

    def result(self) -> tuple[DataFrame | None, Any, float]:
        """Wait for the read; return (batch, next_state, iteration_s)."""
        self._thread.join()
        if self._err is not None:
            raise self._err
        assert self._out is not None
        return self._out

    def discard(self) -> None:
        """Wait for the read and release its batch unwritten."""
        self._thread.join()
        if self._out is not None and self._out[0] is not None:
            unpin(self._out[0])


@dataclass
class Pipeline:
    """resume-or-init → iterate → idempotent write → commit state → repeat."""

    source: Source
    sink: Sink
    checkpoint_dir: str
    group_id: str = "default"
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    # no-progress polling backs off exponentially from poll_interval_s to
    # poll_max_s, resetting on progress — the reference's
    # ``Schedule.exponential(min) || spaced(max)`` bucket-poll schedule
    # (S3Setup.scala:74-77); set poll_max_s == poll_interval_s for fixed-rate
    poll_interval_s: float = 1.0
    poll_max_s: float = 300.0
    observer: Callable[[BatchMetrics], None] | None = None
    sleep_fn: Callable[[float], None] = time.sleep

    def _store(self) -> StateStore:
        return StateStore(self.checkpoint_dir, self.source.state_fingerprint(), self.group_id)

    def run(
        self,
        spark: SparkSession,
        max_iterations: int | None = None,
        until: Callable[[Any], bool] | None = None,
    ) -> Any:
        """Run the loop; returns the final state.

        ``max_iterations`` / ``until(state)`` bound the otherwise-perpetual
        loop (the reference's runLoop never terminates; tests and backfills
        want a stopping condition).

        The loop reads one epoch ahead (module docstring) only when it will
        certainly run another epoch: the state progressed, ``max_iterations``
        allows one more, and ``until`` is false on the new state. An error in
        the read-ahead raises after this epoch's commit, where the serial
        loop would raise it. ``run`` returns or raises with no read-ahead
        outstanding: a stop, a sink failure or an exception joins it and
        unpins its batch unwritten.
        """
        store = self._store()
        doc = store.load() or store.initialize(self.source.initial_state())
        log.info("pipeline start: fingerprint=%s epoch=%d", store.fingerprint, doc.epoch)
        iterations = 0
        idle_delay = self.poll_interval_s
        ahead: _ReadAhead | None = None
        try:
            while True:
                if max_iterations is not None and iterations >= max_iterations:
                    return doc.state
                if until is not None and until(doc.state):
                    return doc.state
                if ahead is None:
                    df, new_state, iteration_s = _iterate(self.source, doc.state, spark)
                else:
                    df, new_state, iteration_s = ahead.result()
                    ahead = None
                if (
                    new_state != doc.state
                    and (max_iterations is None or iterations + 1 < max_iterations)
                    and (until is None or not until(new_state))
                ):
                    ahead = _ReadAhead(self.source, new_state, spark)
                t1 = time.monotonic()
                rows = 0
                if df is not None:
                    rows = self._write_with_retry(df, doc.epoch)
                write_s = time.monotonic() - t1
                progressed = new_state != doc.state or rows > 0
                # Commit AFTER the sink write: crash before this line replays
                # the epoch against the idempotent sink → exactly-once
                # observable. The read-ahead batch is written only after it.
                doc = store.commit(doc.epoch + 1, new_state)
                if self.observer:
                    self.observer(BatchMetrics(doc.epoch - 1, rows, iteration_s, write_s))
                iterations += 1
                if progressed:
                    idle_delay = self.poll_interval_s
                else:
                    self.sleep_fn(idle_delay)
                    idle_delay = min(idle_delay * 2, self.poll_max_s)
        finally:
            if ahead is not None:
                ahead.discard()

    def run_until_drained(self, spark: SparkSession, idle_iterations: int = 2) -> Any:
        """Backfill mode: run until ``idle_iterations`` consecutive empty
        iterations (the engine-loop analog of Trigger.AvailableNow — drain
        what exists, then stop)."""
        idle = {"n": 0}
        prev_observer = self.observer

        def observing(m: BatchMetrics) -> None:
            idle["n"] = 0 if m.rows else idle["n"] + 1
            if prev_observer:
                prev_observer(m)

        self.observer = observing
        try:
            return self.run(spark, until=lambda s: idle["n"] >= idle_iterations)
        finally:
            self.observer = prev_observer

    def _write_with_retry(self, df: DataFrame, epoch: int) -> int:
        """Pin the batch, write it, release it.

        :func:`pin` makes the live source plan execute ONCE per epoch in
        the normal path: its single observed pass fills the cache and
        counts the rows, and the sink write and any retries read the cached
        blocks. A batch the source already pinned (``JdbcTumblingSource``
        pins to read its max timestamp) costs no job here. Without the pin,
        count + write would run the source query twice, and a
        non-deterministic source (rows arriving between executions) could
        write a different batch than the one it counted/advanced state by.
        A batch the loop read ahead was pinned on the read-ahead thread, so
        here too the pin is a record lookup.
        Caveat: Spark caching is best-effort — a lost executor recomputes
        its blocks from lineage (re-touching the source); MEMORY_AND_DISK
        narrows that window but cannot close it, so sinks still carry the
        per-epoch idempotence contract.
        The empty-batch skip stays: an all-idle poll never reaches the sink.
        Retry backoff sleeps through ``sleep_fn``, like idle polling.
        """
        last: Exception | None = None
        attempts = [0.0, *self.retry.delays()]
        try:
            for delay in attempts:
                if delay:
                    self.sleep_fn(delay)
                try:
                    n = pin(df)["rows"]
                    if n:
                        self.sink.write(df, epoch)
                    return n
                except Exception as e:  # noqa: BLE001 — retry any sink failure
                    last = e
                    log.warning("sink write failed (epoch=%d): %s", epoch, e)
        finally:
            unpin(df)
        raise TamerError(f"sink write failed after {self.retry.retries} retries") from last


__all__ = [
    "Source",
    "Sink",
    "Pipeline",
    "RetryPolicy",
    "BatchMetrics",
    "pin",
    "unpin",
    "fingerprint",
]
