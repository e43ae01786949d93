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
executors do the parallelism within it; across batches the loop pipelines
epochs (the D-Streams pipelining of intervals) under one rule:

- the **source chain** runs the next ``iteration`` — plus the pin of its
  batch — on a background thread as soon as the previous one has returned,
  for an epoch the loop will certainly run, while fewer than (writes
  allowed + 1) epochs are uncommitted;
- a pinned batch is **written** once the sink may take it. An ordinary
  sink takes epoch N+1 only after commit N (one write in flight), so its
  output is never ahead of the state. A **write-ahead** sink — one whose
  output readers see only through committed epochs, and which opts in by
  implementing ``drop_uncommitted`` (see :class:`Sink`) — takes it at once,
  with at most two writes in flight, like Structured Streaming's
  commit-gated file-sink log and asynchronous progress tracking;
- **commits** and ``observer`` calls stay strictly in epoch order on the
  loop thread: commit N+1 waits for write N+1 and commit N.

Each step run ahead is a ``concurrent.futures`` future of one
``ThreadPoolExecutor`` per ``run`` — a worker for the chain, plus two for a
write-ahead sink's writes — whose workers live for the whole run. A step
runs under the local properties (job group, description) and session tags
the calling thread had when it was submitted (PySpark's
``inheritable_thread_target``).

So an ordinary sink has at most 2 epochs uncommitted (one read ahead) and a
write-ahead sink at most 3. A stop or a failure discards every epoch run
ahead. A crash leaves a write-ahead sink's uncommitted epochs on disk,
invisible to committed readers; the next ``run`` drops them before its
first epoch, so a replay that writes nothing (an empty batch) cannot leave
stale rows behind. Backpressure stays per-iteration batch sizing (window
length / page size / maxKeys), which is where the reference's
``bufferSize`` knob ends up too.

Retry policy: the reference hard-codes 10 × exponential backoff from 100 ms
and marks it FIXME (Tamer.scala:58); here it's configurable.
"""

from __future__ import annotations

import logging
import threading
import time
import weakref
from collections import deque
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator, Protocol

from pyspark import StorageLevel, inheritable_thread_target
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
        ``run()`` is still writing and committing earlier epochs, and a
        write-ahead sink may be writing later ones, so it must not read this
        run's own sink output, for any epoch. Output committed by an earlier
        ``run()`` is safe to read: a run's first iteration is never run
        ahead, and a write-ahead sink's reader bounded by the committed
        epoch sees none of this run's writes.
        """
        ...


class Sink(Protocol):
    """Writes each epoch's batch.

    A sink whose output is read only through committed epochs (a reader
    bounded by ``StateStore.load().epoch``) may additionally implement
    ``drop_uncommitted(spark, epoch)``: delete every epoch >= ``epoch``.
    Its presence is the opt-in to write-ahead (module docstring): the loop
    calls it once at the start of ``run`` with the committed epoch, then
    may write epoch N+1 before commit N. ``ParquetEpochSink`` opts in.
    """

    def write(self, df: DataFrame, epoch: int) -> None:
        """Write one epoch. MUST be idempotent for a repeated ``epoch``."""
        ...


# the observed row of every pinned batch, keyed weakly on the DataFrame object
# itself: the Source/Sink protocols carry only the DataFrame, so the object is
# the one handle the source, the engine and a sink share for one batch. The
# loop's background threads pin and unpin while others do too, so every access
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
    engine (and any sink that pins it) nothing. Release with :func:`unpin`;
    a pass that fails releases the frame itself before it raises.
    """
    with _pinned_lock:
        row = _pinned.get(df)
    if row is None:
        df.persist(StorageLevel.MEMORY_AND_DISK)
        exprs = [F.count(F.lit(1)).alias("rows")] + [c.alias(k) for k, c in aggs.items()]
        try:
            odf, obs = observed(df, "pin", exprs)
            odf.write.format("noop").mode("overwrite").save()
        except BaseException:
            df.unpersist()
            raise
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

    ``iteration_s`` is the source iteration's own duration and ``write_s``
    the write's own (sink write and retries; the batch was pinned with its
    iteration), wherever each ran: on the loop thread, or ahead of time on
    a background thread while earlier epochs were written.
    """

    epoch: int
    rows: int
    iteration_s: float
    write_s: float


def _failed(f: Future | None) -> bool:
    return f is not None and f.done() and f.exception() is not None


def _ran(fn: Callable[..., Any], *args: Any) -> Future:
    """``fn(*args)`` run on this thread, as a completed future: the one
    shape every step takes, wherever it ran."""
    f: Future = Future()
    try:
        f.set_result(fn(*args))
    except BaseException as e:  # noqa: BLE001 — re-raised by result()
        f.set_exception(e)
    return f


@dataclass
class _Epoch:
    """One uncommitted epoch: ``read`` returns (batch, next_state,
    iteration_s) with the batch pinned; ``write`` returns (rows, write_s)."""

    epoch: int
    state: Any
    read: Future
    write: Future | None = None

    def discard(self) -> None:
        """Wait for both steps and release the batch unwritten."""
        if self.write is not None:
            wait([self.write])  # the write unpins its batch itself
        elif self.read.exception() is None and self.read.result()[0] is not None:
            unpin(self.read.result()[0])


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

        Epochs overlap (module docstring): the source chain runs the next
        iteration only for an epoch the loop will certainly run — the state
        progressed, ``max_iterations`` allows it, and ``until`` is false on
        the new state — and commits and ``observer`` calls stay in epoch
        order on this thread. Steps run ahead run on this run's thread pool,
        under this thread's job group and session tags. An error in an epoch
        run ahead (iteration or write) raises after the previous epoch's
        commit, where the serial loop would raise it. ``run`` returns or
        raises with nothing outstanding: a stop or a failure waits for every
        epoch run ahead and unpins its batch; a write-ahead sink's
        uncommitted output stays on disk, unread, until the next ``run``
        drops it.
        """
        store = self._store()
        doc = store.load() or store.initialize(self.source.initial_state())
        log.info("pipeline start: fingerprint=%s epoch=%d", store.fingerprint, doc.epoch)
        drop = getattr(self.sink, "drop_uncommitted", None)
        if drop is not None:
            drop(spark, doc.epoch)  # what an earlier run wrote ahead of its last commit
        writes = 1 if drop is None else 2  # in flight at most; ordinary: the head alone
        # the chain's one iteration, plus the writes a write-ahead sink runs ahead
        workers = 1 if drop is None else 1 + writes
        pool = ThreadPoolExecutor(workers, thread_name_prefix="tamer-epoch")

        def submit(fn: Callable[..., Any], *args: Any) -> Future:
            # the step runs under this thread's local properties (job group,
            # description) and session tags, as of the submit
            return pool.submit(inheritable_thread_target(spark)(fn), *args)

        pending: deque[_Epoch] = deque()  # the uncommitted epochs, oldest first
        iterations = 0
        idle_delay = self.poll_interval_s

        def schedule() -> None:
            """Start what may start now: the source chain's next iteration
            while at most ``writes`` epochs are uncommitted, then writes of
            pinned batches in epoch order."""
            last = pending[-1]
            if (
                len(pending) <= writes
                and last.read.done()
                and not _failed(last.read)
                and not any(_failed(e.write) for e in pending)
            ):
                nxt = last.read.result()[1]
                if (
                    nxt != last.state
                    and (max_iterations is None or iterations + len(pending) < max_iterations)
                    and (until is None or not until(nxt))
                ):
                    pending.append(_Epoch(last.epoch + 1, nxt, submit(self._read, nxt, spark)))
            in_flight = sum(e.write is not None and not e.write.done() for e in pending)
            for e in pending if drop is not None else [pending[0]]:
                if e.write is not None:
                    continue
                if in_flight >= writes or not e.read.done() or _failed(e.read):
                    break
                in_flight += 1
                # an ordinary sink writes on the loop thread, as serially
                e.write = _ran(self._write, e) if drop is None else submit(self._write, e)

        try:
            while True:
                if max_iterations is not None and iterations >= max_iterations:
                    return doc.state
                if until is not None and until(doc.state):
                    return doc.state
                if not pending:  # the chain stopped: iterate here, serially
                    pending.append(_Epoch(doc.epoch, doc.state, _ran(self._read, doc.state, spark)))
                head = pending[0]
                while True:
                    schedule()
                    if _failed(head.read) or (head.write is not None and head.write.done()):
                        break
                    # only steps still running: a done one would return at once, a spin
                    running = [f for e in pending for f in (e.read, e.write) if f and not f.done()]
                    wait(running, return_when=FIRST_COMPLETED)
                df, new_state, iteration_s = head.read.result()
                rows, write_s = head.write.result()
                progressed = new_state != doc.state or rows > 0
                # Commit AFTER the sink write: crash before this line replays
                # the epoch against the idempotent sink → exactly-once
                # observable. Epochs written ahead are invisible until their
                # own commit, and the next run drops them.
                doc = store.commit(doc.epoch + 1, new_state)
                pending.popleft()
                if self.observer:
                    self.observer(BatchMetrics(head.epoch, rows, iteration_s, write_s))
                iterations += 1
                if progressed:
                    idle_delay = self.poll_interval_s
                else:
                    self.sleep_fn(idle_delay)
                    idle_delay = min(idle_delay * 2, self.poll_max_s)
        finally:
            for e in pending:
                e.discard()
            pool.shutdown()

    def _read(self, state: Any, spark: SparkSession) -> tuple[DataFrame | None, Any, float]:
        """``source.iteration(state)``, its own duration, and the pin of its
        batch (so a batch is pinned before any write may take it)."""
        t0 = time.monotonic()
        df, new_state = self.source.iteration(state, spark)
        iteration_s = time.monotonic() - t0
        if df is not None:
            try:
                pin(df)
            except Exception:  # noqa: BLE001 — the write pins again, with retries
                log.warning("batch pin failed; the write retries it", exc_info=True)
        return df, new_state, iteration_s

    def _write(self, e: _Epoch) -> tuple[int, float]:
        """Write epoch ``e``'s batch; return (rows, the write's duration)."""
        t0 = time.monotonic()
        df = e.read.result()[0]
        rows = 0 if df is None else self._write_with_retry(df, e.epoch)
        return rows, time.monotonic() - t0

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
        The loop pins every batch right after its iteration, so here the
        pin is a record lookup unless that pin failed.
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
