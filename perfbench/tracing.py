"""Spans, layer wrappers and Spark's own accounting for the traced run.

Nothing here changes the program: spans are recorded from the benchmark's
side of each call into a layer (``Source.iteration``, ``Sink.write``,
``StateStore.commit``, query build / plan / execute), and Spark's job,
stage and task accounting is read from its status store through py4j.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator


class Tracer:
    """In-memory spans: (id, parent, name, start, end, attrs); written out
    once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: dict[int, dict] = {}
        self._stack: list[int] = []
        self._next = 0

    def begin(self, name: str, **attrs: Any) -> int:
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._open[sid] = {"id": sid, "parent": parent, "name": name, "start": time.perf_counter(), **attrs}
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> dict:
        span = self._open.pop(sid)
        self._stack.remove(sid)
        span["end"] = time.perf_counter()
        self.spans.append(span)
        return span

    def discard(self, sid: int) -> None:
        self._open.pop(sid, None)
        if sid in self._stack:
            self._stack.remove(sid)

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict]:
        sid = self.begin(name, **attrs)
        try:
            yield self._open[sid]
        finally:
            self.end(sid)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


class TracedSource:
    """``Source`` whose ``iteration`` runs inside a span."""

    def __init__(self, inner: Any, tracer: Tracer, name: str) -> None:
        self.inner, self.tracer, self.name = inner, tracer, name

    def initial_state(self) -> Any:
        return self.inner.initial_state()

    def state_fingerprint(self) -> str:
        return self.inner.state_fingerprint()

    def iteration(self, state: Any, spark: Any) -> tuple[Any, Any]:
        with self.tracer.span(self.name):
            return self.inner.iteration(state, spark)


class TracedSink:
    """``Sink`` whose ``write`` runs inside a span."""

    def __init__(self, inner: Any, tracer: Tracer, name: str = "sinks.write") -> None:
        self.inner, self.tracer, self.name = inner, tracer, name

    def write(self, df: Any, epoch: int) -> None:
        with self.tracer.span(self.name, epoch=epoch):
            self.inner.write(df, epoch)


def trace_commits(pipeline: Any, tracer: Tracer) -> None:
    """Wrap the ``StateStore.commit`` of every store ``pipeline`` opens."""
    open_store = pipeline._store

    def traced_store():
        store = open_store()
        commit = store.commit

        def traced_commit(epoch: int, new_state: Any):
            with tracer.span("state.commit", epoch=epoch):
                return commit(epoch, new_state)

        store.commit = traced_commit
        return store

    pipeline._store = traced_store


@dataclass
class CountingLister:
    """``Lister`` that counts listing calls and keys returned (the waste
    ratio: keys listed per object consumed)."""

    inner: Any
    calls: int = 0
    keys: int = 0

    def list_keys(self, prefix: str, start_after: str | None = None) -> list[str]:
        page = self.inner.list_keys(prefix, start_after=start_after)
        self.calls += 1
        self.keys += len(page)
        return page

    def object_uri(self, key: str) -> str:
        return self.inner.object_uri(key)


class EpochClock:
    """Observer that stamps each engine epoch at the observer callback.

    One epoch runs from the previous callback (or ``start()``) to its own
    callback, so it covers iteration, sink write and state commit. With a
    tracer it also opens an ``engine.epoch`` span per epoch (the parent of
    that epoch's layer spans) and a Spark job group per epoch, so jobs can
    be counted between callbacks.
    """

    def __init__(self, tracer: Tracer | None = None, spark: Any = None, tag: str = "") -> None:
        self.tracer, self.spark, self.tag = tracer, spark, tag
        self.epoch_ms: list[float] = []
        self.rows: list[int] = []
        self.batch: list[Any] = []  # engine BatchMetrics
        self.jobs: list[int] = []
        self.span_ids: list[int] = []  # the engine.epoch span of each epoch
        self._last = 0.0
        self._sid: int | None = None
        self._n = 0

    def _group(self) -> str:
        return f"perfbench-{self.tag}-{self._n}"

    def start(self) -> None:
        self._last = time.perf_counter()
        if self.tracer is not None:
            self._sid = self.tracer.begin("engine.epoch")
            self.spark.sparkContext.setJobGroup(self._group(), "perfbench epoch")

    def __call__(self, m: Any) -> None:
        now = time.perf_counter()
        self.epoch_ms.append((now - self._last) * 1000)
        self.rows.append(m.rows)
        self.batch.append(m)
        if self.tracer is not None:
            self.tracer.end(self._sid)
            self.span_ids.append(self._sid)
            self.jobs.append(count_jobs(self.spark, self._group()))
            self._n += 1
            self._sid = self.tracer.begin("engine.epoch")
            self.spark.sparkContext.setJobGroup(self._group(), "perfbench epoch")
        self._last = time.perf_counter()

    def stop(self) -> None:
        if self.tracer is not None and self._sid is not None:
            self.tracer.discard(self._sid)
            self._sid = None
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def count_jobs(spark: Any, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def catalyst_ms(df: Any) -> float:
    """Analysis + optimization + planning time recorded by the
    ``QueryPlanningTracker`` of ``df``'s QueryExecution, after forcing its
    physical plan (the collect that follows plans its own copy again)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


# ---------------------------------------------------------------------------
# Spark status-store accounting
# ---------------------------------------------------------------------------

MB = 1024 * 1024


@dataclass
class StageStat:
    stage_id: int
    tasks: int
    run_ms: float
    gc_ms: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    duration_s: float
    skew: float | None = None


@dataclass
class SparkWindow:
    """Jobs and stages Spark ran between ``open()`` and ``close()``."""

    spark: Any
    cores: int
    job_mark: int = -1
    stage_mark: int = -1
    t0: float = 0.0
    wall_s: float = 0.0
    jobs: int = 0
    stages: list[StageStat] = field(default_factory=list)

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _stages(self, store):
        gw = self.spark.sparkContext._gateway
        return store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)

    def _max_ids(self) -> tuple[int, int]:
        store = self._store()
        jobs, stages = store.jobsList(None), self._stages(store)
        mj = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        ms = max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)
        return mj, ms

    def open(self) -> "SparkWindow":
        self.job_mark, self.stage_mark = self._max_ids()
        self.t0 = time.perf_counter()
        return self

    def close(self) -> "SparkWindow":
        self.wall_s = time.perf_counter() - self.t0
        store = self._store()
        jobs = store.jobsList(None)
        self.jobs = sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() > self.job_mark)
        stages = self._stages(store)
        gw = self.spark.sparkContext._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= self.stage_mark:
                continue
            sub, done = s.submissionTime(), s.completionTime()
            dur = (done.get().getTime() - sub.get().getTime()) / 1000 if sub.isDefined() and done.isDefined() else 0.0
            st = StageStat(
                s.stageId(), s.numTasks(), s.executorRunTime(), s.jvmGcTime(),
                s.shuffleWriteBytes(), s.shuffleReadBytes(), s.diskBytesSpilled(), dur,
            )
            if st.tasks >= 2:
                summ = store.taskSummary(s.stageId(), s.attemptId(), qs)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    st.skew = mx / med if med > 0 else None
            self.stages.append(st)
        return self

    def metrics(self) -> dict[str, float]:
        run_s = sum(s.run_ms for s in self.stages) / 1000
        top = max(self.stages, key=lambda s: s.duration_s, default=None)
        heavy = max((s for s in self.stages if s.skew is not None), key=lambda s: s.run_ms, default=None)
        return {
            "spark.jobs": self.jobs,
            "spark.stages": len(self.stages),
            "spark.tasks": sum(s.tasks for s in self.stages),
            "spark.executor_run_s": run_s,
            "spark.executor_busy_share": run_s / (self.wall_s * self.cores) if self.wall_s else 0.0,
            "spark.jvm_gc_s": sum(s.gc_ms for s in self.stages) / 1000,
            "spark.shuffle_write_mb": sum(s.shuffle_write for s in self.stages) / MB,
            "spark.shuffle_read_mb": sum(s.shuffle_read for s in self.stages) / MB,
            "spark.spill_mb": sum(s.spill for s in self.stages) / MB,
            "spark.top_stage_s": top.duration_s if top else 0.0,
            "spark.top_stage_tasks": top.tasks if top else 0,
            "spark.task_skew_max_over_median": heavy.skew if heavy else 1.0,
        }


# ---------------------------------------------------------------------------
# small statistics helpers
# ---------------------------------------------------------------------------

def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100); 0.0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
