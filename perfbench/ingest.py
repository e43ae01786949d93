"""The two closed-loop ingest workloads: the real engine loop end to end.

- ``JdbcBackfill``: ``Pipeline(JdbcTumblingSource -> ParquetEpochSink)``
  draining a bursty events table from embedded Derby through
  ``spark.read.format("jdbc")``.
- ``ObjectTail``: ``Pipeline(ObjectCursorSource -> DedupGateSink)`` tailing
  number-keyed JSON-lines objects, stopped half-way and resumed from its
  checkpoint.

Both are closed loops with one caller: the engine pulls the next batch only
after the previous epoch committed. A measured window repeats whole runs
(a drain / a tail) over the same inputs, each with a fresh checkpoint and
sink, until ``seconds`` have passed, so every run's output can be checked
exactly.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from datetime import datetime
from typing import Any

import fixtures as FX
from tracing import CountingLister, EpochClock, TracedSink, TracedSource, Tracer, median, pct, trace_commits

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
# Derby's TIMESTAMP() rejects the '+00:00' offset JdbcTumblingSource renders
# (datetime.isoformat), so the template strips the last six characters.
_TS = "TIMESTAMP(SUBSTR('{x}', 1, LENGTH('{x}') - 6))"
JDBC_QUERY = (
    "SELECT event_id, ts, user_id, kind, amount, note FROM events "
    f"WHERE ts > {_TS.replace('{x}', '{from_ts}')} AND ts <= {_TS.replace('{x}', '{to_ts}')}"
)


def _dir_stats(root: str, only_parts: bool = False) -> tuple[int, int]:
    """(files, bytes) under ``root``; ``only_parts`` counts data files only."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if only_parts and not n.startswith("part-"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Runs:
    """Epoch clocks and walls of the runs in one measured window."""

    def __init__(self) -> None:
        self.clocks: list[EpochClock] = []
        self.walls: list[float] = []
        self.rows = 0
        self.raised = 0  # operations of runs that raised (their epochs + the failing one)

    @property
    def epoch_ms(self) -> list[float]:
        return [ms for c in self.clocks for ms in c.epoch_ms]

    @property
    def epochs(self) -> int:
        return sum(len(c.epoch_ms) for c in self.clocks)


class _Ingest:
    """A workload whose unit run (``_run``) drives the engine over the whole
    input once; ``measure`` repeats runs until the window closes."""

    name = ""
    # a long-running ingest service runs warm: whole runs before timing
    warm_runs = 3

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self._outputs: list[Any] = []

    def close(self, spark: Any) -> None:
        pass

    def measure(self, spark: Any, seconds: float, tracer: Tracer | None = None) -> Runs:
        runs = Runs()
        self._outputs = []
        t_end = time.perf_counter() + seconds
        while not (runs.walls or runs.raised) or time.perf_counter() < t_end:
            i = len(runs.walls) + runs.raised
            clock = EpochClock(tracer, spark, tag=f"{self.name}-{i}")
            t0 = time.perf_counter()
            try:
                out = self._run(spark, _fresh(os.path.join(self.work, f"run{i}")), clock, tracer)
            except Exception:  # noqa: BLE001 — a raising run counts as failed operations
                traceback.print_exc()
                runs.raised += len(clock.epoch_ms) + 1
                continue
            runs.walls.append(time.perf_counter() - t0)
            runs.clocks.append(clock)
            runs.rows += sum(clock.rows)
            self._outputs.append(out)
        return runs

    def e2e(self, runs: Runs) -> dict[str, float]:
        return {
            "rows_per_s": runs.rows / sum(runs.walls) if runs.walls else 0.0,
            "epoch_ms_p50": pct(runs.epoch_ms, 50),
            "epoch_ms_p90": pct(runs.epoch_ms, 90),
            "wall_s": median(runs.walls),
        }

    def attempted(self, runs: Runs) -> int:
        return runs.epochs + runs.raised

    def check(self, spark: Any, runs: Runs) -> int:
        """Epochs of runs that raised or whose output is wrong."""
        wrong = sum(len(c.epoch_ms) for out, c in zip(self._outputs, runs.clocks) if not self._ok(spark, out))
        return runs.raised + wrong

    def layers(self, runs: Runs, tracer: Tracer) -> dict[str, float]:
        """Engine, state and sink metrics of a traced window; each run's
        output is ``(root, ...)`` with the checkpoint under ``root/ckpt``."""
        persist_ms, retries = [], 0
        for c in runs.clocks:
            for m, sid in zip(c.batch, c.span_ids):
                writes = [s for s in tracer.spans if s["name"] == "sinks.write" and s["parent"] == sid]
                if writes:
                    retries += len(writes) - 1
                    persist_ms.append(m.write_s * 1000 - sum((s["end"] - s["start"]) * 1000 for s in writes))
        ckpt = os.path.join(self._outputs[-1][0], "ckpt")
        hist = os.path.join(ckpt, "history")
        files, size = zip(*(_dir_stats(out[0], only_parts=True) for out in self._outputs))
        return {
            "engine.jobs_per_epoch": sum(j for c in runs.clocks for j in c.jobs) / runs.epochs,
            "engine.persist_count_ms_p50": pct(persist_ms, 50),
            "engine.retries": retries,
            "engine.epochs": runs.epochs,
            "state.commit_ms_p50": pct(tracer.durations_ms("state.commit"), 50),
            "state.commit_ms_p90": pct(tracer.durations_ms("state.commit"), 90),
            "state.history_files": len(os.listdir(hist)) if os.path.isdir(hist) else 0,
            "state.checkpoint_bytes": _dir_stats(ckpt)[1],
            "sinks.write_ms_p50": pct(tracer.durations_ms("sinks.write"), 50),
            "sinks.write_ms_p90": pct(tracer.durations_ms("sinks.write"), 90),
            "sinks.files_written": median(list(files)),
            "sinks.bytes_written": median(list(size)),
        }

    def _run(self, spark: Any, root: str, clock: EpochClock, tracer: Tracer | None) -> Any:
        raise NotImplementedError

    def _ok(self, spark: Any, out: Any) -> bool:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# ingest_jdbc_backfill
# ---------------------------------------------------------------------------

class JdbcBackfill(_Ingest):
    name = "ingest_jdbc_backfill"

    def __init__(self, work: str, seed: int, minutes: int = 6, mean_rows: int = 1500) -> None:
        super().__init__(work, seed)
        self.minutes, self.mean_rows = minutes, mean_rows
        self.url = ""
        self._db = 0

    def prepare(self, spark: Any) -> None:
        """Generate the events and load them into a fresh in-memory Derby
        database (bulk CSV import inside the driver JVM)."""
        self.events = FX.jdbc_events(self.seed, self.minutes, self.mean_rows)
        csv_path = os.path.join(self.work, "events.csv")
        FX.write_events_csv(self.events, csv_path)
        dm = spark._jvm.java.sql.DriverManager
        self.close(spark)
        self._db += 1
        self.url = f"jdbc:derby:memory:perfbench{os.getpid()}_{self._db}"
        conn = dm.getConnection(self.url + ";create=true")
        try:
            st = conn.createStatement()
            st.execute(
                "CREATE TABLE events (event_id BIGINT NOT NULL PRIMARY KEY, ts TIMESTAMP NOT NULL, "
                "user_id INT, kind VARCHAR(16), amount DOUBLE, note VARCHAR(32))"
            )
            st.execute("CREATE INDEX events_ts ON events(ts)")
            st.execute(
                "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, 'EVENTS', "
                f"'{os.path.abspath(csv_path)}', null, null, 'UTF-8', 0)"
            )
        finally:
            conn.close()

    def close(self, spark: Any) -> None:
        """Drop the in-memory database (Derby reports success as 08006)."""
        if not self.url:
            return
        try:
            spark._jvm.java.sql.DriverManager.getConnection(self.url + ";drop=true")
        except Exception as e:  # noqa: BLE001 — py4j wraps the SQLException
            if "08006" not in str(e):
                raise
        self.url = ""

    def _run(self, spark: Any, root: str, clock: EpochClock, tracer: Tracer | None) -> Any:
        """Drain the whole table with a fresh checkpoint and sink."""
        from tamer_spark import JdbcTumblingSource, ParquetEpochSink, Pipeline

        source: Any = JdbcTumblingSource(
            url=self.url, query_template=JDBC_QUERY, ts_column="ts",
            from_ts=FX.EPOCH0 - FX.WINDOW_STEP, step=FX.WINDOW_STEP,
            properties={"driver": DERBY_DRIVER},
        )
        sink = ParquetEpochSink(os.path.join(root, "out"))
        engine_sink: Any = sink
        if tracer is not None:
            source, engine_sink = TracedSource(source, tracer, "sources.jdbc.iteration"), TracedSink(sink, tracer)
        pipeline = Pipeline(source, engine_sink, os.path.join(root, "ckpt"), observer=clock)
        if tracer is not None:
            trace_commits(pipeline, tracer)
        max_ts = self.events.max_ts
        clock.start()
        try:
            state = pipeline.run(spark, until=lambda s: datetime.fromisoformat(s["from"]) >= max_ts)
        finally:
            clock.stop()
        return root, sink, state

    def _ok(self, spark: Any, out: Any) -> bool:
        _, sink, state = out
        ids = [r[0] for r in sink.read(spark).select("event_id").collect()]
        return drain_ok(ids, self.events.ids, datetime.fromisoformat(state["from"]), self.events.max_ts)

    def layers(self, runs: Runs, tracer: Tracer) -> dict[str, float]:
        rows = [r for c in runs.clocks for r in c.rows]
        return {
            **super().layers(runs, tracer),
            "sources.jdbc.iteration_ms_p50": pct(tracer.durations_ms("sources.jdbc.iteration"), 50),
            "sources.jdbc.iteration_ms_p90": pct(tracer.durations_ms("sources.jdbc.iteration"), 90),
            "sources.jdbc.rows_per_epoch_p50": pct(rows, 50),
            "sources.jdbc.nonempty_share": sum(1 for r in rows if r) / len(rows),
        }


def drain_ok(ids: list[int], expected: set[int], final_from: datetime, max_ts: datetime) -> bool:
    """Exactly-once: the readback holds each expected id once and nothing
    else, and the window has moved past the newest event."""
    return final_from >= max_ts and len(ids) == len(expected) and set(ids) == expected


# ---------------------------------------------------------------------------
# tail_objects_dedup
# ---------------------------------------------------------------------------

class DedupGateSink:
    """Epoch-idempotent exact-dedup gate in front of a parquet corpus.

    Each epoch anti-joins the batch against the digest index of all
    *earlier* epochs (``dedup_exact_incremental``), writes the survivors to
    ``out/epoch=N`` and their digests to ``index/epoch=N``. Reading only
    earlier epochs keeps a replayed epoch idempotent.
    """

    def __init__(self, root: str, tracer: Tracer | None = None) -> None:
        self.out = os.path.join(root, "out")
        self.index = os.path.join(root, "index")
        self.tracer = tracer

    def _index(self, spark: Any, epoch: int) -> Any:
        parts = sorted(
            os.path.join(self.index, d) for d in (os.listdir(self.index) if os.path.isdir(self.index) else [])
            if d.startswith("epoch=") and int(d[6:]) < epoch
        )
        if not parts:
            return spark.createDataFrame([], "content_hash string")
        return spark.read.parquet(*parts)

    def write(self, df: Any, epoch: int) -> None:
        from tamer_spark.operators.dedup_incremental import dedup_exact_incremental

        spark = df.sparkSession
        out = os.path.join(self.out, f"epoch={epoch}")
        survivors = dedup_exact_incremental(df, self._index(spark, epoch))
        if self.tracer is None:
            survivors.write.mode("overwrite").parquet(out)
        else:
            with self.tracer.span("operators.dedup_incremental.gate", epoch=epoch):
                survivors.write.mode("overwrite").parquet(out)
        spark.read.parquet(out).select("content_hash").write.mode("overwrite").parquet(
            os.path.join(self.index, f"epoch={epoch}")
        )

    def read(self, spark: Any) -> Any:
        return spark.read.option("basePath", self.out).parquet(self.out + "/epoch=*")

    def index_rows(self, spark: Any) -> int:
        return spark.read.parquet(self.index + "/epoch=*").count()


def _parse_docs(df: Any) -> Any:
    from pyspark.sql import functions as F

    return df.select(F.from_json("value", "doc_id BIGINT, text STRING").alias("d")).select("d.*")


class ObjectTail(_Ingest):
    name = "tail_objects_dedup"
    prefix = "part"

    def __init__(self, work: str, seed: int, n_objects: int = 4, docs_per_object: int = 100) -> None:
        super().__init__(work, seed)
        self.n_objects, self.docs_per_object = n_objects, docs_per_object
        self.resume_ms: list[float] = []
        self.listers: list[CountingLister] = []
        self.index_rows: list[int] = []

    def prepare(self, spark: Any) -> None:
        self.tail = FX.tail_documents(self.seed, self.n_objects, self.docs_per_object)
        self.objects = _fresh(os.path.join(self.work, "objects"))
        FX.write_tail_objects(self.tail, self.objects, self.prefix)

    def measure(self, spark: Any, seconds: float, tracer: Tracer | None = None) -> Runs:
        self.resume_ms, self.listers, self.index_rows = [], [], []
        return super().measure(spark, seconds, tracer)

    def _run(self, spark: Any, root: str, clock: EpochClock, tracer: Tracer | None) -> Any:
        """Consume every object: stop after half of them, then resume from
        the checkpoint with a new pipeline (new source, sink and lister)."""
        from tamer_spark import LocalFSLister, ObjectCursorSource, Pipeline

        sink = DedupGateSink(root, tracer)

        def pipeline() -> Pipeline:
            lister: Any = LocalFSLister(self.objects)
            if tracer is not None:
                lister = CountingLister(lister)
                self.listers.append(lister)
            source: Any = ObjectCursorSource(lister, self.prefix, cursor_kind="number", decode=_parse_docs)
            gate: Any = sink
            if tracer is not None:
                source, gate = TracedSource(source, tracer, "sources.objectstore.iteration"), TracedSink(sink, tracer)
            p = Pipeline(source, gate, os.path.join(root, "ckpt"), observer=clock)
            if tracer is not None:
                trace_commits(p, tracer)
            return p

        clock.start()
        try:
            pipeline().run(spark, max_iterations=self.n_objects // 2)
            clock.stop()
            n_before = len(clock.epoch_ms)
            clock.start()
            pipeline().run(spark, until=lambda s: int(s["cursor"]) >= self.n_objects)
        finally:
            clock.stop()
        if len(clock.epoch_ms) > n_before:
            self.resume_ms.append(clock.epoch_ms[n_before])
        return root, sink

    def _ok(self, spark: Any, out: Any) -> bool:
        _, sink = out
        ids = [r[0] for r in sink.read(spark).select("doc_id").collect()]
        self.index_rows.append(sink.index_rows(spark))
        return tail_ok(ids, self.tail.unique_ids, self.index_rows[-1])

    def layers(self, runs: Runs, tracer: Tracer) -> dict[str, float]:
        ratios = []
        for c in runs.clocks:
            q = max(1, len(c.epoch_ms) // 4)
            ratios.append(median(c.epoch_ms[-q:]) / median(c.epoch_ms[:q]))
        objects = sum(1 for c in runs.clocks for r in c.rows if r)
        return {
            **super().layers(runs, tracer),
            "engine.epoch_ms_late_over_early": median(ratios),
            "engine.resume_ms": median(self.resume_ms),
            "sources.objectstore.iteration_ms_p50": pct(tracer.durations_ms("sources.objectstore.iteration"), 50),
            "sources.objectstore.list_calls": sum(lst.calls for lst in self.listers) / len(runs.walls),
            "sources.objectstore.keys_listed_per_object": sum(lst.keys for lst in self.listers) / max(1, objects),
            "operators.dedup_incremental.gate_ms_p50": pct(tracer.durations_ms("operators.dedup_incremental.gate"), 50),
            "operators.dedup_incremental.index_rows": median(self.index_rows),
            "operators.dedup_incremental.dropped_share": 1 - len(self.tail.unique_ids) / self.tail.sent,
        }


def tail_ok(ids: list[int], unique_ids: set[int], index_rows: int) -> bool:
    """Survivors are exactly the unique documents, each once, and the
    index holds one digest per survivor."""
    return len(ids) == len(unique_ids) and set(ids) == unique_ids and index_rows == len(ids)
