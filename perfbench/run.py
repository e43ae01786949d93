#!/usr/bin/env python3
"""End-to-end benchmark of tamer_spark: ingest epochs and full-result queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process, one Spark session on
``local[<cores>]``. A run generates its inputs from ``--seed``, sets up
(session start, fixture generation + load, warm-up), measures for
``--seconds``, checks every output outside the timed window and prints, as
its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` measures a
traced window (spans + Spark's stage accounting), then an untraced one, then
one single-core (``local[1]``) run, and reports the per-layer metrics. The
full record, host-noise fields included, is the line before the result and
``perfbench/out/<workload>-seed<N>-trace<T>.json``; a traced run also
writes its spans next to it (``...spans.jsonl``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import batch  # noqa: E402
import ingest  # noqa: E402
from tracing import SparkWindow, Tracer, median  # noqa: E402

WORKLOADS = {
    w.name: w for w in (ingest.JdbcBackfill, ingest.ObjectTail, batch.CurateText, batch.AnalyticsShuffle)
}
SETUP_REPS = 3  # fixture generation + load is repeated; its median enters setup_s

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "epoch_ms_p50": "ms",
    "epoch_ms_p90": "ms",
    "wall_s": "s",
}
# Per-layer metrics of the workloads BENCHMARK.json lists. A traced run of
# a batch workload also records queries.<q>.{build_s,build_jobs,plan_ms,
# exec_s} in its record file.
PER_LAYER = {
    "peak_rss_mb": "MB",
    "failed_share": "share",
    "ops_measured": "count",
    "trace.overhead_share": "share",
    "engine.jobs_per_epoch": "count",
    "engine.persist_count_ms_p50": "ms",
    "engine.retries": "count",
    "engine.epochs": "count",
    "engine.epoch_ms_late_over_early": "ratio",
    "engine.resume_ms": "ms",
    "state.commit_ms_p50": "ms",
    "state.commit_ms_p90": "ms",
    "state.history_files": "count",
    "state.checkpoint_bytes": "bytes",
    "sources.jdbc.iteration_ms_p50": "ms",
    "sources.jdbc.iteration_ms_p90": "ms",
    "sources.jdbc.rows_per_epoch_p50": "count",
    "sources.jdbc.nonempty_share": "share",
    "sources.objectstore.iteration_ms_p50": "ms",
    "sources.objectstore.list_calls": "count",
    "sources.objectstore.keys_listed_per_object": "ratio",
    "sinks.write_ms_p50": "ms",
    "sinks.write_ms_p90": "ms",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "operators.dedup_incremental.gate_ms_p50": "ms",
    "operators.dedup_incremental.index_rows": "count",
    "operators.dedup_incremental.dropped_share": "share",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_busy_share": "share",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.top_stage_s": "s",
    "spark.top_stage_tasks": "count",
    "spark.task_skew_max_over_median": "ratio",
    "spark.parallel_speedup": "ratio",
}


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "tamer_spark", "__init__.py")) and os.path.isfile(
        os.path.join(ROOT, "bench.py")
    )


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    return _hwm_mb("self") + _hwm_mb(spark.sparkContext._gateway.proc.pid)


def start_spark(master: str | None = None, **conf: str):
    import tamer_spark

    spark = tamer_spark.get_spark(
        app_name="perfbench",
        master=master,
        **{
            "spark.ui.showConsoleProgress": "false",
            **conf,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Close the py4j gateway and wait until the JVM has exited (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def isolate(work: str) -> dict[str, str]:
    """Keep Spark's, the JVM's and Derby's scratch files inside ``work``
    and pin UTC (Derby timestamps go through the JVM default zone). Returns
    the session conf that must be set when the JVM starts: it also starts
    the heap at 3 GB (the maximum stays the session's), so that G1 growing
    a small initial heap on its own timing does not shift whole runs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    derby_log = os.path.join(work, "derby.log")
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.stream.error.file={derby_log} -XX:-UsePerfData -Xms3g"}


def result_line(values: dict[str, float], trace: bool, attempted: int, failed: int) -> dict:
    """The last line of a run: every declared metric of the mode, by name
    and unit. A per-layer metric of a layer the workload does not drive
    reads 0."""
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Set up, measure and check one workload; returns (record, result)."""
    n_cores = cores()
    work = os.path.join(HERE, "work", f"{workload}-{os.getpid()}")
    jvm_conf = isolate(work)
    load_start = os.getloadavg()[0]
    spark = start_spark(**jvm_conf)
    session_s = time.perf_counter() - T_START
    wl = WORKLOADS[workload](work, seed)
    try:
        fixture_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare(spark)
            fixture_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for _ in range(wl.warm_runs):
            wl.measure(spark, 0)
        warm_s = time.perf_counter() - t0

        layers: dict[str, float] = {}
        spans_path = None
        attempted = failed = 0
        if trace:
            tracer = Tracer()
            sw = SparkWindow(spark, n_cores).open()
            traced = wl.measure(spark, seconds, tracer)
            sw.close()
            attempted, failed = wl.attempted(traced), wl.check(spark, traced)
            layers = {**wl.layers(traced, tracer), **sw.metrics(), "ops_measured": wl.attempted(traced)}
            spans_path = os.path.join(HERE, "out", f"{workload}-seed{seed}.spans.jsonl")
            tracer.write(spans_path)
        # the end-to-end window, untraced; in a traced run it follows the
        # traced window and is the base of the tracing overhead
        t0 = time.perf_counter()
        window = wl.measure(spark, seconds)
        measure_s = time.perf_counter() - t0
        e2e = {"setup_s": session_s + median(fixture_s) + warm_s, **wl.e2e(window)}
        attempted += wl.attempted(window)
        failed += wl.check(spark, window)
        if trace:
            layers["trace.overhead_share"] = wl.e2e(traced)["wall_s"] / e2e["wall_s"] - 1
            # single-threaded baseline: the same unit of work on local[1]
            spark.stop()
            spark = start_spark(master="local[1]", **{"spark.sql.shuffle.partitions": "1"})
            single = wl.measure(spark, 0)
            layers["spark.parallel_speedup"] = wl.e2e(single)["wall_s"] / e2e["wall_s"]
            attempted += wl.attempted(single)
            failed += wl.check(spark, single)
            layers["failed_share"] = failed / attempted
        layers["peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        wl.close(spark)
        spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    import bench

    result = result_line(layers if trace else e2e, trace, attempted, failed)
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "end_to_end": e2e,
        "per_layer": layers,
        "samples": {"ops": wl.attempted(window), "setup_fixture_s": fixture_s, "warm_s": warm_s, "session_s": session_s,
                    "measure_s": measure_s, "total_s": time.perf_counter() - T_START},
        "spans": spans_path,
        "host": {
            "nproc": os.cpu_count(),
            "cores_used": n_cores,
            "load_1m_start": load_start,
            "load_1m_end": os.getloadavg()[0],
            "host_calib_s": bench.host_calibration(),
        },
    }
    return record, result


def write_digests() -> None:
    """Record the committed digests of every batch query that has no
    DuckDB oracle, from the program at the current commit."""
    work = os.path.join(HERE, "work", f"digests-{os.getpid()}")
    spark = start_spark(**isolate(work))
    digests = {}
    try:
        for w in WORKLOADS.values():
            if issubclass(w, batch.BatchWorkload):
                wl = w(work, 0)
                wl.prepare(spark)
                passes = wl.measure(spark, 0)
                digests[w.name] = {q: d[0] for q, d in passes.digests.items() if batch.oracle_sql(q) is None}
    finally:
        spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    with open(batch.DIGESTS, "w", encoding="utf-8") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-digests", action="store_true", help="re-record digests.json and exit")
    args = ap.parse_args(argv)
    if not program_present():
        print(f"perfbench: no tamer_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.write_digests:
        write_digests()
        return 0
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    try:
        record, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result line
        traceback.print_exc()
        return 1
    out = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
