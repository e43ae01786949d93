"""Self-tests of the benchmark: declared metrics, inputs, output checks.

    python -m pytest perfbench/tests -q

The smoke tests share one local Spark session and run each workload once
on small inputs (the batch workloads at their real size: their committed
digests are for those tables).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import fixtures as FX  # noqa: E402
import ingest  # noqa: E402
import run as R  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# declared metrics and the result line
# ---------------------------------------------------------------------------

def test_metric_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == R.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(R.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_schema(trace):
    spec = _benchmark_json()
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    line = R.result_line({"wall_s": 1.5, "engine.epochs": 7}, trace, attempted=3, failed=0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 3
    assert list(line["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = line["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)
    assert R.result_line({}, trace, attempted=3, failed=1)["correct"] is False


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run fails fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("work", "out", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_jdbc_backfill", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------

def test_jdbc_events_are_seeded_with_a_fixed_mix():
    a, b, c = FX.jdbc_events(7, 20, 100), FX.jdbc_events(7, 20, 100), FX.jdbc_events(8, 20, 100)
    assert a == b
    assert a.rows != c.rows and len(a.rows) == len(c.rows)
    minutes = {r[1].replace(second=0, microsecond=0) for r in a.rows}
    assert len(minutes) == 20 - round(0.15 * 20)  # the quiet slots
    assert [r[0] for r in a.rows] == list(range(len(a.rows)))


def test_tail_documents_resend_only_earlier_documents():
    t = FX.tail_documents(3, n_objects=5, docs_per_object=40)
    assert t == FX.tail_documents(3, n_objects=5, docs_per_object=40)
    seen: set[int] = set()
    for obj in t.objects:
        fresh = {d["doc_id"] for d in obj} - seen
        resent = [d for d in obj if d["doc_id"] in seen]
        assert len(resent) == (0 if not seen else 4)
        seen |= fresh
    assert seen == t.unique_ids and t.sent == 5 * 40
    texts = {}
    for obj in t.objects:
        for d in obj:
            assert texts.setdefault(d["doc_id"], d["text"]) == d["text"]
    assert len(set(texts.values())) == len(texts)


# ---------------------------------------------------------------------------
# output checks (pure)
# ---------------------------------------------------------------------------

def test_drain_check_rejects_duplicates_losses_and_short_drains():
    ev = FX.jdbc_events(1, 6, 20)
    ids = sorted(ev.ids)
    end = ev.max_ts
    assert ingest.drain_ok(ids, ev.ids, end, ev.max_ts)
    assert not ingest.drain_ok(ids + ids[:1], ev.ids, end, ev.max_ts)  # duplicated row
    assert not ingest.drain_ok(ids[1:], ev.ids, end, ev.max_ts)  # lost row
    assert not ingest.drain_ok(ids, ev.ids, FX.EPOCH0, ev.max_ts)  # window short of max(ts)


def test_tail_check_rejects_duplicates_and_index_drift():
    ids = [1, 2, 3]
    assert ingest.tail_ok(ids, {1, 2, 3}, 3)
    assert not ingest.tail_ok(ids + [2], {1, 2, 3}, 4)
    assert not ingest.tail_ok(ids, {1, 2, 3}, 4)
    assert not ingest.tail_ok([1, 2], {1, 2, 3}, 2)


# ---------------------------------------------------------------------------
# smoke runs on one shared session
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    s = R.start_spark(**R.isolate(work))
    yield s
    s.stop()


def _smoke(workload, spark):
    window = workload.measure(spark, 0)
    try:
        return window, workload.attempted(window), workload.check(spark, window)
    finally:
        workload.close(spark)


def test_smoke_ingest_jdbc_backfill(spark, tmp_path):
    wl = ingest.JdbcBackfill(str(tmp_path), seed=5, minutes=4, mean_rows=40)
    wl.prepare(spark)
    window, attempted, failed = _smoke(wl, spark)
    assert attempted >= 4 and failed == 0
    assert window.rows == len(wl.events.rows)
    assert set(wl.e2e(window)) == {"rows_per_s", "epoch_ms_p50", "epoch_ms_p90", "wall_s"}


def test_corrupted_jdbc_readback_counts_as_failed(spark, tmp_path):
    """A duplicated row in the sink readback fails the drain's epochs."""
    wl = ingest.JdbcBackfill(str(tmp_path), seed=6, minutes=4, mean_rows=40)
    wl.prepare(spark)
    window = wl.measure(spark, 0)
    try:
        assert wl.check(spark, window) == 0
        out = os.path.join(wl._outputs[0][0], "out")
        epochs = sorted(d for d in os.listdir(out) if d.startswith("epoch="))
        shutil.copytree(os.path.join(out, epochs[-1]), os.path.join(out, "epoch=9999"))
        assert wl.check(spark, window) == window.epochs > 0
    finally:
        wl.close(spark)


def test_smoke_tail_objects_dedup(spark, tmp_path):
    wl = ingest.ObjectTail(str(tmp_path), seed=5, n_objects=4, docs_per_object=20)
    wl.prepare(spark)
    window, attempted, failed = _smoke(wl, spark)
    assert attempted == 4 and failed == 0
    assert wl.index_rows == [len(wl.tail.unique_ids)]
    assert len(wl.resume_ms) == 1


@pytest.mark.parametrize("name", [n for n, w in R.WORKLOADS.items() if issubclass(w, R.batch.BatchWorkload)])
def test_smoke_batch_workload(spark, tmp_path, name):
    wl = R.WORKLOADS[name](str(tmp_path), seed=5)
    wl.prepare(spark)
    window, attempted, failed = _smoke(wl, spark)
    assert attempted == len(wl.queries) and failed == 0
    wl.expected = lambda _name: "not-the-digest"  # a wrong reference fails every query
    assert wl.check(spark, window) == attempted
