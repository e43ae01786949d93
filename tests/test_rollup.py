"""Continuous-aggregate invariants: incremental == batch recompute, replay
idempotence, compaction preserves results, engine-loop integration."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from tamer_spark.engine import Pipeline
from tamer_spark.operators.rollup import ContinuousRollup, rollup_sink
from tamer_spark.sources import JdbcTumblingSource
from tamer_spark.state import fingerprint

UTC = timezone.utc
T0 = datetime(2024, 1, 1, tzinfo=UTC)


def _events(spark, n, start=0):
    rows = [
        (start + i, T0 + timedelta(minutes=7 * (start + i)), (start + i) % 3, float(i))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "event_id long, ts timestamp, kind int, v double")


def _aggregate(df):
    return df.groupBy(F.date_trunc("hour", "ts").alias("hour"), "kind").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_c")
    )


def _check_equals_batch(spark, rollup, all_events):
    got = {
        (r.hour, r.kind): (r.n, r.sum_c) for r in rollup.read(spark).collect()
    }
    want = {(r.hour, r.kind): (r.n, r.sum_c) for r in _aggregate(all_events).collect()}
    assert got == want


def test_incremental_equals_batch_and_replay_idempotent(spark, tmp_path):
    rollup = ContinuousRollup(str(tmp_path / "r"), ["hour", "kind"], ["n", "sum_c"])
    b1, b2 = _events(spark, 40), _events(spark, 25, start=40)
    rollup.write(_aggregate(b1), epoch=0)
    rollup.write(_aggregate(b2), epoch=1)
    _check_equals_batch(spark, rollup, b1.unionByName(b2))
    # crashed epoch replay: same epoch id overwrites, never double-counts
    rollup.write(_aggregate(b2), epoch=1)
    _check_equals_batch(spark, rollup, b1.unionByName(b2))


def test_compaction_preserves_results(spark, tmp_path):
    rollup = ContinuousRollup(str(tmp_path / "r"), ["hour", "kind"], ["n", "sum_c"])
    batches = [_events(spark, 20, start=20 * i) for i in range(4)]
    for i, b in enumerate(batches):
        rollup.write(_aggregate(b), epoch=i)
    rollup.compact(spark)
    all_ev = batches[0]
    for b in batches[1:]:
        all_ev = all_ev.unionByName(b)
    _check_equals_batch(spark, rollup, all_ev)
    # post-compaction epochs keep accumulating
    extra = _events(spark, 10, start=100)
    rollup.write(_aggregate(extra), epoch=5)
    _check_equals_batch(spark, rollup, all_ev.unionByName(extra))


def test_compaction_of_a_uri_path_folds_each_partial_once(spark, tmp_path):
    """A ``file://`` rollup compacts like a local path: the partials are
    replaced by their fold, not summed again next to it."""
    from tamer_spark.sinks.base import _epochs

    path = (tmp_path / "r").as_uri()
    rollup = ContinuousRollup(path, ["k"], ["v"])
    for e in range(3):
        rollup.write(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"), e)

    def merged():
        return {r.k: r.v for r in rollup.read(spark).collect()}

    assert merged() == {"a": 3, "b": 6}
    rollup.compact(spark)
    assert merged() == {"a": 3, "b": 6}
    assert _epochs(spark, path) == [0]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["r"]


def test_engine_driven_rollup(spark, tmp_path):
    """Full loop: tumbling-window source over an events table, per-epoch
    partial aggregation, merged rollup == batch answer."""
    ev = _events(spark, 200)
    ev.write.parquet(str(tmp_path / "events"))

    def read_sql(spark_, sql):
        frm, to = sql.split("'")[1], sql.split("'")[3]
        return spark_.read.parquet(str(tmp_path / "events")).filter(
            (F.col("ts") > frm) & (F.col("ts") <= to)
        )

    source = JdbcTumblingSource(
        url="jdbc:x",
        query_template="SELECT * FROM events WHERE ts > '{from_ts}' AND ts <= '{to_ts}'",
        ts_column="ts",
        from_ts=T0 - timedelta(seconds=1),
        step=timedelta(hours=6),
        now_fn=lambda: T0 + timedelta(days=10),
        read_sql=read_sql,
    )
    rollup = ContinuousRollup(str(tmp_path / "r"), ["hour", "kind"], ["n", "sum_c"])
    Pipeline(source, rollup_sink(rollup, _aggregate), str(tmp_path / "cp"), poll_interval_s=0.0).run(
        spark, max_iterations=12
    )
    _check_equals_batch(spark, rollup, ev)
