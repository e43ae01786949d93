"""SCD2: history preservation and idempotent re-ingestion."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from tamer_spark.operators.scd2 import scd2_apply, scd2_init

T1, T2 = datetime(2024, 1, 1), datetime(2024, 2, 1)


def _dim(spark):
    day0 = spark.createDataFrame(
        [(1, "alice", "nyc"), (2, "bob", "sf")], "id long, name string, city string"
    )
    return scd2_init(day0, "id", F.lit(T1).cast("timestamp"))


def test_change_closes_and_appends(spark):
    dim = _dim(spark)
    upd = spark.createDataFrame([(1, "alice", "berlin")], "id long, name string, city string")
    out = scd2_apply(dim, upd, "id", F.lit(T2).cast("timestamp"))
    rows = sorted(
        ((r.id, r.city, r.valid_from, r.valid_to) for r in out.collect())
    )
    assert rows == [
        (1, "berlin", T2, None),  # new open version
        (1, "nyc", T1, T2),       # closed old version
        (2, "sf", T1, None),      # untouched
    ]


def test_unchanged_reingestion_is_noop(spark):
    dim = _dim(spark)
    same = spark.createDataFrame([(1, "alice", "nyc")], "id long, name string, city string")
    out = scd2_apply(dim, same, "id", F.lit(T2).cast("timestamp"))
    assert sorted((r.id, r.valid_to) for r in out.collect()) == [(1, None), (2, None)]
    assert out.count() == 2  # no spurious versions


def test_new_key_inserts_open_version(spark):
    dim = _dim(spark)
    new = spark.createDataFrame([(3, "carol", "tokyo")], "id long, name string, city string")
    out = scd2_apply(dim, new, "id", F.lit(T2).cast("timestamp"))
    assert out.count() == 3
    carol = out.filter(F.col("id") == 3).collect()[0]
    assert (carol.valid_from, carol.valid_to) == (T2, None)
