"""Scan-parallelism floor (queries._scan_parallelism_floor): the
unsplittable-input repair fires only when the file would scan in fewer
splits than the session's parallelism, is an exact no-op at scale-shaped
settings, and never changes values."""

import pytest
from pyspark.sql import functions as F

from tamer_spark import queries as Q
from tamer_spark.plans.inspect import explain_str, plan_shape

SF_DIR = "/root/testdata/sf0.001"


def _rr_count(df) -> int:
    return sum(p.startswith("RoundRobinPartitioning") for p in plan_shape(df).exchanges)


def test_floor_fires_on_single_split_file(spark):
    df = Q._t(spark, SF_DIR, "embeddings", floor=True)
    assert _rr_count(df) == 1, explain_str(df)
    # and it is NOT a keyed shuffle: the plan-pin helper must not count it
    assert plan_shape(df).shuffles == 0


def test_floor_noop_when_split_count_reaches_parallelism(spark):
    # simulate the 100 TB shape: with a tiny maxPartitionBytes the file
    # yields >= defaultParallelism splits, so the floor must not fire
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        df = Q._t(spark, SF_DIR, "embeddings", floor=True)
        assert _rr_count(df) == 0, explain_str(df)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_floor_is_opt_in(spark):
    # default (no floor=) reads are untouched — cheap-map queries measured
    # SLOWER with the blanket repair (q1 2.16x, dedup_exact 2.17x)
    df = Q._t(spark, SF_DIR, "embeddings")
    assert _rr_count(df) == 0, explain_str(df)


def test_floor_skips_broadcast_sized_dims(spark):
    # region/nation are under the minBytes threshold — no exchange
    df = Q._t(spark, SF_DIR, "region", floor=True)
    assert _rr_count(df) == 0, explain_str(df)


def test_floor_preserves_values(spark):
    cols = ("l_orderkey", "l_linenumber", "l_quantity")
    on = Q._t(spark, SF_DIR, "lineitem", floor=True).select(*cols)
    off = Q._t(spark, SF_DIR, "lineitem", floor=False).select(*cols)
    assert _rr_count(on) == 1 and _rr_count(off) == 0
    assert {tuple(r) for r in on.collect()} == {tuple(r) for r in off.collect()}


def test_floor_does_not_block_pushdown_or_pruning(spark):
    from tamer_spark.plans.inspect import pushed_filters, read_schema_columns

    df = Q._t(spark, SF_DIR, "orders", floor=True).filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    assert any("o_orderstatus" in p for p in pushed_filters(df)), explain_str(df)
    scans = read_schema_columns(df)
    assert scans and all(s <= {"o_orderkey", "o_orderstatus"} for s in scans), scans
