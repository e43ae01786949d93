"""Deterministic seeded corpus shuffle (operators/mixing.seeded_shuffle) —
the training-order materialization step. Pins reproducibility, seed
sensitivity, per-shard position contiguity, shard balance, and the plan
posture (one hash shuffle, never a single-partition window)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from tamer_spark.operators.mixing import seeded_shuffle


def _ids(spark, n=480):
    return spark.range(n).withColumnRenamed("id", "doc_id")


def test_same_seed_reproduces_bit_for_bit(spark):
    a = sorted(map(tuple, seeded_shuffle(_ids(spark), seed="s1").collect()))
    b = sorted(map(tuple, seeded_shuffle(_ids(spark), seed="s1").collect()))
    assert a == b


def test_different_seed_permutes(spark):
    a = {r.doc_id: (r.shard, r.pos) for r in seeded_shuffle(_ids(spark), seed="s1").collect()}
    b = {r.doc_id: (r.shard, r.pos) for r in seeded_shuffle(_ids(spark), seed="s2").collect()}
    moved = sum(1 for d in a if a[d] != b[d])
    # md5 keying: essentially every doc lands elsewhere
    assert moved > 400


def test_key_matches_reference_md5(spark):
    rows = seeded_shuffle(_ids(spark, 16), seed="s1").collect()
    for r in rows:
        expect = hashlib.md5(f"s1:{r.doc_id}".encode()).hexdigest()
        assert r.shuffle_key == expect
        assert r.shard == int(expect[:15], 16) % 8


def test_positions_contiguous_within_shard(spark):
    rows = seeded_shuffle(_ids(spark), seed="s1", n_shards=8).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == set(range(8))
    for shard, rs in by_shard.items():
        assert sorted(r.pos for r in rs) == list(range(1, len(rs) + 1))
        # pos order == (key, id) order within the shard
        ordered = sorted(rs, key=lambda r: (r.shuffle_key, r.doc_id))
        assert [r.pos for r in ordered] == list(range(1, len(rs) + 1))


def test_shard_balance(spark):
    rows = seeded_shuffle(_ids(spark, 4096), seed="s1", n_shards=8).collect()
    counts = [0] * 8
    for r in rows:
        counts[r.shard] += 1
    assert sum(counts) == 4096
    # md5 is uniform: loose 2x band around the 512 mean
    assert min(counts) > 256 and max(counts) < 1024, counts


def test_total_order_is_shard_then_pos(spark):
    # (shard, pos) is a total order covering every row exactly once
    rows = seeded_shuffle(_ids(spark, 100), seed="s1", n_shards=4).collect()
    keys = {(r.shard, r.pos) for r in rows}
    assert len(keys) == 100


def test_plan_one_shuffle_no_single_partition(spark):
    """The 100 TB posture: one hash exchange on shard + per-shard sort —
    a single-partition window (global row_number) would serialize the
    corpus through one task and must never appear."""
    from tamer_spark.plans import plan_shape
    from tamer_spark.queries import seeded_shuffle_docs_q
    from tests.conftest import SF_DIR

    shape = plan_shape(seeded_shuffle_docs_q(spark, SF_DIR))
    assert shape.shuffles == 1, shape
    assert "SinglePartition" not in shape.exchanges, shape


def test_null_id_propagates_null_key_not_constant(spark):
    """Review fix: concat_ws SKIPS a NULL id (constant md5(seed) key);
    concat propagates NULL like the oracle's `||` — pinned here."""
    df = spark.createDataFrame([(1,), (None,), (2,)], "doc_id long")
    rows = {r.doc_id: r for r in seeded_shuffle(df, seed="s1").collect()}
    assert rows[None].shuffle_key is None and rows[None].shard is None
    expect = hashlib.md5(b"s1:1").hexdigest()
    assert rows[1].shuffle_key == expect
