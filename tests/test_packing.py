"""Sequence-packing invariants: budget respected, bins contiguous, offsets
consistent, and the greedy applyInPandas recurrence matches a pure-Python
reference on the real fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.operators.packing import pack_greedy, pack_offsets, with_pack_group
from tamer_spark.plans import plan_shape
from tests.conftest import SF_DIR

BUDGET, GROUPS = 128, 4


def _toks(spark, rows):
    return with_pack_group(
        spark.createDataFrame(rows, "doc_id long, n_tokens long"), groups=GROUPS
    )


def test_greedy_bins_respect_budget(spark):
    rows = [(i, (i * 37) % 90 + 1) for i in range(200)]
    out = pack_greedy(_toks(spark, rows), budget=BUDGET)
    fills = (
        out.groupBy("pack_group", "bin_id")
        .agg(F.sum("n_tokens").alias("fill"), F.count("*").alias("n_docs"))
        .collect()
    )
    for r in fills:
        # a bin may exceed the budget only when a single oversized doc owns it
        assert r.fill <= BUDGET or r.n_docs == 1, r


def test_greedy_oversized_doc_gets_own_bin(spark):
    rows = [(0, 50), (4, 500), (8, 50)]  # all pack_group 0 (GROUPS=4)
    out = {r.doc_id: r.bin_id for r in pack_greedy(_toks(spark, rows), budget=BUDGET).collect()}
    assert out[0] == 0 and out[4] == 1 and out[8] == 2


def test_greedy_bins_contiguous_in_id_order(spark):
    rows = [(i, (i * 13) % 70 + 1) for i in range(100)]
    out = pack_greedy(_toks(spark, rows), budget=BUDGET).collect()
    by_group: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.pack_group, r.doc_id)):
        by_group.setdefault(r.pack_group, []).append(r.bin_id)
    for bins in by_group.values():
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:])), bins


def test_greedy_matches_python_reference(spark):
    rows = [(i, (i * 53) % 160 + 1) for i in range(150)]
    got = {r.doc_id: r.bin_id for r in pack_greedy(_toks(spark, rows), budget=BUDGET).collect()}
    expect = {}
    for g in range(GROUPS):
        fill, b = 0, 0
        for doc_id, n in sorted(r for r in rows if r[0] % GROUPS == g):
            if fill > 0 and fill + n > BUDGET:
                b, fill = b + 1, 0
            fill += n
            expect[doc_id] = b
    assert got == expect


def test_offsets_are_consistent_running_sums(spark):
    rows = [(i, (i * 29) % 80) for i in range(120)]  # includes 0-token docs
    out = pack_offsets(_toks(spark, rows), budget=BUDGET).collect()
    by_group: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.pack_group, r.doc_id)):
        by_group.setdefault(r.pack_group, []).append(r)
    for rs in by_group.values():
        assert rs[0].start_off == 0
        for a, b in zip(rs, rs[1:]):
            assert b.start_off == a.start_off + a.n_tokens
    for r in out:
        assert r.seq_first == r.start_off // BUDGET
        assert r.seq_last == (r.start_off + max(r.n_tokens, 1) - 1) // BUDGET
        assert r.seq_last >= r.seq_first


def test_pack_query_single_shuffle_per_layout(spark):
    # offsets layout: the window's exchange is the only one before the join
    from tamer_spark.queries import pack_sequences_q
    df = pack_sequences_q(spark, SF_DIR)
    assert plan_shape(df).shuffles <= 3, "pack layouts must shuffle once each (join may add one)"


# --- stratified source mixing ---------------------------------------------

def test_stratified_mix_hits_exact_quotas(spark):
    from tamer_spark.operators.mixing import stratified_mix

    rows = [(i, "heavy" if i % 3 == 0 else "light") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # heavy: 30 docs weight 4; light: 60 docs weight 1 → limiting = heavy
    # (30/4 < 60/1); quotas: heavy 30, light (1*30)//4 = 7
    w = F.when(F.col("source") == "heavy", 4).otherwise(1)
    out = stratified_mix(df, w).collect()
    kept = {}
    for r in out:
        kept[r.source] = kept.get(r.source, 0) + 1
    assert kept == {"heavy": 30, "light": 7}


def test_stratified_mix_membership_stable_under_growth(spark):
    from tamer_spark.operators.mixing import stratified_mix

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(40)]
    w = F.lit(1)
    small = stratified_mix(spark.createDataFrame(rows, "doc_id long, source string"), w)
    kept_small = {(r.doc_id) for r in small.collect()}
    # growing a source only moves the rank boundary: previously-kept docs
    # with rank within the (unchanged) quota stay kept
    rows2 = rows + [(100 + i, "b") for i in range(10)]
    big = stratified_mix(spark.createDataFrame(rows2, "doc_id long, source string"), w)
    kept_big = {(r.doc_id) for r in big.collect()}
    # quota for 'a' unchanged (still limiting at 20): its kept set identical
    a_small = {d for d in kept_small if d % 2 == 0}
    a_big = {d for d in kept_big if d % 2 == 0 and d < 100}
    assert a_small == a_big
