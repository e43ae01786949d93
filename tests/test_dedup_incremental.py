"""Incremental dedup against a persisted index (operators/dedup_incremental).

The invariant that matters: running the corpus through in epochs against an
advancing index keeps exactly the documents that one full-corpus batch dedup
would keep (given ids increase over time, so "first occurrence wins" agrees
between the two).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.operators.dedup import dedup_exact
from tests.conftest import SF_DIR
from tamer_spark.operators.dedup_incremental import (
    append_keys,
    dedup_exact_incremental,
    dedup_minhash_incremental,
    exact_index,
    minhash_band_index,
)
from tamer_spark.plans import plan_shape


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_incremental_matches_full_batch(spark):
    old = _docs(
        spark,
        [(1, "the quick brown fox"), (2, "lorem ipsum dolor"), (3, "unique old doc")],
    )
    new = _docs(
        spark,
        [
            (10, "the quick brown fox"),  # dup of old 1 -> dropped
            (11, "fresh new document"),  # novel -> kept
            (12, "fresh new document"),  # in-batch dup of 11 -> dropped
            (13, "another novel one"),  # novel -> kept
        ],
    )
    idx = exact_index(old)
    survivors = dedup_exact_incremental(new, idx)
    got = sorted(r.doc_id for r in survivors.collect())
    assert got == [11, 13]

    # equivalence: full-batch keep set over (old ∪ new), restricted to new ids
    full_keep = {
        r.keep_id for r in dedup_exact(old.unionByName(new)).collect()
    }
    assert set(got) == full_keep & {10, 11, 12, 13}


def test_exact_incremental_epoch_loop_advances_index(spark):
    idx = exact_index(_docs(spark, [(1, "seed doc")]))
    b1 = _docs(spark, [(10, "epoch one doc"), (11, "seed doc")])
    s1 = dedup_exact_incremental(b1, idx)
    assert sorted(r.doc_id for r in s1.collect()) == [10]

    idx = append_keys(idx, s1.select("content_hash"))
    # a later epoch re-sending epoch one's doc is now deduped
    b2 = _docs(spark, [(20, "epoch one doc"), (21, "epoch two doc")])
    s2 = dedup_exact_incremental(b2, idx)
    assert sorted(r.doc_id for r in s2.collect()) == [21]


def test_exact_incremental_normalized(spark):
    idx = exact_index(_docs(spark, [(1, "Hello   World")]), normalize=True)
    new = _docs(spark, [(10, "hello world"), (11, "goodbye world")])
    got = sorted(
        r.doc_id
        for r in dedup_exact_incremental(new, idx, normalize=True).collect()
    )
    assert got == [11]


def test_minhash_incremental_drops_near_dup_keeps_novel(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    old = _docs(spark, [(1, base)])
    idx = minhash_band_index(old, k=16, bands=4)
    new = _docs(
        spark,
        [
            # one word changed -> most shingles shared -> some band collides
            (10, base.replace("lazy", "sleepy")),
            (11, "completely different text about spark sql catalyst optimizer plans"),
        ],
    )
    survivors = dedup_minhash_incremental(new, idx, k=16, bands=4)
    got = sorted(r.doc_id for r in survivors.collect())
    assert got == [11]
    # survivors keep the batch's original columns
    assert set(survivors.columns) == {"doc_id", "text"}


def test_minhash_index_bands_agree_with_batch_banding(spark):
    # an exact duplicate always collides on EVERY band
    old = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta")])
    idx = minhash_band_index(old, k=16, bands=4)
    assert idx.count() == 4  # one distinct sig per band for a single doc
    new = _docs(spark, [(10, "alpha beta gamma delta epsilon zeta")])
    assert dedup_minhash_incremental(new, idx, k=16, bands=4).count() == 0


def test_exact_incremental_plan_is_anti_join_no_cartesian(spark):
    old = _docs(spark, [(1, "a")])
    new = _docs(spark, [(10, "b")])
    plan = dedup_exact_incremental(new, exact_index(old))._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan


def test_minhash_incremental_plan_semi_then_anti(spark):
    old = _docs(spark, [(1, "a b c d")])
    new = _docs(spark, [(10, "e f g h")])
    plan = (
        dedup_minhash_incremental(new, minhash_band_index(old))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan


def test_bucketed_index_anti_join_shuffles_batch_side_only(spark):
    """The 100 TB claim from the module docstring, pinned: with the index
    stored bucketed on content_hash, the anti-join needs NO exchange on the
    index side — only the (epoch-sized) batch shuffles to meet it."""
    import shutil

    from tamer_spark.sinks.bucketed import write_bucketed

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS dedup_idx_b")
    shutil.rmtree(f"{warehouse}/dedup_idx_b", ignore_errors=True)

    old = _docs(spark, [(i, f"historical doc {i}") for i in range(50)])
    # bucket count == spark.sql.shuffle.partitions so the batch's window
    # exchange satisfies the join distribution exactly (the 100 TB layout
    # rule: pick bucket counts your epoch jobs already partition to)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    write_bucketed(exact_index(old), "dedup_idx_b", ["content_hash"], num_buckets=n_shuffle)
    idx = spark.table("dedup_idx_b")

    new = _docs(spark, [(100 + i, f"historical doc {i}") for i in range(10)]
                + [(200 + i, f"novel doc {i}") for i in range(10)])
    # at real scale the index outgrows broadcast; force the SMJ path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        survivors = dedup_exact_incremental(new, idx)
        # batch side: exactly ONE exchange (the in-batch window on digest;
        # the anti-join reuses its partitioning); index side: ZERO — the
        # bucketed scan satisfies the distribution requirement directly
        assert plan_shape(survivors).shuffles == 1
        plan = survivors._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan  # index scan is bucket-aware
        assert sorted(r.doc_id for r in survivors.collect()) == list(range(200, 210))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_exact_incremental_three_epoch_equivalence(spark):
    """Seeded multi-epoch corpus with duplicates within and across epochs:
    the epoch loop (dedup vs advancing index) keeps exactly the docs that
    one full-corpus batch dedup keeps."""
    import random

    rng = random.Random(42)
    texts = [f"text variant {rng.randrange(40)}" for _ in range(120)]
    rows = list(enumerate(texts))  # ids 0..119, increasing over time
    epochs = [rows[0:40], rows[40:80], rows[80:120]]

    survivors: list[int] = []
    idx = spark.createDataFrame([], "content_hash string")
    for ep in epochs:
        batch = _docs(spark, ep)
        s = dedup_exact_incremental(batch, idx)
        survivors.extend(r.doc_id for r in s.collect())
        idx = append_keys(idx, s.select("content_hash"))

    full = _docs(spark, rows)
    want = sorted(r.keep_id for r in dedup_exact(full).collect())
    assert sorted(survivors) == want


# ---------------------------------------------------------------------------
# Bloom-sidecar incremental dedup (r11): O(batch) epochs with no index scan
# ---------------------------------------------------------------------------

_M = 1 << 12  # 4096 bits for tens of keys: FP ~0 at test scale


def _bloom_fixture(spark):
    old = _docs(
        spark,
        [(1, "the quick brown fox"), (2, "lorem ipsum dolor"), (3, "unique old doc")],
    )
    new = _docs(
        spark,
        [
            (10, "the quick brown fox"),   # dup of index
            (11, "novel text one"),
            (12, "novel text one"),        # in-batch dup of 11
            (13, "lorem ipsum dolor"),     # dup of index
            (14, "novel text two"),
        ],
    )
    return old, new


def test_bloom_probabilistic_never_false_keeps(spark):
    # the dedup-critical direction: a bloom has NO false negatives, so every
    # true duplicate (in-index digest) must be dropped in probabilistic mode
    from tamer_spark.operators.dedup_incremental import (
        dedup_exact_incremental_bloom,
        exact_bloom_index_df,
    )

    old, new = _bloom_fixture(spark)
    words = exact_bloom_index_df(exact_index(old), m_bits=_M)
    got = sorted(r.doc_id for r in dedup_exact_incremental_bloom(new, words, m_bits=_M).collect())
    # exact survivors are {11, 14}; probabilistic may FALSE-DROP novel docs
    # (never keep a dup), so got ⊆ {11, 14} and 10/12/13 are never present
    assert set(got) <= {11, 14}
    # at 4096 bits / 4 keys FP≈0: deterministic hashing makes this stable
    assert got == [11, 14]


def test_bloom_verify_mode_is_bit_identical_to_exact(spark):
    from tamer_spark.operators.dedup_incremental import (
        dedup_exact_incremental_bloom,
        exact_bloom_index_df,
    )

    old, new = _bloom_fixture(spark)
    idx = exact_index(old)
    words = exact_bloom_index_df(idx, m_bits=_M)
    exact = dedup_exact_incremental(new, idx)
    bloom = dedup_exact_incremental_bloom(new, words, m_bits=_M, index=idx)
    assert sorted(map(tuple, bloom.collect())) == sorted(map(tuple, exact.collect()))


def test_bloom_merge_equals_build_over_union(spark):
    # bloom union is EXACT: merge(build(A), build(B)) == build(A ∪ B) —
    # the property that makes the sidecar incrementally maintainable
    from tamer_spark.operators.bloom import bloom_merge_df
    from tamer_spark.operators.dedup_incremental import exact_bloom_index_df

    a = spark.createDataFrame([(f"a{i}",) for i in range(20)], "v string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(20)], "v string")
    u = a.unionByName(b)
    wa, wb = (exact_bloom_index_df(x, "v", m_bits=_M) for x in (a, b))
    merged = bloom_merge_df(wa, wb)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, exact_bloom_index_df(u, "v", m_bits=_M).collect())
    )
    # and mismatched sizes are rejected, not silently mangled
    import pytest

    with pytest.raises(ValueError, match="same \\(m_bits, k\\)"):
        bloom_merge_df(wa, exact_bloom_index_df(b, "v", m_bits=2 * _M))


def test_bloom_epoch_loop_with_incremental_sidecar_matches_exact(spark):
    """Three epochs maintaining ONLY the bloom sidecar (verify mode carries
    the exact index too): per-epoch sidecar update is bloom_merge_df of the
    surviving batch's words — and verify mode tracks the exact loop
    bit-for-bit across every epoch."""
    import random

    from tamer_spark.operators.bloom import bloom_merge_df
    from tamer_spark.operators.dedup_incremental import (
        dedup_exact_incremental_bloom,
        exact_bloom_index_df,
    )

    rng = random.Random(7)
    rows = [(i, f"text variant {rng.randrange(40)}") for i in range(120)]
    epochs = [rows[0:40], rows[40:80], rows[80:120]]

    idx = spark.createDataFrame([], "content_hash string")
    words = exact_bloom_index_df(idx, m_bits=_M)
    got: list[int] = []
    for ep in epochs:
        batch = _docs(spark, ep)
        s = dedup_exact_incremental_bloom(batch, words, m_bits=_M, index=idx)
        got.extend(r.doc_id for r in s.collect())
        keys = s.select("content_hash")
        words = bloom_merge_df(words, exact_bloom_index_df(keys, m_bits=_M))
        idx = append_keys(idx, keys)

    want: list[int] = []
    idx2 = spark.createDataFrame([], "content_hash string")
    for ep in epochs:
        batch = _docs(spark, ep)
        s = dedup_exact_incremental(batch, idx2)
        want.extend(r.doc_id for r in s.collect())
        idx2 = append_keys(idx2, s.select("content_hash"))
    assert sorted(got) == sorted(want)


def test_bloom_probabilistic_plan_has_no_join_at_all(spark):
    # the whole point of probabilistic mode: NO index access — the plan must
    # contain no join operator of any kind (a sidecar within the literal
    # budget probes as a plan literal)
    from tamer_spark.operators.dedup_incremental import (
        dedup_exact_incremental_bloom,
        exact_bloom_index_df,
    )

    old, new = _bloom_fixture(spark)
    words = exact_bloom_index_df(exact_index(old), m_bits=_M)
    shape = plan_shape(dedup_exact_incremental_bloom(new, words, m_bits=_M))
    assert not [n for n in shape.nodes if "Join" in n], shape


def test_bloom_frame_defaults_derive_from_schema_and_existing_hash_col_ok(spark):
    # r11 review fixes, pinned: (a) m_bits/k come from the words frame's
    # encoded schema — no silent build/probe modulus mismatch is possible,
    # and an asserted m_bits that disagrees raises;
    # (b) a new_df that ALREADY carries content_hash (a prior survivor
    # frame) round-trips without duplicate columns in either mode
    from tamer_spark.operators.dedup_incremental import (
        dedup_exact_incremental_bloom,
        exact_bloom_index_df,
    )

    old, new = _bloom_fixture(spark)
    idx = exact_index(old)
    words = exact_bloom_index_df(idx, m_bits=1 << 12)
    # no m_bits passed: derived from the frame
    got = sorted(r.doc_id for r in dedup_exact_incremental_bloom(new, words).collect())
    assert got == [11, 14]
    # feed a survivor frame (has content_hash) back through both modes
    survivors = dedup_exact_incremental_bloom(new, words)
    again_prob = dedup_exact_incremental_bloom(survivors, words)
    assert again_prob.columns.count("content_hash") == 1
    again_verify = dedup_exact_incremental_bloom(survivors, words, index=idx)
    assert again_verify.columns.count("content_hash") == 1
    assert sorted(r.doc_id for r in again_verify.collect()) == [11, 14]
    import pytest

    with pytest.raises(ValueError, match="not built at m_bits=16384"):
        dedup_exact_incremental_bloom(new, words, m_bits=1 << 14)


def test_incremental_trio_differential_fuzz(spark):
    # differential fuzz over random duplicate-heavy corpora: the exact
    # incremental path, the bloom-VERIFY path, and one-shot batch dedup
    # must agree on the survivor set for every epoch split; the bloom
    # PROBABILISTIC path may only under-keep (drop extra novel docs),
    # never keep a duplicate. Bounded examples — each runs Spark jobs.
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tamer_spark.operators.dedup_incremental import (
        dedup_exact_incremental_bloom,
        exact_bloom_index_df,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        variants=st.lists(st.integers(min_value=0, max_value=12), min_size=4, max_size=40),
        split=st.integers(min_value=1, max_value=3),
    )
    def check(variants, split):
        rows = [(i, f"doc body {v}") for i, v in enumerate(variants)]
        cut = max(1, len(rows) * split // 4)
        old, new = rows[:cut], rows[cut:]
        if not new:
            return
        old_df, new_df = _docs(spark, old), _docs(spark, new)
        idx = exact_index(old_df)
        m = 1 << 12
        wl = exact_bloom_index_df(idx, m_bits=m)

        exact = {r.doc_id for r in dedup_exact_incremental(new_df, idx).collect()}
        verify = {
            r.doc_id
            for r in dedup_exact_incremental_bloom(new_df, wl, m_bits=m, index=idx).collect()
        }
        prob = {
            r.doc_id for r in dedup_exact_incremental_bloom(new_df, wl, m_bits=m).collect()
        }
        # ground truth: batch dedup over old ∪ new, survivors restricted to new
        want = {
            r.keep_id for r in dedup_exact(old_df.unionByName(new_df)).collect()
        } & {i for i, _ in new}
        assert exact == want
        assert verify == want
        assert prob <= want  # may false-drop, never false-keep
        # dropped-by-bloom docs must all be bloom FPs on NOVEL texts —
        # i.e. every true duplicate in `new` is outside prob
        dup_texts = {t for _, t in old}
        for i, t in new:
            if t in dup_texts:
                assert i not in prob

    check()


# ---------------------------------------------------------------------------
# r12: the LSH posting index bands as the pair finder bands
# ---------------------------------------------------------------------------

def _posting_index(df):
    """History's (doc_id, band_id, band_sig) rows, banded as the pair finder
    bands (k=16, bands=4, n=3, seed=42)."""
    from tamer_spark.operators.dedup import lsh_bands, minhash_signatures

    return lsh_bands(minhash_signatures(df, "text", "doc_id", 16, 3, 42), 16, 4).distinct()


def test_minhash_lsh_pairs_none_cap_means_uncapped_not_empty(spark):
    """max_bucket=None is UNCAPPED (the similarity-module convention).
    Before the r12 guard, `count <= NULL` silently dropped every bucket —
    zero pairs with no error (the silent-empty mode-contract trap, same
    class as the r11 salted_join fix)."""
    from tamer_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    uncapped = minhash_lsh_pairs(docs, max_bucket=None).count()
    huge_cap = minhash_lsh_pairs(docs, max_bucket=10**9).count()
    assert uncapped == huge_cap > 0


def test_minhash_band_index_keys_equal_pair_finder_banding(spark):
    """The index build bands exactly as the pair finder does: the band keys
    of ``minhash_band_index`` are the pair finder's ``lsh_bands`` keys, and
    self-joining the posting index on them yields minhash_lsh_pairs' pairs
    with the same matching-band counts."""
    from tamer_spark.operators.dedup import lsh_bands, minhash_lsh_pairs, minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    finder_keys = {
        tuple(r) for r in lsh_bands(minhash_signatures(docs), 16, 4).select("band_id", "band_sig").collect()
    }
    index_keys = {tuple(r) for r in minhash_band_index(docs).collect()}
    assert index_keys == finder_keys and index_keys

    post = _posting_index(docs)
    a, b = post.alias("a"), post.alias("b")
    from_index = {
        tuple(r)
        for r in a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .count()
        .collect()
    }
    pairs = {tuple(r) for r in minhash_lsh_pairs(docs, max_bucket=None).collect()}
    assert from_index == pairs and pairs
