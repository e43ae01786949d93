"""Bloom prefilter: no false negatives by construction, false positives
removed by the exact verify, bit-identical to the plain anti-join even
with a deliberately tiny (FP-heavy) filter."""

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.bloom import (
    bloom_might_contain,
    bloom_words_df,
    decontaminate_with_bloom,
)
from tamer_spark.plans import plan_shape


@pytest.fixture(scope="module")
def values(spark):
    return spark.createDataFrame(
        [(f"shingle-{i}",) for i in range(200)], "s string"
    )


def test_no_false_negatives(spark, values):
    words = bloom_words_df(values, "s", m_bits=1 << 12, k=5)
    probed = bloom_might_contain(values, "s", words)
    assert probed.filter(~F.col("bloom_hit")).count() == 0


def test_misses_mostly_rejected_at_sane_size(spark):
    members = spark.createDataFrame([(f"in-{i}",) for i in range(100)], "s string")
    others = spark.createDataFrame([(f"out-{i}",) for i in range(1000)], "s string")
    words = bloom_words_df(members, "s", m_bits=1 << 14, k=5)
    hits = bloom_might_contain(others, "s", words).filter(F.col("bloom_hit"))
    # 100 members in 16384 bits with k=5 -> fp ~ 1e-5; allow generous slack
    assert hits.count() <= 5


def test_build_rejects_unaligned_m(spark, values):
    with pytest.raises(ValueError):
        bloom_words_df(values, "s", m_bits=100)


def _exact_anti(corpus_shingled, bench, docs):
    tainted = corpus_shingled.join(bench, "s").select("doc_id").distinct()
    return docs.join(tainted, "doc_id", "left_anti").select("doc_id")


@pytest.mark.parametrize("m_bits", [64, 1 << 14])  # 64 = FP-saturated filter
def test_bitwise_identical_to_exact_anti_join(spark, m_bits):
    rows = [(i, f"gram-{i % 37}") for i in range(300)]
    corpus = spark.createDataFrame(rows, "doc_id long, s string")
    bench = spark.createDataFrame([(f"gram-{i}",) for i in range(0, 37, 5)], "s string")
    docs = corpus.select("doc_id").distinct()
    expected = {r.doc_id for r in _exact_anti(corpus, bench, docs).collect()}
    got = {
        r.doc_id
        for r in decontaminate_with_bloom(
            corpus, bench, docs, m_bits=m_bits, k=3
        ).collect()
    }
    assert got == expected


def test_distributed_words_frame_matches_literal_path(spark, monkeypatch):
    # r11: index-scale filters keep the words DISTRIBUTED — (w, word) rows
    # probed via k broadcast hash joins. Membership answers must be
    # identical bit for bit to the small-filter plan-literal probe.
    from tamer_spark.operators import bloom as B

    vals = spark.createDataFrame([(f"v{i}",) for i in range(200)], "s string")
    probe = spark.createDataFrame(
        [(f"v{i}",) for i in range(150, 250)] + [(f"miss{i}",) for i in range(50)], "s string"
    )
    words = B.bloom_words_df(vals, "s", m_bits=1 << 14)
    via_literal = {(r.s, r.bloom_hit) for r in B.bloom_might_contain(probe, "s", words).collect()}
    monkeypatch.setattr(B, "_LITERAL_WORDS_MAX", 0)  # same filter, join probe
    via_joins = {(r.s, r.bloom_hit) for r in B.bloom_might_contain(probe, "s", words).collect()}
    assert via_joins == via_literal
    # no false negatives on the join probe (v150..v199 are in the built set)
    assert all(hit for s, hit in via_joins if s.startswith("v") and int(s[1:]) < 200)


@pytest.mark.parametrize("n_words, joins", [(1024, 0), (1025, 3)])
def test_probe_strategy_follows_the_word_count(spark, n_words, joins):
    # the frame's column name states its word count (m_bits/64); up to the
    # literal budget the probe is a plan literal with no join, past it k
    # broadcast joins — and both find every member
    from tamer_spark.operators import bloom as B

    vals = spark.createDataFrame([(f"v{i}",) for i in range(50)], "s string")
    probe = spark.createDataFrame([("v7",), ("v49",), ("nope",)], "s string")
    words = B.bloom_words_df(vals, "s", m_bits=64 * n_words, k=3)
    probed = B.bloom_might_contain(probe, "s", words)
    shape = plan_shape(probed)
    assert shape.nodes["BroadcastHashJoin"] == joins, shape
    assert not shape.count("SortMergeJoin", "ShuffledHashJoin"), shape
    assert {r.s for r in probed.filter("bloom_hit").collect()} >= {"v7", "v49"}


def test_merge_df_equals_build_over_union(spark):
    from tamer_spark.operators import bloom as B

    a = spark.createDataFrame([(f"a{i}",) for i in range(30)], "v string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(30)], "v string")
    m = 1 << 12
    wc = B._word_col(m, 5)
    merged = {
        (r.w, r[wc])
        for r in B.bloom_merge_df(
            B.bloom_words_df(a, "v", m_bits=m), B.bloom_words_df(b, "v", m_bits=m)
        ).collect()
    }
    want = {(r.w, r[wc]) for r in B.bloom_words_df(a.unionByName(b), "v", m_bits=m).collect()}
    assert merged == want


def test_mismatched_sizing_is_structurally_rejected(spark):
    # r11 review: the frame encodes (m_bits, k) in the word column name,
    # so a mixed-modulus merge fails LOUDLY — a silent mismatch would
    # produce false NEGATIVES (kept duplicates) — and the probe takes its
    # modulus from the same name, so it cannot probe at another one
    import pytest

    from tamer_spark.operators import bloom as B

    vals = spark.createDataFrame([("x",), ("y",)], "v string")
    w12 = B.bloom_words_df(vals, "v", m_bits=1 << 12)
    w14 = B.bloom_words_df(vals, "v", m_bits=1 << 14)
    with pytest.raises(ValueError, match="same \\(m_bits, k\\)"):
        B.bloom_merge_df(w12, w14)
    with pytest.raises(ValueError, match="not a bloom words frame"):
        B.bloom_merge_df(vals, w12)
    with pytest.raises(ValueError, match="not a bloom words frame"):
        B.bloom_might_contain(vals, "v", vals)


def test_df_probe_plan_is_broadcast_joins_no_shuffle_of_probe_side(spark):
    # scale pin: the distributed-words probe must be k BroadcastHashJoins —
    # the probe (fact) side must NOT shuffle for the bloom test
    from tamer_spark.operators import bloom as B

    vals = spark.createDataFrame([(f"v{i}",) for i in range(50)], "s string")
    probe = spark.range(1000).selectExpr("CAST(id AS STRING) AS s")
    words_df = B.bloom_words_df(vals, "s", m_bits=1 << 17, k=3)  # past the literal budget
    shape = plan_shape(B.bloom_might_contain(probe, "s", words_df))
    assert shape.nodes["BroadcastHashJoin"] == 3, shape
    assert not shape.count("SortMergeJoin", "ShuffledHashJoin"), shape


def test_decontaminate_large_m_routes_to_distributed_words(spark):
    # r11: decontaminate_with_bloom past the plan-literal budget must keep
    # working (distributed words) and stay bit-identical to a small-m run
    from tamer_spark.operators.bloom import decontaminate_with_bloom

    corpus = spark.createDataFrame(
        [(1, "aaa"), (1, "bbb"), (2, "ccc"), (3, "ddd"), (3, "eee")], "doc_id long, s string"
    )
    bench = spark.createDataFrame([("bbb",), ("eee",)], "s string")
    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    small = {r.doc_id for r in decontaminate_with_bloom(corpus, bench, docs, m_bits=1 << 12).collect()}
    large = {r.doc_id for r in decontaminate_with_bloom(corpus, bench, docs, m_bits=1 << 17).collect()}
    assert small == large == {2}
