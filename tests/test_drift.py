"""Distribution drift (TVD): hand-checked shares, absent-category
surfacing, empty-epoch guard, symmetry, bounds, and the scale-shape pin."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.operators.drift import category_drift, total_tvd_ppm
from tamer_spark.plans import plan_shape


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_drift_hand_checked_shares_and_total(spark):
    a = _docs(spark, [(1, "en"), (2, "en"), (3, "en"), (4, "de")])  # en 75%, de 25%
    b = _docs(spark, [(5, "en"), (6, "de"), (7, "de"), (8, "de")])  # en 25%, de 75%
    per = {r.lang: r for r in category_drift(a, b, ("lang",)).collect()}
    assert per["en"].share_a_ppm == 750_000 and per["en"].share_b_ppm == 250_000
    assert per["en"].drift_ppm == 500_000 and per["de"].drift_ppm == 500_000
    tot = total_tvd_ppm(category_drift(a, b, ("lang",))).collect()[0]
    assert (tot.n_a, tot.n_b, tot.tvd_ppm) == (4, 4, 500_000)  # TVD = 0.5


def test_drift_identical_epochs_are_zero(spark):
    a = _docs(spark, [(1, "en"), (2, "de"), (3, "fr")])
    per = category_drift(a, a, ("lang",))
    assert all(r.drift_ppm == 0 for r in per.collect())
    assert total_tvd_ppm(per).collect()[0].tvd_ppm == 0


def test_drift_absent_category_surfaces_with_zero_count(spark):
    """A slice present only in one epoch must appear (count 0 on the other
    side) — the vanishing-language regression is the drift most worth
    flagging, and an inner join would hide it entirely."""
    a = _docs(spark, [(1, "en"), (2, "en")])
    b = _docs(spark, [(3, "en"), (4, "xx")])
    per = {r.lang: r for r in category_drift(a, b, ("lang",)).collect()}
    assert per["xx"].n_a == 0 and per["xx"].n_b == 1
    assert per["xx"].share_a_ppm == 0 and per["xx"].drift_ppm == 500_000


def test_drift_symmetric_and_bounded(spark):
    a = _docs(spark, [(i, l) for i, l in enumerate(["en"] * 7 + ["de"] * 2 + ["fr"])])
    b = _docs(spark, [(i, l) for i, l in enumerate(["en"] * 2 + ["de"] * 5 + ["xx"] * 3)])
    t_ab = total_tvd_ppm(category_drift(a, b, ("lang",))).collect()[0].tvd_ppm
    t_ba = total_tvd_ppm(category_drift(b, a, ("lang",))).collect()[0].tvd_ppm
    assert t_ab == t_ba
    assert 0 <= t_ab <= 1_000_000
    # disjoint supports → TVD = 1 (within the floor-div ppm granularity)
    c = _docs(spark, [(1, "aa"), (2, "aa")])
    d = _docs(spark, [(3, "bb")])
    t_cd = total_tvd_ppm(category_drift(c, d, ("lang",))).collect()[0].tvd_ppm
    assert t_cd == 1_000_000


def test_drift_empty_epoch_yields_null_shares_not_crash(spark):
    """The degenerate-input rule (the r12-brief lesson): an empty epoch
    gives NULL shares and NULL drift, never a division error."""
    a = _docs(spark, [(1, "en")])
    b = _docs(spark, []).filter("doc_id > 0")
    rows = category_drift(a, b, ("lang",)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_b == 0 and r.share_b_ppm is None and r.drift_ppm is None


def test_drift_counts_before_join_plan_shape(spark):
    """The raw corpora never meet: both sides partial-aggregate to category
    counts BEFORE the full-outer join (the join input is category-bounded),
    and the totals enter as broadcast 1-row frames."""
    a = _docs(spark, [(i, "en") for i in range(10)])
    b = _docs(spark, [(i, "de") for i in range(10)])
    shape = plan_shape(category_drift(a, b, ("lang",)))
    assert shape.count("SortMergeJoin", "ShuffledHashJoin") <= 1, shape
    assert shape.count("BroadcastNestedLoopJoin", "BroadcastExchange"), shape


# ---------------------------------------------------------------------------
# embedding_drift (r12 continuation): the vector-column sibling
# ---------------------------------------------------------------------------

def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_drift_identical_epochs_zero(spark):
    from tamer_spark.operators.drift import embedding_drift

    a = _vecs(spark, [(1, [0.1, 0.2]), (2, [0.3, -0.4])])
    r = embedding_drift(a, a).collect()[0]
    assert r.centroid_dist_sq == 0 and r.msn_a == r.msn_b and r.n_a == r.n_b == 2


def test_embedding_drift_constant_shift_measured_exactly(spark):
    """Shift every vector of epoch B by +0.1 on dim 0 (quantized +100):
    centroid_dist_sq must be exactly 100² (floor-div means shift by exactly
    the constant when every member shifts by it)."""
    from tamer_spark.operators.drift import embedding_drift

    base = [(i, [0.001 * i, 0.2]) for i in range(10)]
    shifted = [(i, [0.001 * i + 0.1, 0.2]) for i in range(10)]
    r = embedding_drift(_vecs(spark, base), _vecs(spark, shifted)).collect()[0]
    assert r.centroid_dist_sq == 100 * 100


def test_embedding_drift_norm_rescale_detected_with_stable_centroid(spark):
    """A symmetric rescale (new encoder checkpoint doubling norms) moves
    msn ~4× while the centroid of a sign-balanced corpus stays ~put —
    the second detector earning its column."""
    from tamer_spark.operators.drift import embedding_drift

    a = _vecs(spark, [(1, [0.2, -0.3]), (2, [-0.2, 0.3])])
    b = _vecs(spark, [(1, [0.4, -0.6]), (2, [-0.4, 0.6])])
    r = embedding_drift(a, b).collect()[0]
    assert r.msn_b == 4 * r.msn_a
    assert r.centroid_dist_sq == 0  # balanced corpus: centroid unmoved


def test_embedding_drift_matches_driver_recompute_on_fixture(spark):
    from tests.conftest import SF_DIR

    from tamer_spark.operators.drift import embedding_drift

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = emb.filter("vec_id % 2 = 0")
    b = emb.filter("vec_id % 2 = 1")
    r = embedding_drift(a, b).collect()[0]

    def stats(rows):
        vecs = [[round(x * 1000) for x in row.embedding] for row in rows]
        n = len(vecs)
        dim = len(vecs[0])
        means = [sum(v[t] for v in vecs) // n for t in range(dim)]
        msn = sum(sum(x * x for x in v) for v in vecs) // n
        return means, msn, n

    ma, msna, na = stats(a.collect())
    mb, msnb, nb = stats(b.collect())
    assert (r.n_a, r.n_b) == (na, nb)
    assert r.msn_a == msna and r.msn_b == msnb
    assert r.centroid_dist_sq == sum((x - y) ** 2 for x, y in zip(ma, mb))


# -------------------------------------- numeric drift / mergeable histograms


def test_value_histogram_grid_clamp_and_merge(spark):
    from tamer_spark.operators.drift import histogram_merge, value_histogram

    df = spark.createDataFrame([(v,) for v in [0, 1, 63, 64, 500, -9, None]], "val long")
    # frozen tiny grid: lo=0, width=10, B=4 → buckets 0..3, out-of-range clamps
    h = {r.bucket: r.cnt for r in value_histogram(df, "val", 0, 10, 4).collect()}
    # -9 clamps to 0; 0,1 → 0; 63,64,500 clamp to 3; NULL dropped
    assert h == {0: 3, 3: 3}
    # mergeability: per-half histograms fold to the union's (cms_merge law).
    # Deterministic predicate split — limit() without order is not
    # guaranteed to pick the same rows in two independent plans.
    from pyspark.sql import functions as SF

    a = value_histogram(df.filter(SF.col("val") < 60), "val", 0, 10, 4)
    b = value_histogram(df.filter(~(SF.col("val") < 60)), "val", 0, 10, 4)
    merged = {r.bucket: r.cnt for r in histogram_merge(a, b).collect()}
    assert merged == h


def test_numeric_drift_mass_shift_detected(spark):
    from tamer_spark.operators.drift import numeric_drift, total_tvd_ppm

    a = spark.createDataFrame([(v,) for v in [5] * 80 + [25] * 20], "val long")
    b = spark.createDataFrame([(v,) for v in [5] * 20 + [25] * 80], "val long")
    per = numeric_drift(a, b, "val", lo=0, width=10, n_buckets=4)
    rows = {r.bucket: (r.n_a, r.n_b, r.drift_ppm) for r in per.collect()}
    assert rows == {0: (80, 20, 600_000), 2: (20, 80, 600_000)}
    [tot] = total_tvd_ppm(per).collect()
    assert (tot.n_a, tot.n_b, tot.tvd_ppm) == (100, 100, 600_000)


def test_numeric_drift_identical_epochs_zero(spark):
    from tamer_spark.operators.drift import numeric_drift, total_tvd_ppm

    a = spark.createDataFrame([(v,) for v in range(100)], "val long")
    per = numeric_drift(a, a, "val", lo=0, width=5, n_buckets=32)
    assert total_tvd_ppm(per).collect()[0].tvd_ppm == 0
    assert all(r.drift_ppm == 0 for r in per.collect())


def test_numeric_drift_nulls_never_reach_bucket_zero(spark):
    """Regression (r12): greatest(NULL, 0) is 0 in Spark (greatest/least
    skip NULLs), so an unfiltered NULL value would silently land in bucket
    0 — NULLs must drop before the clamp."""
    from tamer_spark.operators.drift import numeric_drift

    a = spark.createDataFrame([(5,), (None,), (None,)], "val long")
    b = spark.createDataFrame([(5,)], "val long")
    per = numeric_drift(a, b, "val", lo=0, width=10, n_buckets=4).collect()
    assert {(r.bucket, r.n_a, r.n_b) for r in per} == {(0, 1, 1)}
    assert all(r.drift_ppm == 0 for r in per)


def test_vocab_growth_curve_and_zero_debut_bucket(spark):
    from tamer_spark.operators.drift import vocab_growth

    docs = spark.createDataFrame(
        [
            (0, "a b a"),        # debuts: a, b
            (0, "b c"),          # debut: c
            (1, "a b c"),        # no debuts — bucket must still surface
            (2, "d a"),          # debut: d
        ],
        "vb long, text string",
    )
    got = {
        r.bucket: (r.n_occurrences, r.n_new_terms, r.cum_vocab)
        for r in vocab_growth(docs, "vb").collect()
    }
    assert got == {0: (5, 3, 3), 1: (3, 0, 3), 2: (2, 1, 4)}


def test_vocab_growth_debut_is_min_bucket_and_normalization(spark):
    # a term seen in buckets 2 then 0 debuts at 0 (min, not first-row);
    # normalization lowercases and collapses whitespace before counting
    from tamer_spark.operators.drift import vocab_growth

    docs = spark.createDataFrame(
        [(2, "Zeta  yy"), (0, "zeta"), (1, "YY")],
        "vb long, text string",
    )
    got = {
        r.bucket: (r.n_new_terms, r.cum_vocab)
        for r in vocab_growth(docs, "vb").collect()
    }
    assert got == {0: (1, 1), 1: (1, 2), 2: (0, 2)}


def test_vocab_growth_n_window_guard(spark):
    import pytest

    from tamer_spark.operators.drift import vocab_growth

    docs = spark.createDataFrame(
        [(i, f"w{i}") for i in range(5)], "vb long, text string"
    )
    with pytest.raises(ValueError, match="exceeds n_window"):
        vocab_growth(docs, "vb", n_window=3)
    # generous bound passes and the last bucket's cum equals total vocab
    rows = vocab_growth(docs, "vb", n_window=64).collect()
    assert max(r.cum_vocab for r in rows) == 5


def test_vocab_growth_null_bucket_dropped(spark):
    # NULL buckets are dropped at the source: debut-at-NULL is
    # meaningless for an ordered curve, and NULL window ordering is
    # engine-divergent — so neither the occurrences nor the debuts of a
    # NULL-bucket doc may influence any real bucket
    from tamer_spark.operators.drift import vocab_growth

    docs = spark.createDataFrame(
        [(0, "a b"), (None, "a z q"), (1, "b c")],
        "vb long, text string",
    )
    got = {
        r.bucket: (r.n_occurrences, r.n_new_terms, r.cum_vocab)
        for r in vocab_growth(docs, "vb").collect()
    }
    # 'z'/'q' never debut anywhere; 'a' debuts at 0 (not at NULL)
    assert got == {0: (2, 2, 2), 1: (2, 1, 3)}
