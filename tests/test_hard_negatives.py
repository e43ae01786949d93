"""Hard-negative mining (operators/similarity.hard_negatives) — per-anchor
top-k most-similar different-label vectors from shared LSH buckets, the
contrastive-training data-prep stage — and contrastive_pairs, which mines
both sides off one join. Pins label semantics (incl. NULL), ranking/
tie-break, the bucket-cap skew guard, and the plan posture."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.operators.similarity import hard_negatives


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_negatives_have_different_label_and_exclude_self(spark):
    # all four vectors identical → same bucket, cosine 1 for every pair
    v = [1.0] * 8
    df = _emb(spark, [(1, v, 0), (2, v, 0), (3, v, 1), (4, v, 1)])
    out = hard_negatives(df, k=5, dim=8).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.query_id, set()).add(r.neighbor_id)
    # each anchor's negatives are exactly the two other-label vectors
    assert by_anchor == {1: {3, 4}, 2: {3, 4}, 3: {1, 2}, 4: {1, 2}}


def test_hardest_negative_ranks_first(spark):
    # near/far chosen to share base's LSH bucket (217 for this seed/dim —
    # verified against lsh_bucket_sql) so both are candidates
    base = [1.0] + [0.0] * 7
    near = [1.0, 0.1] + [0.0] * 6   # cosine ~0.995 with base
    far = [1.0, 0.5] + [0.0] * 6    # cosine ~0.894 with base
    df = _emb(spark, [(1, base, 0), (2, near, 1), (3, far, 1)])
    out = {(r.query_id, r.rank): r.neighbor_id for r in hard_negatives(df, k=2, dim=8).collect()}
    assert out[(1, 1)] == 2 and out[(1, 2)] == 3


def test_bucket_miss_is_a_less_hard_negative(spark):
    # the LSH contract: a candidate in ANOTHER bucket is simply absent —
    # [1,1,...] hashes away from base's bucket for this seed, so only the
    # same-bucket (harder) negative is mined
    base = [1.0] + [0.0] * 7
    near = [1.0, 0.1] + [0.0] * 6
    other_bucket = [1.0, 1.0] + [0.0] * 6
    df = _emb(spark, [(1, base, 0), (2, near, 1), (3, other_bucket, 1)])
    got = [r for r in hard_negatives(df, k=5, dim=8).collect() if r.query_id == 1]
    assert [(r.rank, r.neighbor_id) for r in got] == [(1, 2)]


def test_k_bounds_output_and_tie_breaks_on_id(spark):
    v = [1.0] * 8
    df = _emb(spark, [(1, v, 0)] + [(i, v, 1) for i in range(2, 8)])
    out = [r for r in hard_negatives(df, k=3, dim=8).collect() if r.query_id == 1]
    # all negatives tie at cosine 1.0 → smallest ids win, ranks 1..3
    assert sorted((r.rank, r.neighbor_id) for r in out) == [(1, 2), (2, 3), (3, 4)]


def test_null_label_vectors_yield_no_pairs(spark):
    v = [1.0] * 8
    df = _emb(spark, [(1, v, 0), (2, v, None), (3, v, 1)])
    out = hard_negatives(df, k=5, dim=8).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert 2 not in ids
    assert {r.query_id for r in out} == {1, 3}


def test_max_bucket_cap_bounds_candidates(spark):
    # 50 same-label candidates in one bucket; cap at 10 → each anchor sees
    # at most 10 candidates (k=20 can't be filled past the cap)
    v = [1.0] * 8
    df = _emb(spark, [(1, v, 0)] + [(i, v, 1) for i in range(2, 52)])
    capped = hard_negatives(df, k=20, dim=8, max_bucket=10)
    got = [r for r in capped.collect() if r.query_id == 1]
    # anchor 1 may itself occupy a retained slot; the cap bounds candidates
    assert 0 < len(got) <= 10
    uncapped = hard_negatives(df, k=20, dim=8, max_bucket=None)
    assert len([r for r in uncapped.collect() if r.query_id == 1]) == 20


def test_gate_shape_matches_fixture_expectations(spark):
    from tamer_spark.queries import hard_negatives_q

    out = hard_negatives_q(spark, "/root/testdata/sf0.001").collect()
    assert out
    for r in out:
        assert 1 <= r.rank <= 3
        assert r.query_id != r.neighbor_id


def test_plan_single_bucket_join_no_cross_product(spark):
    from tamer_spark.plans import plan_shape
    from tamer_spark.queries import hard_negatives_q

    df = hard_negatives_q(spark, "/root/testdata/sf0.001")
    shape = plan_shape(df)
    assert not shape.count("CartesianProduct", "BroadcastNestedLoopJoin"), shape
    # bucket-join exchanges (both sides) + the per-anchor window exchange
    assert shape.shuffles <= 3, shape


def test_zero_norm_vectors_dropped_not_crashing(spark):
    """Review fix: a pair of zero-quantizing vectors (dead/padded
    embeddings) divided by zero norm — DIVIDE_BY_ZERO under Spark 4's
    default ANSI mode. They carry no direction, so they are dropped."""
    z = [0.0] * 8
    v = [1.0] * 8
    df = _emb(spark, [(1, z, 0), (2, z, 1), (3, v, 0), (4, v, 1)])
    out = hard_negatives(df, k=5, dim=8).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert ids == {3, 4}  # zero vectors neither anchor nor negative


def _pos_rows(df, k):
    from tamer_spark.operators.similarity import contrastive_pairs

    return {(r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in contrastive_pairs(df, k=k, dim=8).collect() if r.side == "pos"}


def test_hard_positives_rank_least_similar_same_label_first(spark):
    """contrastive_pairs' 'pos' rows: per anchor, the LEAST-similar
    same-label candidates first (an identical-twin positive teaches a
    metric loss nothing)."""
    # same bucket (verified family — see test_hardest_negative_ranks_first):
    # base, near (cos ~0.995), far (cos ~0.894), all label 0, plus a
    # different-label decoy that must never appear as a positive
    base = [1.0] + [0.0] * 7
    near = [1.0, 0.1] + [0.0] * 6
    far = [1.0, 0.5] + [0.0] * 6
    df = _emb(spark, [(1, base, 0), (2, near, 0), (3, far, 0), (4, near, 1)])
    # hardest positive first = LOWEST cosine: far before near
    assert _pos_rows(df, k=2) == {
        (1, 3, 0.894427, 1), (1, 2, 0.995037, 2),
        (2, 3, 0.934488, 1), (2, 1, 0.995037, 2),
        (3, 1, 0.894427, 1), (3, 2, 0.934488, 2),
    }


def test_hard_positives_share_negative_miners_contracts(spark):
    """NULL labels and zero-norm vectors are excluded from the 'pos' side
    exactly like hard_negatives excludes them."""
    from tamer_spark.operators.similarity import contrastive_pairs

    v = [1.0] * 8
    z = [0.0] * 8
    df = _emb(spark, [(1, v, 0), (2, v, 0), (3, v, None), (4, z, 0)])
    out = sorted(tuple(r) for r in contrastive_pairs(df, k=5, dim=8).collect())
    assert out == [(1, 2, "pos", 1.0, 1), (2, 1, "pos", 1.0, 1)]


def test_contrastive_pairs_neg_side_equals_hard_negatives(spark):
    """The one-join triple miner's 'neg' side is hard_negatives — same
    pairs, same cosines, same ranks — and its 'pos' side ranks the
    same-label candidates of both labels ASC, pinned as literal rows."""
    from tamer_spark.operators.similarity import contrastive_pairs

    base = [1.0] + [0.0] * 7
    near = [1.0, 0.1] + [0.0] * 6
    far = [1.0, 0.5] + [0.0] * 6
    df = _emb(spark, [
        (1, base, 0), (2, near, 0), (3, far, 0),
        (4, near, 1), (5, far, 1), (6, base, 1),
        (7, [0.0] * 8, 0),  # zero-norm: dropped on both sides
    ])
    neg = {(r.query_id, r.neighbor_id, r.cosine, r.rank)
           for r in hard_negatives(df, k=2, dim=8).collect()}
    got_neg = {(r.query_id, r.neighbor_id, r.cosine, r.rank)
               for r in contrastive_pairs(df, k=2, dim=8).collect() if r.side == "neg"}
    assert neg and got_neg == neg
    assert _pos_rows(df, k=2) == {
        (1, 3, 0.894427, 1), (1, 2, 0.995037, 2),
        (2, 3, 0.934488, 1), (2, 1, 0.995037, 2),
        (3, 1, 0.894427, 1), (3, 2, 0.934488, 2),
        (4, 5, 0.934488, 1), (4, 6, 0.995037, 2),
        (5, 6, 0.894427, 1), (5, 4, 0.934488, 2),
        (6, 5, 0.894427, 1), (6, 4, 0.995037, 2),
    }


def test_contrastive_pairs_single_window(spark):
    """One (anchor, side) window ranks both tiers — the plan must contain
    exactly ONE Window node (two would mean the join is paid twice)."""
    from tamer_spark.plans import plan_shape
    from tamer_spark.operators.similarity import contrastive_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    shape = plan_shape(contrastive_pairs(emb, k=3, max_bucket=None))
    assert shape.nodes["Window"] == 1, shape
