"""Temperature resampling: tail upsampled relative to head, alpha=1
recovers proportional sampling, small groups kept whole, determinism,
map-only plan."""

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.temperature import temperature_mix


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, "head") for i in range(900)] + [(i + 1000, "tail") for i in range(100)]
    return spark.createDataFrame(rows, "doc_id long, source string")


def _by_group(df):
    return {
        r["source"]: r["n"]
        for r in df.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def test_tail_upsampled_vs_proportional(spark, corpus):
    # proportional share of tail = 10%; sqrt share = sqrt(100)/(sqrt(900)+sqrt(100)) = 25%
    out = _by_group(temperature_mix(corpus, target=400, alpha=0.5))
    total = sum(out.values())
    tail_frac = out["tail"] / total
    assert 0.18 < tail_frac < 0.32, out  # ~25% +/- hash noise
    assert abs(total - 400) < 60, total


def test_alpha_one_is_proportional(spark, corpus):
    out = _by_group(temperature_mix(corpus, target=500, alpha=1.0))
    total = sum(out.values())
    assert 0.05 < out["tail"] / total < 0.16, out  # ~10%


def test_small_group_kept_whole_when_share_exceeds_size(spark, corpus):
    # tail share (25%) of target 1000 = 250 > 100 docs -> keep all 100
    out = _by_group(temperature_mix(corpus, target=1000, alpha=0.5))
    assert out["tail"] == 100


def test_deterministic(spark, corpus):
    a = {r.doc_id for r in temperature_mix(corpus, target=300).collect()}
    b = {r.doc_id for r in temperature_mix(corpus, target=300).collect()}
    assert a == b


def test_membership_monotone_in_target(spark, corpus):
    # hash-range membership: raising the target only ADDS docs
    small = {r.doc_id for r in temperature_mix(corpus, target=200).collect()}
    big = {r.doc_id for r in temperature_mix(corpus, target=600).collect()}
    assert small <= big


def test_invalid_alpha_rejected(spark, corpus):
    with pytest.raises(ValueError):
        temperature_mix(corpus, target=100, alpha=0.0)


def test_int64_headroom_guard_raises(spark):
    # one group large enough that (M-1)*W*n would wrap int64: W*n >= 2^63/M
    # with W ~ 1e6*sqrt(n) needs n ~ 44k — tiny frame, but the keep
    # predicate would silently corrupt sampling without the guard
    import pytest
    from pyspark.sql import functions as F

    from tamer_spark.operators.temperature import temperature_mix

    docs = spark.range(45_000).select(
        F.col("id").alias("doc_id"), F.lit("only-group").alias("source")
    )
    with pytest.raises(ValueError, match="headroom"):
        temperature_mix(docs, target=10)


def _resample_reference(rows, target, alpha=0.5):
    """Python replay of the exact copy-count rule."""
    import hashlib
    import math
    from collections import Counter

    M = 1_000_000
    n_g = Counter(g for _, g in rows)
    w_g = {g: round(math.sqrt(n) * M) for g, n in n_g.items()}
    W = sum(w_g.values())
    out = {}
    for i, g in rows:
        h = int(hashlib.md5(f"temp-{i}".encode()).hexdigest()[:15], 16) % M
        c = 0
        while (h + c * M) * W * n_g[g] < target * w_g[g] * M:
            c += 1
        out[i] = c
    return out


def test_resample_matches_reference_and_nests_mix(spark):
    from tamer_spark.operators.temperature import temperature_mix, temperature_resample

    rows = [(i, "big" if i < 400 else ("mid" if i < 480 else "tiny")) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    target = 500  # head rate ~0.75 (subsample), tail rate ~3.3 (replicates)
    got = temperature_resample(df, target=target).collect()
    counts: dict[int, int] = {}
    for r in got:
        counts[r.doc_id] = counts.get(r.doc_id, 0) + 1
    ref = _resample_reference(rows, target)
    assert counts == {i: c for i, c in ref.items() if c > 0}
    # copy_idx is a clean 0..k-1 enumeration per doc
    by_doc: dict[int, set] = {}
    for r in got:
        by_doc.setdefault(r.doc_id, set()).add(r.copy_idx)
    for i, idxs in by_doc.items():
        assert idxs == set(range(counts[i]))
    # EXACT nesting: docs with >= 1 copy == temperature_mix's kept set
    kept = {r.doc_id for r in temperature_mix(df, target=target).collect()}
    assert set(counts) == kept
    # the tail group actually replicates (rate > 1), the head subsamples
    tiny_copies = [c for i, c in counts.items() if rows[i][1] == "tiny"]
    big_copies = [c for i, c in counts.items() if rows[i][1] == "big"]
    assert max(tiny_copies) >= 2
    assert max(big_copies) == 1
    # expected-size law: output within a few percent of target
    assert abs(len(got) - target) <= 0.1 * target


def test_resample_rate_one_is_identity_per_group(spark):
    # a single group at target == corpus size has rate exactly 1: every
    # doc appears exactly once (h < W·n·1/(W·n)·M... c=0 always, c=1 never)
    from tamer_spark.operators.temperature import temperature_resample

    df = spark.createDataFrame([(i, "only") for i in range(100)], "doc_id long, source string")
    got = temperature_resample(df, target=100).collect()
    assert len(got) == 100
    assert {r.doc_id for r in got} == set(range(100))
    assert all(r.copy_idx == 0 and r.rate_ppm == 1_000_000 for r in got)


def test_resample_rejects_reserved_columns_and_drops_null_groups(spark):
    import pytest

    from tamer_spark.operators.temperature import temperature_resample

    bad = spark.createDataFrame([(1, "a", 0)], "doc_id long, source string, copy_idx long")
    with pytest.raises(ValueError, match="copy_idx"):
        temperature_resample(bad, target=10)
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "doc_id long, source string"
    )
    got = temperature_resample(df, target=2).collect()
    assert all(r.doc_id != 2 for r in got)  # NULL group has no share
