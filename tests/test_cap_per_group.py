"""Per-group quota cap: exact min(cap, n) retention, hash-rank determinism,
NULL/empty singleton rule, prefilter-path equivalence (including the forced
fallback), and plan shape."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.mixing import cap_per_group
from tamer_spark.plans import plan_shape


def _h(i: int, salt: str = "domcap-") -> int:
    return int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def grouped(spark):
    # skewed: group 'big' 200 rows, 'mid' 7, 'one' 1, plus NULL and '' rows
    rows = (
        [(i, "big") for i in range(200)]
        + [(1000 + i, "mid") for i in range(7)]
        + [(2000, "one"), (3000, None), (3001, "")]
    )
    return spark.createDataFrame(rows, "doc_id long, g string")


def _expected(rows, cap):
    from collections import defaultdict

    by_g = defaultdict(list)
    for i, g in rows:
        k = g if g else f"nullgroup-{i}"
        by_g[k].append(i)
    out = set()
    for k, ids in by_g.items():
        for rank, i in enumerate(sorted(ids, key=lambda x: (_h(x), x))[:cap], 1):
            out.add((i, k, rank, len(ids)))
    return out


def test_cap_semantics_and_singleton_rule(spark, grouped):
    rows = [(r.doc_id, r.g) for r in grouped.collect()]
    got = {
        (r.doc_id, r.g, r.keep_rank, r.n_group)
        for r in cap_per_group(grouped, "g", cap=5).collect()
    }
    assert got == _expected(rows, 5)
    # NULL and '' rows are singletons: kept, rank 1, n_group 1
    assert (3000, "nullgroup-3000", 1, 1) in got and (3001, "nullgroup-3001", 1, 1) in got


def test_prefilter_path_equals_plain(spark, grouped):
    plain = cap_per_group(grouped, "g", cap=5).collect()
    pre = cap_per_group(grouped, "g", cap=5, prefilter_slack=4).collect()
    key = lambda r: (r.doc_id, r.g, r.keep_rank, r.n_group)  # noqa: E731
    assert sorted(map(key, plain)) == sorted(map(key, pre))


def test_prefilter_fallback_exactness(spark):
    """Ids crafted so the slack-1 threshold strands only ONE survivor in a
    cap-3 group — the survivor recount must detect it and re-rank the FULL
    group; output equals the plain path exactly (ids 5/14/15 hash above
    0.75·2^60 under the 'domcap-' salt; 0 below)."""
    df = spark.createDataFrame([(i, "g") for i in [5, 14, 15, 0]], "doc_id long, g string")
    got = sorted(
        (r.doc_id, r.keep_rank)
        for r in cap_per_group(df, "g", cap=3, prefilter_slack=1).collect()
    )
    want = sorted(
        (i, rank)
        for rank, i in enumerate(sorted([5, 14, 15, 0], key=lambda x: (_h(x), x))[:3], 1)
    )
    assert got == want
    # sanity: the crafted ids really do strand < cap survivors at slack 1
    T = (3 * (1 << 60)) // 4
    assert sum(_h(i) < T for i in [5, 14, 15, 0]) < 3


def test_salt_changes_kept_set_and_rerun_stable(spark, grouped):
    a = {r.doc_id for r in cap_per_group(grouped, "g", cap=5).collect()}
    b = {r.doc_id for r in cap_per_group(grouped, "g", cap=5).collect()}
    c = {r.doc_id for r in cap_per_group(grouped, "g", cap=5, salt="other-").collect()}
    assert a == b
    assert a != c  # the salt actually reaches the rank hash


def test_validation(spark, grouped):
    with pytest.raises(ValueError):
        cap_per_group(grouped, "g", cap=0)
    with pytest.raises(ValueError):
        cap_per_group(grouped, "g", cap=1, prefilter_slack=0)


def test_plain_path_single_exchange(spark, grouped):
    """rank + total-count ride ONE group-key exchange (two window specs,
    same partitioning)."""
    out = cap_per_group(grouped, "g", cap=5)
    keys = plan_shape(out).hash_keys
    assert len(keys) == 1 and "_g" in keys[0], keys


def test_null_ids_drop_both_paths(spark):
    """NULL ids cannot be hashed: unfiltered they'd sort NULLS-FIRST to
    rank 1 inside a real group, and a NULL-id NULL-group row would make
    the singleton key itself NULL (review fix, r12)."""
    df = spark.createDataFrame(
        [(1, "g"), (None, "g"), (None, None), (2, "g")], "doc_id long, g string"
    )
    for kwargs in ({}, {"prefilter_slack": 2}):
        got = {(r.doc_id, r.keep_rank) for r in cap_per_group(df, "g", cap=1, **kwargs).collect()}
        keep = sorted([1, 2], key=lambda x: (_h(x), x))[0]
        assert got == {(keep, 1)}, kwargs
