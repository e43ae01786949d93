"""Bottom-k uniform sample: exactness vs a python replay, the sketch merge
property (fold == rebuild), NULL-id drop, and the TakeOrdered plan shape."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.mixing import bottomk_merge, bottomk_sample
from tamer_spark.plans import plan_shape


def _h(i, salt="sample-"):
    return int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:15], 16)


def _expected(ids, k):
    return {
        (i, rank)
        for rank, i in enumerate(sorted(ids, key=lambda x: (_h(x), x))[:k], 1)
    }


def test_bottomk_matches_python_replay(spark):
    ids = list(range(500))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {(r.doc_id, r.sample_rank) for r in bottomk_sample(df, 20).collect()}
    assert got == _expected(ids, 20)


def test_bottomk_merge_equals_rebuild(spark):
    """The sketch property: folding per-epoch bottom-k samples equals the
    bottom-k of the full union — the O(k)-per-epoch incremental story."""
    epochs = [list(range(0, 300)), list(range(300, 450)), list(range(450, 700))]
    dfs = [spark.createDataFrame([(i,) for i in ep], "doc_id long") for ep in epochs]
    per_epoch = [bottomk_sample(d, 25) for d in dfs]
    folded = {(r.doc_id, r.sample_rank) for r in bottomk_merge(per_epoch, 25).collect()}
    assert folded == _expected([i for ep in epochs for i in ep], 25)


def test_bottomk_small_input_null_drop_validation(spark):
    df = spark.createDataFrame([(1,), (2,), (None,)], "doc_id long")
    got = {(r.doc_id, r.sample_rank) for r in bottomk_sample(df, 10).collect()}
    assert got == _expected([1, 2], 10)  # n < k: all non-NULL rows, ranked
    with pytest.raises(ValueError):
        bottomk_sample(df, 0)
    with pytest.raises(ValueError):
        bottomk_merge([], 5)


def test_bottomk_plan_is_takeordered_not_global_sort(spark):
    df = spark.range(0, 100_000).select(F.col("id").alias("doc_id"))
    out = bottomk_sample(df, 50)
    shape = plan_shape(out)
    assert shape.nodes["TakeOrderedAndProject"], shape
    # the post-limit rank window runs over <= k rows; no rangepartitioning
    # exchange (a global Sort) anywhere
    assert not [p for p in shape.exchanges if p.startswith("rangepartitioning")], shape


def test_bottomk_merge_dedups_overlapping_epochs(spark):
    """An id re-ingested in two epochs appears in both per-epoch samples;
    the fold must not let it occupy two of the k slots — the sketch law is
    over the id SET (review fix, r12)."""
    a = spark.createDataFrame([(i,) for i in range(0, 100)], "doc_id long")
    b = spark.createDataFrame([(i,) for i in range(50, 150)], "doc_id long")
    folded = bottomk_merge([bottomk_sample(a, 20), bottomk_sample(b, 20)], 20).collect()
    ids = [r.doc_id for r in folded]
    assert len(ids) == len(set(ids)) == 20
    assert {(r.doc_id, r.sample_rank) for r in folded} == _expected(range(150), 20)


# ---------------------------------------------------------------------------
# r13: per-group (stratified) bottom-k
# ---------------------------------------------------------------------------


def _expected_grouped(rows, k):
    by_g = {}
    for g, i in rows:
        by_g.setdefault(g, []).append(i)
    out = set()
    for g, ids in by_g.items():
        for rank, i in enumerate(sorted(ids, key=lambda x: (_h(x), x))[:k], 1):
            out.add((g, i, rank))
    return out


def test_bottomk_grouped_matches_python_replay(spark):
    from tamer_spark.operators.mixing import bottomk_grouped

    rows = [(f"g{i % 3}", i) for i in range(300)]
    df = spark.createDataFrame(
        [(g, i) for g, i in rows], "lang string, doc_id long"
    )
    got = {
        (r.lang, r.doc_id, r.sample_rank)
        for r in bottomk_grouped(df, 7, "lang").collect()
    }
    assert got == _expected_grouped(rows, 7)
    # every stratum gets its k — the property a global sample lacks
    assert {g for g, _, _ in got} == {"g0", "g1", "g2"}


def test_bottomk_grouped_fold_equals_rebuild_per_group(spark):
    from tamer_spark.operators.mixing import bottomk_grouped

    rows = [(f"g{i % 4}", i) for i in range(400)]
    full = spark.createDataFrame(rows, "lang string, doc_id long")
    epochs = [full.filter(F.col("doc_id") % 2 == p) for p in (0, 1)]
    per_epoch = [bottomk_grouped(e, 6, "lang") for e in epochs]
    folded_input = per_epoch[0].select("lang", "doc_id").unionByName(
        per_epoch[1].select("lang", "doc_id")
    )
    folded = {
        (r.lang, r.doc_id, r.sample_rank)
        for r in bottomk_grouped(folded_input, 6, "lang").collect()
    }
    rebuilt = {
        (r.lang, r.doc_id, r.sample_rank)
        for r in bottomk_grouped(full, 6, "lang").collect()
    }
    assert folded == rebuilt


def test_bottomk_grouped_null_stratum_matches_duckdb(spark):
    # NULL group is its OWN stratum, identically in both engines (the
    # engines' PARTITION BY NULL-grouping agreement, pinned by replay)
    import duckdb

    from tamer_spark.operators.mixing import bottomk_grouped

    rows = [("a", 1), ("a", 2), ("a", 3), (None, 4), (None, 5), (None, 6)]
    df = spark.createDataFrame(rows, "lang string, doc_id long")
    key = lambda t: (t[0] is None, t[0] or "", t[1], t[2])  # noqa: E731
    got = sorted(
        (
            (r.lang, r.doc_id, r.sample_rank)
            for r in bottomk_grouped(df, 2, "lang").collect()
        ),
        key=key,
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(lang VARCHAR, doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = sorted(
        ((g, i, rk)
         for g, i, rk in con.execute(
            """
            SELECT lang, doc_id, sample_rank FROM (
              SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang ORDER BY
                       ('0x' || substr(md5('sample-' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                       doc_id ASC) AS sample_rank
              FROM t) WHERE sample_rank <= 2
            """
        ).fetchall()),
        key=key,
    )
    assert got == oracle
    assert sum(1 for g, _, _ in got if g is None) == 2  # NULL stratum sampled


def test_bottomk_grouped_rejects_bad_k(spark):
    from tamer_spark.operators.mixing import bottomk_grouped

    df = spark.createDataFrame([("a", 1)], "lang string, doc_id long")
    with pytest.raises(ValueError, match="k must be"):
        bottomk_grouped(df, 0, "lang")
