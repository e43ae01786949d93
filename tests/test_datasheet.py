"""Corpus datasheet: slice arithmetic, corpus-wide (cross-slice) duplicate
attribution, normalization-insensitive dup detection, bounded shuffles."""

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.datasheet import corpus_datasheet


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "srcA", "en", "alpha beta gamma"),
        (2, "srcA", "en", "alpha  beta   gamma"),  # dup of 1 after normalize
        (3, "srcB", "en", "alpha beta gamma"),     # dup across slices
        (4, "srcA", "de", "einzigartig"),
        (5, "srcB", "en", "something else here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, lang string, text string")


def _rows(df):
    return {(r["source"], r["lang"]): r.asDict() for r in df.collect()}


def test_slice_counts_and_volumes(spark, docs):
    out = _rows(corpus_datasheet(docs))
    assert out[("srcA", "en")]["n_docs"] == 2
    assert out[("srcB", "en")]["n_docs"] == 2
    assert out[("srcA", "de")]["n_docs"] == 1
    assert out[("srcA", "en")]["total_tokens"] == 6  # 3 + 3 normalized
    assert out[("srcA", "en")]["total_chars"] == len("alpha beta gamma") + len(
        "alpha  beta   gamma"
    )


def test_duplicates_counted_corpus_wide_per_slice(spark, docs):
    out = _rows(corpus_datasheet(docs))
    # docs 1, 2, 3 share normalized content: each slice holding a copy
    # reports its own copies as duplicated
    assert out[("srcA", "en")]["dup_docs"] == 2
    assert out[("srcB", "en")]["dup_docs"] == 1
    assert out[("srcA", "de")]["dup_docs"] == 0


def test_shuffle_budget(spark, docs):
    from tamer_spark.plans import plan_shape

    # digest count + digest join + slice agg — never more than 3 exchanges
    assert plan_shape(corpus_datasheet(docs)).shuffles <= 3


def test_datasheet_delta_full_outer_and_exact(spark):
    from tamer_spark.operators.datasheet import corpus_datasheet, datasheet_delta

    before = spark.createDataFrame(
        [(1, "s1", "en", "a b c"), (2, "s1", "en", "a b c"), (3, "s2", "de", "x y")],
        "doc_id long, source string, lang string, text string",
    )
    after = spark.createDataFrame(
        [(1, "s1", "en", "a b c"), (4, "s3", "fr", "new slice text")],
        "doc_id long, source string, lang string, text string",
    )
    delta = {
        (r.source, r.lang): r
        for r in datasheet_delta(
            corpus_datasheet(before), corpus_datasheet(after)
        ).collect()
    }
    # shrunk slice: 2 docs -> 1, duplicate pair resolved
    s1 = delta[("s1", "en")]
    assert (s1.n_docs_before, s1.n_docs_after, s1.n_docs_delta) == (2, 1, -1)
    assert (s1.dup_docs_before, s1.dup_docs_after) == (2, 0)
    # emptied slice appears with zeros on the after side
    s2 = delta[("s2", "de")]
    assert (s2.n_docs_before, s2.n_docs_after, s2.n_docs_delta) == (1, 0, -1)
    # created slice appears with zeros on the before side
    s3 = delta[("s3", "fr")]
    assert (s3.n_docs_before, s3.n_docs_delta) == (0, 1)


def test_select_canonical_keeps_best_scored_member(spark):
    from tamer_spark.operators.canonical import select_canonical

    clustered = spark.createDataFrame(
        [
            # cluster 1: doc 5 has the top score; tie between 1 and 5 broken below
            (1, 1, 70), (3, 1, 50), (5, 1, 90),
            # cluster 10: equal scores -> smallest id wins
            (10, 10, 40), (12, 10, 40),
            # singleton
            (20, 20, 5),
        ],
        "doc_id long, cluster_rep long, score long",
    )
    got = {r.cluster: (r.keep_id, r.keep_score) for r in select_canonical(clustered, "score").collect()}
    assert got == {1: (5, 90), 10: (10, 40), 20: (20, 5)}


def test_select_canonical_decimal_id_matrix(spark):
    # r8 guard: scale-0 decimals that round-trip through decimal(20,0) are
    # the ONLY accepted decimal ids — a scaled decimal would be silently
    # ROUNDED by the tie-break cast (wrong keep_id) and precision > 20
    # fails the ANSI cast at runtime; both must raise at plan time
    import pytest

    from tamer_spark.operators.canonical import select_canonical

    def frame(decl):
        return spark.sql(
            f"SELECT CAST(1 AS {decl}) AS doc_id, 1L AS cluster_rep, 10L AS score"
        )

    # decimal(20,0): accepted, and the id survives the negate round-trip
    got = select_canonical(frame("DECIMAL(20,0)"), "score").collect()
    assert [(r.cluster, int(r.keep_id), r.keep_score) for r in got] == [(1, 1, 10)]
    # scaled: rejected at plan time (the silent-rounding class)
    with pytest.raises(TypeError, match=r"doc_id is decimal\(10,2\)"):
        select_canonical(frame("DECIMAL(10,2)"), "score")
    # over-precision: rejected at plan time (would fail the ANSI cast)
    with pytest.raises(TypeError, match=r"doc_id is decimal\(21,0\)"):
        select_canonical(frame("DECIMAL(21,0)"), "score")
    # string ids keep raising too
    with pytest.raises(TypeError, match="doc_id is string"):
        select_canonical(frame("VARCHAR(10)"), "score")
