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
