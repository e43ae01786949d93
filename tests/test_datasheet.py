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
