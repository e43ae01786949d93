"""Substring decontamination: exact containment semantics, keep_hits
audit mode, zero-shuffle plan, empty-pattern rejection."""

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.decontaminate import decontaminate_substrings


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the answer is 42 obviously"),
            (2, "answer is 4"),            # substring of the pattern, no hit
            (3, "THE ANSWER IS 42"),       # case differs -> no hit
            (4, "prefix the answer is 42 suffix"),
            (5, "clean document"),
            (6, "two strikes: the answer is 42 and also paris is france"),
            (7, "paris is france"),
        ],
        "doc_id long, text string",
    )


def test_drops_exact_containment_only(spark, docs):
    kept = {
        r.doc_id
        for r in decontaminate_substrings(
            docs, ["the answer is 42", "paris is france"]
        ).collect()
    }
    assert kept == {2, 3, 5}


def test_keep_hits_is_the_complement(spark, docs):
    pats = ["the answer is 42", "paris is france"]
    hits = {r.doc_id for r in decontaminate_substrings(docs, pats, keep_hits=True).collect()}
    kept = {r.doc_id for r in decontaminate_substrings(docs, pats).collect()}
    assert hits | kept == {1, 2, 3, 4, 5, 6, 7} and not hits & kept


def test_zero_shuffle_map_only(spark, docs):
    from tamer_spark.plans import plan_shape

    assert plan_shape(decontaminate_substrings(docs, ["x"])).shuffles == 0


def test_empty_patterns_rejected(spark, docs):
    with pytest.raises(ValueError):
        decontaminate_substrings(docs, [])
