"""Winnowing fingerprints: the coverage guarantee (shared w+k-1-word run
→ shared fingerprint), density bound, degenerate docs, map-only plan,
staged hashing."""

import pytest
from pyspark.sql import functions as F

from tamer_spark.functions.text import winnow_fingerprints

K, W = 4, 5


def _fps(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    return {
        r.doc_id: set(r.fingerprints)
        for r in winnow_fingerprints(df, k=K, w=W).collect()
    }


def test_coverage_guarantee_shared_run(spark):
    # docs share a run of w + k - 1 = 8 words -> MUST share a fingerprint
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    fps = _fps(
        spark,
        [f"one two {shared} three four", f"five six seven {shared} eight"],
    )
    assert fps[0] & fps[1], "coverage theorem violated"


def test_disjoint_texts_share_nothing(spark):
    fps = _fps(spark, ["a b c d e f g h i j", "k l m n o p q r s t"])
    assert not fps[0] & fps[1]


def test_density_bound(spark):
    text = " ".join(f"w{i}" for i in range(200))
    fps = _fps(spark, [text])[0]
    n_grams = 200 - K + 1
    n_windows = n_grams - W + 1
    assert 1 <= len(fps) <= n_windows
    # expected density ~ 2/(w+1): allow generous slack either side
    assert len(fps) < 0.6 * n_grams


def test_degenerate_docs_get_one_fingerprint(spark):
    fps = _fps(spark, ["one two", "one two three four five"])
    assert len(fps[0]) == 1  # < k words: whole-text hash
    assert len(fps[1]) == 1  # 2 grams < w windows: global min


def test_map_only_plan_and_staged_hashing(spark):
    from tamer_spark.plans import plan_shape

    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    out = winnow_fingerprints(df)
    assert plan_shape(out).shuffles == 0
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5") <= 2, f"md5 x{plan.count('md5')} — staging re-inlined"


def test_gate_explode_keeps_staging(spark):
    """The gate's explode must be the _outer variant: plain explode lets
    InferFiltersFromGenerate substitute the staged hashing into an
    inferred size()>0 filter (18 md5 subtrees, minutes at sf0.1)."""
    from tests.conftest import SF_DIR

    from tamer_spark.queries import winnow_fingerprints_docs_q

    df = winnow_fingerprints_docs_q(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5") <= 2, f"md5 x{plan.count('md5')} — Generate trap"


def test_overlap_pairs_guarantee_and_cap(spark):
    from tamer_spark.functions.text import winnow_overlap_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (1, f"one two {shared} three four {shared} five"),
            (2, f"six seven {shared} eight nine {shared} ten"),
            (3, "completely different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=K, w=W)
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_overlap_pairs(fps, min_shared=1, max_posting=None).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert not any(3 in p for p in pairs)
    # a binding posting cap only SHRINKS the candidate set, never errors
    capped = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(fps, min_shared=1, max_posting=1).collect()
    }
    assert capped <= set(pairs)
