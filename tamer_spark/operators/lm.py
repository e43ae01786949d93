"""Distributed n-gram language-model quality scoring (CCNet-style).

The standard pretraining-curation signal after cheap per-document stats: train
a statistical LM on (a reference slice of) the corpus, score every document by
how predictable its text is under that model, and filter/bucket on the score
(Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets from Web
Crawl Data", LREC 2020 — public literature; production CCNet uses a KenLM
5-gram, this module implements the same shape with a bigram model whose
training AND scoring are both distributed DataFrame plans).

Everything stays in exact integer arithmetic (the repo's cross-engine
determinism convention): the per-bigram score is the add-one-smoothed
conditional probability scaled to parts-per-million and floored —

    p_scaled(w2 | w1) = (1000000 * (c(w1 w2) + 1)) div (c(w1) + V)

— an int64, so the per-document sum is order-independent and bit-identical on
any engine/partitioning. A log-space score (true log-likelihood) would hinge
on last-ulp ``ln`` agreement between libm implementations; linear space keeps
the gate exact, and the MONOTONE ranking of documents — all filtering uses —
is preserved for any fixed document length.

Shuffle profile (docs/SCALING.md):
* unigram + bigram count tables: explode → partial-agg — shuffle rows =
  distinct types (Zipf-bounded vocabulary), not corpus tokens;
* scoring: the exploded bigram stream joins the two count tables; Catalyst/
  AQE broadcasts them when the vocabulary fits (the common case — even a
  100 TB web corpus has a few hundred million bigram types after min-count
  pruning), else falls back to a hash join keyed by the bigram string;
* final per-doc reduce: one partial-aggregated groupBy(doc_id).

No analog in the reference engine (tamer has no text operators); part of the
training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tamer_spark.operators.dedup import _release_on_gc, normalize_text, normalize_text_sql

__all__ = ["bigram_counts", "bigram_lm_score", "bigram_lm_score_with_cache"]


def _spread(docs: DataFrame) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than the
    cluster's default parallelism.

    Everything downstream of the scan here is narrow (array transforms,
    explode, partial aggregation), so map parallelism == input splits. A
    100 TB corpus has ~800k splits and this is a no-op; the case it guards
    is a small/single-file input (one parquet row group ⇒ one split), where
    the whole extraction pipeline would otherwise serialize onto one core —
    measured 20 s → ~1 s at sf0.1 on local[32]. The text shuffle it buys is
    one pass over exactly the under-parallel input, by definition small.
    """
    spark = docs.sparkSession
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        return docs.repartition(target)
    return docs


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, bg) — one row per bigram INSTANCE, bigrams built row-locally
    (the staged-array pattern: no exploded self-join, no O(words²)
    re-inlining; docs with fewer than 2 words contribute nothing)."""
    words = docs.selectExpr(
        "doc_id",
        f"split({normalize_text_sql('text')}, ' ') AS _ws",
    )
    # when-guard is load-bearing: sequence(1, size-1) for a 1-word doc is
    # sequence(1, 0) == DESCENDING [1, 0], whose transform would read
    # element_at(ws, 2) out of bounds; CaseWhen evaluates lazily, so the
    # sequence never runs for short docs
    bgs = words.selectExpr(
        "doc_id",
        "CASE WHEN size(_ws) >= 2 THEN transform(sequence(1, size(_ws) - 1),"
        " i -> concat_ws(' ', element_at(_ws, i), element_at(_ws, i + 1)))"
        " ELSE CAST(array() AS array<string>) END AS _bgs",
    )
    # _outer is load-bearing: plain explode makes InferFiltersFromGenerate
    # add `size(_bgs) > 0 AND isnotnull(_bgs)`, and that filter pushes below
    # the staged projects, re-inlining the full bigram construction with
    # split(normalize_text(...)) re-evaluated inside the transform lambda —
    # O(words²) regex work per row, measured 20× slower than the unigram
    # explode over the same text at sf0.1. explode_outer infers no filter;
    # the null-row guard filters the GENERATED column, which cannot push
    # below the Generate. (Same trap as minhash banding / chunking.)
    return (
        bgs.select("doc_id", F.explode_outer("_bgs").alias("bg"))
        .filter(F.col("bg").isNotNull())
    )


def bigram_counts(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the model: returns ``(bigram_lm, unigram_counts, vocab)`` —
    (bg, c2), (w, c1), and a 1-row (V) table. All three are count aggregates
    with map-side combine; the vocabulary size is folded into the plan as a
    1-row cross join at score time (never a driver-side ``count()``)."""
    docs = _spread(docs)
    bg = _doc_bigrams(docs)
    lm = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    uni = (
        docs.select(
            F.explode_outer(F.split(normalize_text(F.col("text")), " ")).alias("w")
        )
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("V"))
    return lm, uni, vocab


def bigram_lm_score(
    docs: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Score every document under the (self- or externally-) trained bigram
    model: ``(doc_id, n_bigrams, sum_p_scaled, avg_p_scaled)`` where higher =
    more predictable text. ``model`` defaults to training on ``docs`` itself
    (decontamination pipelines pass a clean reference slice instead). Unseen
    bigrams/unigrams (external model) score through the same smoothing via
    left joins with zero fills.

    Self-training (``model=None``) persists the exploded bigram stream —
    it feeds BOTH the training count and the scoring join, and extraction
    (normalize + split + per-window concat) is the dominant cost, so paying
    it once instead of twice matters at any scale. The cache is released
    when the returned plan is dropped (weakref finalizer, same contract as
    the dedup pair operators); callers who would rather recompute than
    spill a 100 TB bigram stream pass an explicit pre-trained ``model``,
    which skips the cache entirely.

    Callers that DERIVE further plans from the scores (joins, windows,
    unions) must use ``bigram_lm_score_with_cache`` and attach the release
    to THEIR final plan — otherwise the finalizer fires when this function's
    return value goes out of scope and the derived plan recomputes the
    extraction the cache was meant to pay for once (correct but slow —
    ADVICE r3)."""
    out, cached = bigram_lm_score_with_cache(docs, model)
    return out if cached is None else _release_on_gc(out, cached)


def bigram_lm_score_with_cache(
    docs: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """``bigram_lm_score`` returning ``(scores, cached_bigram_stream)`` so a
    caller deriving further plans can hold the cache alive until ITS final
    result is dropped — wire with ``_release_on_gc(final_plan, cached)``.
    ``cached`` is None when an external model is passed (nothing persisted).
    Same contract as minhash_lsh_pairs_with_cache."""
    if model is not None:
        lm, uni, vocab = model
        bg_stream = _doc_bigrams(_spread(docs))
        cached = None
    else:
        docs = _spread(docs)
        bg_stream = _doc_bigrams(docs).persist()
        cached = bg_stream
        lm = bg_stream.groupBy("bg").agg(F.expr("count(1)").alias("c2"))
        uni = (
            docs.selectExpr(
                f"explode_outer(split({normalize_text_sql('text')}, ' ')) AS w"
            )
            .filter("w IS NOT NULL")
            .groupBy("w")
            .agg(F.expr("count(1)").alias("c1"))
        )
        vocab = uni.agg(F.expr("count(1)").alias("V"))
    bg = bg_stream.selectExpr("*", "split_part(bg, ' ', 1) AS w1")
    scored = (
        bg.join(lm, "bg", "left")
        .join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .selectExpr(
            "*",
            "(1000000 * (coalesce(c2, 0) + 1)) div (coalesce(c1, 0) + V)"
            " AS p_scaled",
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.expr("count(1)").alias("n_bigrams"),
        F.expr("sum(p_scaled)").alias("sum_p_scaled"),
        F.expr("sum(p_scaled) / count(1)").alias("avg_p_scaled"),
    )
    return out, cached
