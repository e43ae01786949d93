"""Reference-vs-crawl linear odds scorer — the supervised half of the
CCNet recipe (Wenzek et al. 2020): production pipelines train a fastText
classifier on "reference corpus vs raw crawl" and keep documents the
classifier calls reference-like. This module implements that role as a
distributed bag-of-words linear scorer whose training AND scoring are
DataFrame plans.

Integer-exact convention (same argument as operators/lm.py): the per-word
weight is the DIFFERENCE of add-one-smoothed class conditionals scaled to
parts-per-``scale`` and floored —

    w(t) = (scale·(c_pos(t)+1)) div (T_pos+V)  −  (scale·(c_neg(t)+1)) div (T_neg+V)

— an int64, so the per-document sum is order-independent and
bit-identical on any engine. True multinomial NB sums LOG odds; linear
space is a documented deviation that keeps the gate exact (log-space
would hinge on libm ulp agreement), costs the probabilistic calibration,
and keeps what filtering uses: a monotone reference-likeness ranking
under the per-class smoothed conditionals. Words unseen in both classes
contribute the smoothing-floor difference, folded in as plan scalars.

Shuffle profile: two vocabulary-sized count tables (Zipf-bounded, never
corpus-sized) + one broadcast-joined scoring pass + one partial-agg
groupBy(doc_id) — the bigram-LM cost shape with words instead of bigrams.
No analog in the reference engine (tamer has no text/retrieval
operators); part of the training-data-pipeline extension surface.

"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["odds_train", "odds_score"]


def _words(docs: DataFrame) -> DataFrame:
    from tamer_spark.operators.dedup import normalize_text

    return docs.select(
        "doc_id", F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w")
    )


def odds_train(pos: DataFrame, neg: DataFrame) -> DataFrame:
    """Train the weight table: (w, weight, base) — ``weight`` is the scaled
    smoothed-conditional difference for word w; ``base`` (same on every
    row) is the unseen-word floor difference. V is the joint vocabulary.
    """
    pw = _words(pos).groupBy("w").agg(F.count(F.lit(1)).alias("c_pos"))
    nw = _words(neg).groupBy("w").agg(F.count(F.lit(1)).alias("c_neg"))
    vocab = pw.join(nw, "w", "full_outer").select(
        "w",
        F.coalesce("c_pos", F.lit(0)).alias("c_pos"),
        F.coalesce("c_neg", F.lit(0)).alias("c_neg"),
    )
    # totals + vocab size fold into the vocab-sized frame via global windows
    win = Window.partitionBy()
    vocab = (
        vocab.withColumn("t_pos", F.sum("c_pos").over(win))
        .withColumn("t_neg", F.sum("c_neg").over(win))
        .withColumn("v", F.count(F.lit(1)).over(win))
    )
    # int64 `div` end to end — never a double division + floor, which
    # loses exactness once numerators pass 2^53
    return vocab.select(
        "w",
        F.expr(
            "(CAST(1000000 AS BIGINT) * (c_pos + 1)) div (t_pos + v)"
            " - (CAST(1000000 AS BIGINT) * (c_neg + 1)) div (t_neg + v)"
        ).alias("weight"),
        F.expr(
            "CAST(1000000 AS BIGINT) div (t_pos + v)"
            " - CAST(1000000 AS BIGINT) div (t_neg + v)"
        ).alias("base"),
    )


def odds_score(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """Score every doc: sum of word weights (unseen words take the ``base``
    floor). Returns (doc_id, score) — higher = more reference-like."""
    base = weights.select(F.max("base").alias("_base"))  # constant column
    toks = _words(docs)
    scored = (
        toks.join(weights.select("w", "weight"), "w", "left")
        .crossJoin(F.broadcast(base))
        .select(
            "doc_id",
            F.coalesce(F.col("weight"), F.col("_base")).alias("_wt"),
        )
    )
    return scored.groupBy("doc_id").agg(F.sum("_wt").cast("long").alias("score"))
