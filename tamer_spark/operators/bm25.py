"""Distributed BM25 ranking (Robertson & Zaragoza 2009; Lucene idf form).

The retrieval scorer a curation pipeline uses to pull topical slices out
of a web-scale corpus (and the lexical half of hybrid lexical+ANN
retrieval next to the IVF/PQ tier in operators/similarity.py, pq.py).

Scale shape (100 TB posture):
- tokenize + doc-length are MAP-ONLY over the corpus (normalize, split,
  size — all JVM codegen, no Python);
- the explode is filtered to the query vocabulary BEFORE any aggregation,
  so the only corpus-scale shuffle keys are (doc_id, term) pairs bounded
  by documents that actually contain a query term;
- doc length rides the groupBy key (functionally dependent on doc_id)
  instead of a corpus-wide doclen join;
- df is a window count partitioned by term over the tf frame itself (no
  tf.groupBy(term) join-back), and (N, avgdl) is a global 1-row aggregate
  crossed back in through a broadcast nested-loop join. The executed plan
  reads the corpus twice, both map-side: the tf side reads (doc_id, text),
  the (N, avgdl) aggregate reads text alone and re-splits it for the
  lengths. Four exchanges in all: (doc_id, dl, word) for tf, word for the
  df window, doc_id for the score sum, one partition for (N, avgdl).
  Known hazard: the df window has at most |query terms| keys, so a common
  term's rows land in one task.

Cross-engine determinism: scores are ranked on the ROUNDED value (6 dp)
so libm ``ln`` ulp gaps and float summation order cannot flip order —
same convention as the tfidf gate (queries.py tfidf_top_terms).
No analog in the reference engine (tamer has no text/retrieval
operators); part of the training-data-pipeline extension surface.

"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10) -> DataFrame:
    """Top-``k`` documents by BM25 score against a bag of ``query_terms``.

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  (Lucene's non-negative
    form) with k1 = 1.2 and b = 0.75. Returns (doc_id, score, rank) with
    rank 1..k, ties broken by id.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    from tamer_spark.operators.dedup import normalize_text_sql

    # one-parse SQL construction (r14): same trees, a handful of selectExpr
    # parses (see operators/pq.py rationale); float literals carry the D
    # suffix so they parse as DOUBLE like F.lit, never DECIMAL
    words = docs.selectExpr(
        "doc_id", f"split({normalize_text_sql('text')}, ' ') AS ws"
    )
    with_len = words.selectExpr("doc_id", "ws", "size(ws) AS dl")
    stats = with_len.agg(
        F.expr("count(1)").alias("n_docs"), F.expr("avg(dl)").alias("avgdl")
    )
    in_list = ", ".join("'" + t.replace("'", "\\'") + "'" for t in query_terms)
    tf = (
        with_len.selectExpr("doc_id", "dl", "explode(ws) AS word")
        .filter(f"word IN ({in_list})")
        .groupBy("doc_id", "dl", "word")
        .agg(F.expr("count(1)").alias("tf"))
    )
    # df (document frequency) as a window count over the tf frame itself
    # (r15, guide §2.1/§2.4): the former tf.groupBy("word") + broadcast
    # join built dfreq from a column-pruned COPY of the tf subtree — the
    # pruned copy is not plan-equal to tf, so ReuseExchange cannot dedup
    # it and the executed plan re-ran the whole corpus tokenize+explode a
    # second time (verified: plans/r15/bm25_topk_docs_before.txt, 3 scans).
    # A count over partitionBy(word) re-shuffles only the query-vocabulary-
    # bounded tf rows (docs-containing-a-term × terms, never the corpus)
    # and yields the identical integer df per row.
    idf = "LN(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))"
    tfnorm = (
        "(tf * 2.2D) / (tf + 1.2D * (0.25D + 0.75D * dl / avgdl))"
    )
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("word")))
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.expr(f"round(sum(({idf}) * ({tfnorm})), 6)").alias("score"))
    )
    # distributed top-k (TakeOrderedAndProject: per-partition heads merged
    # on the driver), then rank the <=k surviving rows — never a global
    # single-partition window sort over the scored set
    topk = scored.orderBy(F.col("score").desc(), "doc_id").limit(k)
    return topk.selectExpr(
        "*",
        "row_number() OVER (ORDER BY score DESC, doc_id ASC) AS _rk",
    ).selectExpr("doc_id", "score", "CAST(_rk AS BIGINT) AS rank")
