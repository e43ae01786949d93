"""Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009).

Hybrid retrieval: fuse per-query rankings from heterogeneous retrievers
(the lexical BM25 tier, operators/bm25.py, and the ANN tier —
cosine_knn / ivf_search / ivfadc_search in operators/similarity.py,
pq.py) without score calibration: RRF only reads RANKS, so a retriever's
score scale never matters.

    rrf(q, d) = Σ_r 1 / (k0 + rank_r(q, d))        (absent rank → 0)

Scale shape: each input ranking is already top-k-per-query (bounded rows
per query by construction); the fusion is one union + one
(query, item) partial-aggregable SUM shuffle + a per-query window over
<= len(rankings)·k rows — never a corpus-scale operation. Scores are
ranked on the ROUNDED value (6 dp, tfidf/bm25 convention); with <= 2
fused addends per item double addition is exactly commutative, so the
rounded sum is engine-order-independent.
No analog in the reference engine (tamer has no text/retrieval
operators); part of the training-data-pipeline extension surface.

"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rrf_fuse(rankings: list[DataFrame], k0: int = 60, k: int = 5) -> DataFrame:
    """Fuse ranked lists into (query, item, rrf_score, rank), top-``k`` per
    query, ties broken by item id. Every input must carry
    (query_id, neighbor_id, rank); extra columns are ignored."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    tagged = [r.select("query_id", "neighbor_id", "rank") for r in rankings]
    u = reduce(lambda a, b: a.unionByName(b), tagged)
    scored = u.groupBy("query_id", "neighbor_id").agg(
        F.expr(f"round(sum(1.0D / ({float(k0)!r}D + rank)), 6)").alias(
            "rrf_score"
        )
    )
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY rrf_score DESC, neighbor_id ASC) AS _rk",
        )
        .filter(f"_rk <= {k}")
        .selectExpr("query_id", "neighbor_id", "rrf_score", "CAST(_rk AS BIGINT) AS rank")
    )
