"""Integer-exact PageRank power iteration — the second iterative graph
operator next to connected components (operators/cc.py), with the same
determinism posture as the k-means/PQ training replays: every round is
exact int64 arithmetic, so an unrolled-CTE oracle reproduces the ranks
bit-for-bit in any engine.

Formulation (micro-rank units, total mass ~= SCALE; damping d = 0.85,
d_ppm = 850,000):

    R_0(v)     = SCALE div n
    R_{k+1}(v) = base + (d_ppm · Σ_{u→v} (R_k(u) div deg(u))) div 10⁶
    base       = ((10⁶ − d_ppm) · (SCALE div n)) div 10⁶

Integer `div` truncation leaks a little mass per round (as do dangling
nodes) — the RANKING is what users consume and the arithmetic is the
point: no float accumulation order anywhere. Headroom: d_ppm · Σ ≤
0.85e6 · 1e12 < 2⁶³.

Scale shape: each round is one edges⋈ranks hash join on src + one
groupBy(dst) partial-agg sum — shuffle payload is the edge list, the rank
frame is node-sized. Rounds unroll into the plan (3 by default); for deep
iteration counts, localCheckpoint per round exactly like cc.py truncates
lineage.

No analog in the reference engine; training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12
PPM = 10**6


def pagerank(edges: DataFrame, iters: int = 3, dedup_edges: bool = True) -> DataFrame:
    """Ranks after ``iters`` exact power-iteration rounds over DIRECTED
    ``edges`` (columns ``src``, ``dst``). Returns (node, rank) for every node appearing as src or
    dst; dangling nodes keep receiving ``base`` and leak their mass
    (standard simplification, documented above).

    The deduplicated edge list is referenced by deg, nodes, and every
    round's join, and is NOT persisted: the unrolled plan re-runs the edge
    derivation once per reference. Measured A/B at sf0.1 (3 rounds, cold):
    persisting was ~17% SLOWER locally (2.99 s vs 2.55 s — the cache write
    outweighs re-deriving a cheap AQE-broadcast join). A caller whose edge
    input is expensive persists it before the call.

    ``dedup_edges``: degrees and contributions assume DISTINCT edges, so
    the input is deduplicated by default. A caller whose edge derivation
    is distinct BY CONSTRUCTION passes ``False`` to skip that full O(|E|)
    exchange (guide §2.4's "a distinct on data that is already unique" —
    r14: the bench graph's A/B measured 0.75× median; at 100 TB it is a
    full shuffle of the edge list saved). Passing ``False`` with
    duplicated edges silently inflates those edges' degrees and
    contributions — the flag is a caller-side contract, not a hint."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = edges.select("src", "dst")
    if dedup_edges:
        e = e.distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # e and deg are joined on the same key every round — pre-combine ONCE so
    # each round references a single loop-invariant (src, dst, deg) subtree
    # (identical inner joins, associativity; exchange reuse dedups it at
    # runtime) instead of re-planning e and deg separately per round.
    ed = e.join(deg, "src")
    n_row = nodes.agg(F.count(F.lit(1)).alias("n"))
    # Loop-invariant (node, n) frame. Each round's update uses ONLY node/n
    # from the previous ranks (the new rank is base + damped inflow — it
    # never reads the old rank column outside contrib), and the node set is
    # round-invariant, so joining contrib back onto THIS frame instead of
    # onto ranks makes the lineage LINEAR in iters. The old form referenced
    # ranks twice per round (contrib + the left side), doubling the plan
    # per round: 2^iters copies of the edge derivation — 176 parquet scans
    # / 270 Exchanges at iters=3 (plans/r14/pagerank_cust_supp_before.txt)
    # for a query whose data passes need ~14. Row-for-row the same
    # expressions → identical results (oracle-gated).
    nodes_n = nodes.crossJoin(F.broadcast(n_row))
    r0 = nodes_n.select(
        "node", F.expr(f"CAST({SCALE} AS BIGINT) div n").alias("rank"), "n"
    )
    ranks = r0
    for _ in range(iters):
        contrib = (
            ed.join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .select("dst", F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes_n.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                F.expr(
                    f"CAST(({PPM} - 850000) * (CAST({SCALE} AS BIGINT) div n) AS BIGINT) div {PPM}"
                    f" + CAST(850000 * coalesce(inflow, 0) AS BIGINT) div {PPM}"
                ).alias("rank"),
                "n",
            )
        )
    return ranks.select("node", "rank")
