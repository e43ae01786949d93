"""Distributed connected components — turn near-dup PAIRS into CLUSTERS.

The LSH family (dedup.minhash_lsh_pairs, embedding-cosine buckets) emits
candidate *pairs*. Deduplication needs one canonical representative per
transitive cluster: if A~B and B~C, then {A,B,C} is one group even when A
and C never share a bucket. That closure is a connected-components problem
on a graph with billions of edges at 100 TB — it cannot be a driver-side
union-find.

This module implements the alternating large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public literature) in pure DataFrame ops:

* large-star: every node links its LARGER neighbors to the minimum of its
  neighborhood (incl. itself);
* small-star: every node links its smaller-or-equal neighbors to that
  minimum.

Each round is two window-min exchanges keyed by node id (r14: the
neighborhood minimum rides the node exchange as an unordered window
aggregate — no per-round groupBy + self-join); the edge set
monotonically contracts toward star graphs centered on each component's
minimum id. Convergence is O(log n) rounds *regardless of graph diameter*
— the reason to prefer it over naive min-label propagation, whose round
count is the component diameter (a 1M-doc boilerplate chain would need 1M
rounds; large/small-star needs ~20).

Scale notes (docs/SCALING.md):
* per-round shuffle volume is O(|E|) longs, and |E| SHRINKS each round as
  edges re-point to component minima — later rounds are cheaper;
* ``localCheckpoint`` after each round truncates lineage (an iterative
  plan otherwise doubles in depth per round and overwhelms Catalyst); on
  a real cluster with an HDFS checkpoint dir, ``DataFrame.checkpoint``
  is the reliable-storage variant — the seam is the one call site below;
* the convergence test is count-gated (r10): per round one cheap count
  (map-side partial agg over the checkpointed blocks); the exact set test
  — count equality plus ONE ``exceptAll`` leg, which over two distinct
  sets implies equality — runs only at the candidate fixed point. Exact
  (no false convergence on count/sum collisions), and the per-round
  full-shuffle symmetric difference it replaced cost +12 % at 6.5M
  edges (A/B in docs/SCALING.md round-10 notes).

There is no analog in the reference engine (tamer has no dedup operators);
this is part of the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["connected_components", "attach_cluster_ids"]


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) symmetric → for each u, connect strictly-larger neighbors to
    min(N(u) ∪ {u}).

    The output is a MULTISET (r14): the former trailing ``.distinct()``
    cost a full O(|E|) exchange per round, and every consumer tolerates
    duplicates — ``_small_star``'s min-aggregate is duplicate-invariant
    and its own trailing ``.distinct()`` dedups the round's result, so
    ``cur`` is identical round-for-round either way (A/B at sf0.1 over
    the bench LSH pair graph: median ratio 0.83, 0 differing component
    rows; one fewer shuffle per round at any scale, dup inflation bounded
    by |sym| = 2|E|).

    The neighborhood minimum is a WINDOW aggregate over partitionBy(src)
    (r14, guide §2.4 — same-keyed operations share one exchange), not the
    former groupBy(src) + self-join back on src: the join consumed the
    same exchange twice (ReusedExchange) plus a join operator per round,
    while the unordered window computes min(dst) in one pass over the one
    exchange with no sort and no join (A/B at sf0.1 over the bench LSH
    pair graph: full-CC median 1.98 → 1.47 s, 0 differing rows, same
    round count). Skew posture unchanged: a hot src neighborhood lands in
    one task under either form."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    w = Window.partitionBy("src")
    return (
        sym.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Point each edge from its larger endpoint; connect the smaller-or-equal
    neighborhood (and the center itself) to its minimum. Same window-over-
    one-exchange form as ``_large_star`` (r14) — no groupBy+join round
    trip."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    w = Window.partitionBy("src")
    withm = directed.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
    to_min = withm.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    center = withm.select("src", F.col("m").alias("dst"))
    return to_min.union(center).filter(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Return ``(node, component)`` where component is the minimum node id
    reachable from ``node``. Nodes appearing in no edge are absent (map
    them to themselves at the call site — see ``attach_cluster_ids``).

    ``max_iter`` is a hard stop only; the loop exits on the exact
    fixed-point test, typically ≤ ceil(log2 |largest component|) + 2
    rounds. Raises RuntimeError if the bound is hit without convergence
    (25 rounds covers components of ~2^23 nodes — at 100 TB raise it, or
    investigate the graph, before trusting partial output).

    ``stats`` (optional dict) receives ``rounds`` — the number of
    star-contraction rounds actually run — so scale probes can verify the
    O(log n) round-count claim without re-instrumenting the loop.
    """
    cur = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    cur_n = cur.count()
    for rounds in range(1, max_iter + 1):
        nxt = _small_star(_large_star(cur)).localCheckpoint()
        if stats is not None:
            stats["rounds"] = rounds
        # count-gated exact fixed-point test (r10, A/B-measured): per round
        # ONE cheap count — a map-side partial agg over the just-checkpointed
        # blocks — and the set test runs only when |nxt| == |cur|. Two cases:
        # early rounds on real pair graphs SHRINK the count (m raw edges
        # contract toward one parent edge per non-root node) and skip the
        # set test entirely; late rounds merely RELABEL at constant count
        # (a k-node tree keeps exactly k-1 edges — a pure path collides on
        # EVERY round, see test_count_collision_does_not_false_converge),
        # where the gate fires the confirm but pays ONE exceptAll leg
        # instead of the former test's two: both frames are distinct sets,
        # so |nxt| == |cur| and nxt\cur = ∅ together imply equality. Never
        # a false convergence, ≤ the old cost in both cases. vs the former
        # per-round two-leg symmetric difference: tied at probe scale,
        # −12 % at 6.5M edges x 17 all-collision rounds (scripts/
        # cc_ab_probe.py --deep 16 100; docs/SCALING.md round-10 notes) —
        # larger still on real graphs whose early rounds skip the test.
        nxt_n = nxt.count()
        if nxt_n == cur_n and nxt.exceptAll(cur).isEmpty():
            cur = nxt
            break
        cur, cur_n = nxt, nxt_n
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # fixed point is a star graph: src > dst == component minimum; the
    # minima themselves are their own component.
    members = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    reps = cur.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return members.union(reps).distinct()


def attach_cluster_ids(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Full dedup-clustering step: near-dup pairs → per-row cluster ids.

    Adds ``cluster_rep`` (minimum id in the row's transitive near-dup
    cluster; itself for singletons) and ``cluster_size``. Keeping
    ``cluster_rep == doc_id`` rows and dropping the rest is the standard
    "keep one representative per cluster" policy; the size column supports
    weighted/stratified alternatives.

    The pair graph is tiny relative to the corpus (dup clusters only), so
    the components table broadcasts in the common case; Catalyst/AQE picks
    that up from size stats rather than a forced hint, which keeps the
    pathological all-dup corpus (components ≈ corpus) safe.
    """
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    out = (
        df.join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .withColumn("cluster_rep", F.coalesce(F.col("component"), F.col("doc_id")))
        .drop("component")
    )
    sizes = out.groupBy("cluster_rep").agg(F.count(F.lit(1)).alias("cluster_size"))
    return out.join(sizes, "cluster_rep")


def cluster_best_representatives(
    clustered: DataFrame,
    quality: DataFrame,
    quality_col: str = "quality",
) -> DataFrame:
    """Quality-aware representative election per near-dup cluster — the
    keep-BEST policy production dedup actually runs (keep the longest /
    highest-quality member; Penedo et al. 2023 §3.3 keep rules), where
    ``attach_cluster_ids``'s min-id ``cluster_rep`` is only a stable
    LABEL. Keeping ``best_id == id`` rows is the retention policy;
    emitting the losers with their winner supports audit/provenance.

    ``clustered`` is attach_cluster_ids output (id, cluster_rep, ...);
    ``quality`` carries (id, quality_col). Winner per cluster = MAX
    (quality, id) lexicographic struct — partial-aggregable (map-side
    combine shrinks a 10k-member boilerplate cluster to one row per
    partition before the exchange; never a row_number window, which
    would pile the whole hot cluster into one task), ties broken by
    highest id so the election is a total order. NULL quality ranks
    below every non-NULL (struct comparison; a NULL-quality doc can
    only win an all-NULL cluster, where the highest id wins).

    Returns (id, cluster_rep, best_id, best_quality) — one row per input
    row of ``clustered``. Shuffles: one agg + one join, both on
    cluster_rep (cluster count ≤ corpus; the winners table is usually
    broadcast-sized next to the corpus and AQE picks that up).
    """
    q = quality.select(F.col("doc_id"), F.col(quality_col).alias("_q"))
    scored = clustered.select("doc_id", "cluster_rep").join(q, "doc_id", "left")
    winners = scored.groupBy("cluster_rep").agg(
        F.max(F.struct(F.col("_q").alias("q"), F.col("doc_id").alias("i"))).alias("_w")
    )
    return (
        clustered.select("doc_id", "cluster_rep")
        .join(winners, "cluster_rep")
        .select(
            "doc_id",
            "cluster_rep",
            F.col("_w.i").alias("best_id"),
            F.col("_w.q").alias("best_quality"),
        )
    )
