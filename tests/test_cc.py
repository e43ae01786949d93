"""Connected components (operators/cc.py): correctness vs a driver-side
union-find on the same edge lists, convergence depth, and the end-to-end
cluster-attach used by the dedup_minhash_lsh gate query's clusters variant."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.cc import attach_cluster_ids, connected_components


def _uf_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    comp: dict[int, int] = {}
    for node in range(n_nodes):
        r = find(node)
        comp[r] = min(comp.get(r, node), node)
    return {node: comp[find(node)] for node in range(n_nodes)}


def _run(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.component for r in connected_components(df).collect()}


def test_chain_collapses_to_min(spark):
    # a path graph is the worst case for naive min-propagation (diameter
    # rounds); large/small-star must close it in O(log n)
    chain = [(i, i + 1) for i in range(63)]
    got = _run(spark, chain)
    assert got == {i: 0 for i in range(64)}


def test_two_components_and_direction_independence(spark):
    got = _run(spark, [(5, 2), (2, 9), (30, 40), (40, 30), (7, 7)])
    assert got == {2: 2, 5: 2, 9: 2, 30: 30, 40: 30}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_large_star_multiset_round_equals_distinct_round(spark):
    # r14: _large_star dropped its trailing .distinct() (one fewer exchange
    # per round). Pin the invariant that makes that safe: a round
    # (_small_star ∘ _large_star) over a graph WITH duplicate edges lands
    # on exactly the distinct round's edge SET — _small_star's
    # min-aggregate is duplicate-invariant and its trailing distinct
    # dedups, so cur is identical round-for-round.
    from tamer_spark.operators.cc import _large_star, _small_star

    rng = random.Random(11)
    n = 60
    base = [(rng.randrange(n), rng.randrange(n)) for _ in range(80)]
    base = [e for e in base if e[0] != e[1]]
    dup_edges = base + base[::2] + base[::3]  # heavy duplication
    df_dup = spark.createDataFrame(dup_edges, "src long, dst long")
    df_dst = spark.createDataFrame(base, "src long, dst long").distinct()

    round_dup = _small_star(_large_star(df_dup))
    round_dst = _small_star(_large_star(df_dst))
    assert round_dup.exceptAll(round_dst.distinct()).count() == 0
    assert round_dst.exceptAll(round_dup.distinct()).count() == 0
    # and the round output itself is already a distinct set (small_star's
    # trailing distinct) even under duplicated input
    assert round_dup.count() == round_dup.distinct().count()


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]
    expected = _uf_components(n, edges)
    got = _run(spark, [e for e in edges if e[0] != e[1]])
    # cc only labels nodes that appear in some non-self edge
    for node, comp in got.items():
        assert comp == expected[node]
    in_graph = {a for e in edges if e[0] != e[1] for a in e}
    assert set(got) == in_graph


def test_attach_cluster_ids_singletons_and_sizes(spark):
    docs = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 3), (3, 5), (6, 7)], "doc_a long, doc_b long")
    rows = {
        r.doc_id: (r.cluster_rep, r.cluster_size)
        for r in attach_cluster_ids(docs, pairs).collect()
    }
    assert rows == {
        0: (0, 1),
        1: (1, 3),
        2: (2, 1),
        3: (1, 3),
        4: (4, 1),
        5: (1, 3),
        6: (6, 2),
        7: (6, 2),
    }


def test_nonconvergence_guard(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)


def test_count_collision_does_not_false_converge(spark):
    # r10 count-gate pin: the per-round cheap test is |nxt| == |cur|, which
    # COLLIDES on rounds that relabel edges without shrinking the set — the
    # gate must then fall through to the exact exceptAll confirm and keep
    # iterating, never declare a fixed point early. A 4-node path is such a
    # graph: {(0,1),(1,2),(2,3)} contracts round 1 to a different 3-edge set
    # (count unchanged, content changed), so a count-only test would stop a
    # round early with a star that is NOT the component minimum for node 3.
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    st: dict = {}
    got = {r.node: r.component for r in connected_components(edges, stats=st).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}
    assert st["rounds"] >= 2, "gate declared a fixed point on a count collision"


def test_round_count_logarithmic_on_path_graph(spark):
    # r10: the deep-probe result (scripts/cc_ab_probe.py --deep 16: a
    # 2^16-node path converges in 17 ≈ log2 n + 1 rounds) pinned as a suite
    # invariant — star contraction must follow ~log2(n), never the diameter.
    # A 2^10-node path (diameter 1023) would need 1023 rounds under naive
    # min-label propagation; large/small-star must stay near 10.
    n = 1 << 10
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    st: dict = {}
    out = connected_components(edges, stats=st).collect()
    assert len(out) == n
    assert {r.component for r in out} == {0}
    assert st["rounds"] <= 13, f"round count {st['rounds']} not logarithmic"


def test_cluster_best_representatives_election_and_ties(spark):
    from tamer_spark.operators.cc import cluster_best_representatives

    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    clustered = attach_cluster_ids(docs, pairs)
    quality = spark.createDataFrame(
        # cluster {1,2,3}: doc 2 wins on quality; cluster {5,6}: tie on
        # quality -> highest id (6) wins; singletons 4, 7 win themselves
        [(1, 10), (2, 30), (3, 20), (4, 5), (5, 7), (6, 7), (7, None)],
        "doc_id long, quality long",
    )
    got = {
        r.doc_id: (r.best_id, r.best_quality)
        for r in cluster_best_representatives(clustered, quality).collect()
    }
    assert got[1] == (2, 30) and got[2] == (2, 30) and got[3] == (2, 30)
    assert got[5] == (6, 7) and got[6] == (6, 7)
    assert got[4] == (4, 5)
    # NULL-quality singleton wins its own cluster with NULL quality
    assert got[7] == (7, None)


def test_cluster_best_representatives_null_quality_loses(spark):
    # NULL quality must rank below every non-NULL (struct-comparison
    # NULLS-FIRST pin): in {1,2}, doc 2 has NULL quality and doc 1 a real
    # one -> doc 1 wins even though 2 > 1
    from tamer_spark.operators.cc import cluster_best_representatives

    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    clustered = attach_cluster_ids(docs, pairs)
    quality = spark.createDataFrame(
        [(1, 3), (2, None)], "doc_id long, quality long"
    )
    got = {
        r.doc_id: (r.best_id, r.best_quality)
        for r in cluster_best_representatives(clustered, quality).collect()
    }
    assert got == {1: (1, 3), 2: (1, 3)}


def test_cluster_best_representatives_keep_policy_one_winner_per_cluster(spark):
    # keep = (doc_id == best_id) retains exactly one doc per cluster, and
    # it is the max-(quality, id) member — checked against a python replay
    # on a random clustering
    from tamer_spark.operators.cc import cluster_best_representatives

    rng = random.Random(7)
    n = 200
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    quality = [(i, rng.randrange(5)) for i in range(n)]
    qdf = spark.createDataFrame(quality, "doc_id long, quality long")
    clustered = attach_cluster_ids(docs, pairs)
    rows = cluster_best_representatives(clustered, qdf).collect()
    by_cluster: dict[int, list] = {}
    cl = {r.doc_id: r.cluster_rep for r in clustered.collect()}
    for d, q in quality:
        by_cluster.setdefault(cl[d], []).append((q, d))
    expected_best = {c: max(v) for c, v in by_cluster.items()}
    for r in rows:
        q, d = expected_best[cl[r.doc_id]]
        assert (r.best_id, r.best_quality) == (d, q)
    kept = {r.doc_id for r in rows if r.doc_id == r.best_id}
    assert len(kept) == len(expected_best)
