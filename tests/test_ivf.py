"""IVF ANN: full-probe equals brute force; partial probe trades recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.operators.similarity import cosine_knn, ivf_build, ivf_search
from tamer_spark.plans import plan_shape
from tests.conftest import SF_DIR


def _recall(approx_rows, exact_rows):
    approx = {}
    exact = {}
    for r in approx_rows:
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in exact_rows:
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(approx.get(q, set()) & n) for q, n in exact.items())
    total = sum(len(n) for n in exact.values())
    return hits / total


def test_ivf_full_probe_equals_bruteforce(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    assigned, centroids = ivf_build(emb, n_centroids=4, iters=2)
    exact = cosine_knn(emb, queries, k=5).collect()
    full = ivf_search(assigned, centroids, queries, k=5, nprobe=4).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, exact))


def test_ivf_partial_probe_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    assigned, centroids = ivf_build(emb, n_centroids=8, iters=2)
    exact = cosine_knn(emb, queries, k=5).collect()
    approx = ivf_search(assigned, centroids, queries, k=5, nprobe=3).collect()
    r = _recall(approx, exact)
    assert r >= 0.3, f"recall {r} collapsed"  # random vectors: coarse clusters are weak but not useless
    # build is deterministic: same input → same centroids
    _, centroids2 = ivf_build(emb, n_centroids=8, iters=2)
    assert centroids == centroids2


def test_lsh_multiprobe_recall_geq_single_probe(spark):
    """Multi-probe candidates are a superset of single-probe (same base
    bucket always probed) → recall against exact top-5 must not drop, and
    on this fixture strictly improves."""
    from tamer_spark.operators.similarity import cosine_knn_lsh, cosine_knn_lsh_multiprobe

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_knn(emb, queries, k=5).collect()
    single = cosine_knn_lsh(emb, queries, k=5, planes=8, dim=64).collect()
    multi = cosine_knn_lsh_multiprobe(emb, queries, k=5, planes=8, dim=64, probes=3).collect()
    r1, r3 = _recall(single, exact), _recall(multi, exact)
    assert r3 >= r1, f"multi-probe recall {r3} < single-probe {r1}"
    assert len(multi) >= len(single)  # superset of candidate buckets


def test_ivf_append_matches_full_assignment_and_search(spark):
    """Epoch loop: assign new vectors to frozen centroids, append to the
    inverted file — search over the union equals assigning everything at
    once, and the append pass is map-only (no Exchange)."""
    from tamer_spark.operators.similarity import ivf_append

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    _, centroids = ivf_build(old, n_centroids=4, iters=2)

    index = ivf_append(old, centroids).unionByName(ivf_append(new, centroids))
    all_at_once = ivf_append(emb, centroids)
    assert sorted(
        (r.vec_id, r.cluster) for r in index.collect()
    ) == sorted((r.vec_id, r.cluster) for r in all_at_once.collect())

    queries = emb.filter(F.col("vec_id") < 10)
    got = ivf_search(index, centroids, queries, k=5, nprobe=4).collect()
    want = ivf_search(all_at_once, centroids, queries, k=5, nprobe=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # a neighbor from the NEW half is reachable through the appended index
    assert any(r.neighbor_id % 2 == 1 for r in got)

    shape = plan_shape(ivf_append(new, centroids))
    assert not shape.count("Exchange", "BroadcastExchange"), shape


def test_ivf_build_inverted_file_equals_ivf_append(spark):
    """The build's inverted file is exactly what appending the same vectors
    to its centroids produces: an epoch appended later is keyed bit for bit
    the way the build keyed the corpus."""
    from tamer_spark.operators.similarity import ivf_append

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assigned, centroids = ivf_build(emb, n_centroids=4, iters=2)
    got = sorted((r.vec_id, list(r.qv), r.cluster) for r in assigned.collect())
    want = sorted(
        (r.vec_id, list(r.qv), r.cluster) for r in ivf_append(emb, centroids).collect()
    )
    assert got == want and len({c for _, _, c in got}) > 1


def test_multiprobe_first_probe_is_single_probe_bucket(spark):
    """Multi-probe's base bucket (probe 0) is cosine_knn_lsh's bucket for
    every vector — the fixture's plus seeded random integer vectors, which
    include exact zeros (projection 0 is not > 0 in either form)."""
    import random

    from tamer_spark.operators.similarity import (
        lsh_bucket_sql,
        lsh_probe_buckets_sql,
        quantize_sql,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").selectExpr(
        "vec_id", f"{quantize_sql('embedding')} AS qv"
    )
    rng = random.Random(7)
    rand = spark.createDataFrame(
        [(10_000 + i, [float(rng.randint(-3, 3)) for _ in range(64)]) for i in range(2000)],
        "vec_id long, qv array<double>",
    )
    for planes, probes in ((8, 3), (6, 4)):
        rows = (
            emb.unionByName(rand)
            .selectExpr(
                "vec_id",
                f"{lsh_bucket_sql('qv', planes, 64)} AS bucket",
                f"{lsh_probe_buckets_sql('qv', planes, 64, probes=probes)} AS probes",
            )
            .collect()
        )
        assert len(rows) == 2500
        assert all(r.probes[0] == r.bucket for r in rows)
        assert all(len(set(r.probes)) == probes for r in rows)


def test_ivf_search_over_bucketed_inverted_file(spark, tmp_path):
    """The 100 TB storage layout SCALING.md documents: the inverted file
    persisted bucketed by cluster (sinks/bucketed), searched via
    spark.table — results must equal the in-memory path, and the search
    plan must not exchange the index side (broadcast probe join)."""
    from tamer_spark.sinks.bucketed import write_bucketed

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    assigned, centroids = ivf_build(emb, n_centroids=4, iters=2)

    spark.sql("DROP TABLE IF EXISTS test_ivf_inverted")
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/test_ivf_inverted", ignore_errors=True)
    write_bucketed(assigned, "test_ivf_inverted", ["cluster"], num_buckets=4)

    got = ivf_search(spark.table("test_ivf_inverted"), centroids, queries, k=5, nprobe=2)
    want = ivf_search(assigned, centroids, queries, k=5, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # index side streams from the bucketed scan; only the rank window may
    # exchange (keyed by query_id — query-sized, not corpus-sized)
    assert plan_shape(got).nodes["BroadcastHashJoin"], plan_shape(got)
    spark.sql("DROP TABLE IF EXISTS test_ivf_inverted")


def test_semdedup_keep_min_and_no_close_survivors(spark):
    """SemDeDup invariants: (1) the minimum id of every cluster always
    survives (keep-min-id rule), (2) no survivor has a LOWER-id member of
    its cluster at cosine >= threshold (else it should have been dropped),
    (3) survivors are a subset of the corpus partitioned by cluster."""
    from tamer_spark.operators.similarity import ivf_build, semdedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    th = 0.2  # loose threshold so the synthetic fixture actually drops rows
    assigned, centroids = ivf_build(emb, n_centroids=4, iters=2)
    keep = semdedup(emb, n_centroids=4, iters=2, threshold=th, model=centroids)
    kept = keep.collect()
    all_assigned = assigned.select("vec_id", "cluster", "qv").collect()
    assert 0 < len(kept) < len(all_assigned), "threshold dropped nothing/everything"

    by_cluster: dict[int, list] = {}
    for r in all_assigned:
        by_cluster.setdefault(r.cluster, []).append(r)
    kept_ids = {r.vec_id for r in kept}
    for cid, members in by_cluster.items():
        assert min(m.vec_id for m in members) in kept_ids
    # survivors must not have a lower-id in-cluster neighbor over threshold
    import math

    qv = {r.vec_id: (r.cluster, r.qv) for r in all_assigned}
    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        return d / math.sqrt(sum(x * x for x in u) * sum(y * y for y in v))
    for r in kept:
        c, v = qv[r.vec_id]
        for other, (c2, v2) in qv.items():
            if c2 == c and other < r.vec_id:
                assert cos(v2, v) < th, f"{r.vec_id} should have been dropped vs {other}"


def _identical_corpus(spark, n=40, dim=8):
    """The degenerate case the skew guards exist for: every vector identical
    → k-means puts ALL of them in one cluster / one LSH bucket."""
    vec = [float(i % 3 + 1) for i in range(dim)]
    return spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id long, embedding array<float>"
    )


def test_semdedup_cluster_cap_bounds_pair_join(spark):
    """max_cluster salt-splits a degenerate (all-identical) cluster: pair
    work is confined to (cluster, shard), so the self-join is bounded at
    ~max_cluster² per shard instead of cluster². Row evidence: uncapped,
    keep-min-id leaves exactly 1 survivor of the 40 identical vectors;
    capped at 10, each of the ceil(40/10)=4 hash shards keeps its own min —
    survivors == occupied shards, proving no cross-shard pairs were ever
    generated."""
    from tamer_spark.operators.similarity import semdedup

    emb = _identical_corpus(spark, n=40, dim=8)
    model = [[float((i % 3 + 1) * 1000) for i in range(8)]]  # 1 frozen centroid
    uncapped = semdedup(emb, threshold=0.9, model=model).collect()
    assert len(uncapped) == 1 and uncapped[0].vec_id == 0

    capped = semdedup(emb, threshold=0.9, model=model, max_cluster=10).collect()
    assert 2 <= len(capped) <= 4, f"expected per-shard survivors, got {len(capped)}"
    assert {r.vec_id for r in uncapped} <= {r.vec_id for r in capped}
    # a non-binding cap must be a no-op (the gate/oracle path)
    default = semdedup(emb, threshold=0.9, model=model, max_cluster=100_000).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, uncapped))


def test_knn_lsh_bucket_cap_bounds_candidates(spark):
    """max_bucket bounds candidates per LSH bucket: with 40 identical
    vectors (one hot bucket) and k > bucket size, an uncapped query sees
    all 39 others; capped at 5 it sees at most 5 — and the retained set is
    the same deterministic pseudo-random sample for every query."""
    from collections import Counter

    from tamer_spark.operators.similarity import cosine_knn_lsh, cosine_knn_lsh_multiprobe

    emb = _identical_corpus(spark, n=40, dim=8)
    queries = emb.filter(F.col("vec_id") < 3)
    uncapped = cosine_knn_lsh(emb, queries, k=100, planes=4, dim=8, max_bucket=None).collect()
    assert Counter(r.query_id for r in uncapped)[0] == 39

    for fn in (cosine_knn_lsh, cosine_knn_lsh_multiprobe):
        capped = fn(emb, queries, k=100, planes=4, dim=8, max_bucket=5).collect()
        per_q = Counter(r.query_id for r in capped)
        assert per_q and max(per_q.values()) <= 5, f"{fn.__name__}: {per_q}"
        assert {(r.query_id, r.neighbor_id) for r in capped} <= {
            (r.query_id, r.neighbor_id) for r in uncapped
        }


def test_knn_lsh_default_cap_is_noop_at_fixture_scale(spark):
    """The default max_bucket (10k) must not change results on real data —
    the guard binds only on pathological buckets, so the gate/oracle path
    is unaffected."""
    from tamer_spark.operators.similarity import cosine_knn_lsh

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    with_cap = cosine_knn_lsh(emb, queries, k=5, planes=8, dim=64).collect()
    no_cap = cosine_knn_lsh(emb, queries, k=5, planes=8, dim=64, max_bucket=None).collect()
    assert sorted(map(tuple, with_cap)) == sorted(map(tuple, no_cap))


def test_semdedup_incremental_equals_batch_over_union(spark):
    """Epoch posture: pruning a new batch against the persisted inverted
    file must give EXACTLY the new-id survivors of batch SemDeDup over
    history ∪ batch (keep-min-id is id-ordered, history ids are lower) —
    and historical survivors are untouched by construction. Checked both
    uncapped and with a BINDING max_cluster (shard sizes computed over the
    union on both paths, so capped verdicts agree too)."""
    from tamer_spark.operators.similarity import (
        ivf_append,
        ivf_build,
        semdedup,
        semdedup_incremental,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    _, cents = ivf_build(old, n_centroids=4, iters=2)
    index = ivf_append(old, cents)
    union_raw = (
        emb.filter(F.col("vec_id") % 3 != 0)
        .select("vec_id", "embedding")
        .unionByName(new.select("vec_id", "embedding"))
    )
    for cap in (100_000, 25):  # non-binding and binding
        batch_new_survivors = sorted(
            (r.vec_id, r.cluster)
            for r in semdedup(union_raw, threshold=0.2, model=cents, max_cluster=cap).collect()
            if r.vec_id >= 1_000_000
        )
        inc = sorted(
            (r.vec_id, r.cluster)
            for r in semdedup_incremental(
                new, index, cents, threshold=0.2, max_cluster=cap
            ).collect()
        )
        assert inc == batch_new_survivors, f"cap={cap}"
    assert inc, "no new survivors — fixture not exercising the operator"


def test_semdedup_frozen_model_matches_self_trained(spark):
    """Passing ivf_build's centroids as a frozen model must give the same
    survivors as training inside semdedup (assignment is deterministic)."""
    from tamer_spark.operators.similarity import ivf_build, semdedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _, centroids = ivf_build(emb, n_centroids=4, iters=2)
    a = sorted(map(tuple, semdedup(emb, n_centroids=4, iters=2, threshold=0.2).collect()))
    b = sorted(map(tuple, semdedup(emb, threshold=0.2, model=centroids).collect()))
    assert a == b


def test_round4_operators_handle_empty_inputs(spark):
    """Epoch plumbing edge cases: an empty new batch (quiet day) and an
    empty query set must produce empty results, not errors."""
    from tamer_spark.operators.pq import ivfadc_search, pq_encode, pq_train
    from tamer_spark.operators.similarity import (
        ivf_append,
        ivf_build,
        semdedup_incremental,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _, cents = ivf_build(emb, n_centroids=4, iters=1)
    cb = pq_train(emb, m=4, k=16, iters=1)
    empty = emb.filter(F.lit(False)).select("vec_id", "embedding")

    index = ivf_append(emb, cents)
    assert semdedup_incremental(empty, index, cents).count() == 0
    assert pq_encode(empty, cb).count() == 0
    full_index = index.join(pq_encode(emb, cb).select("vec_id", "codes"), "vec_id")
    assert ivfadc_search(full_index, cents, cb, empty, k=5).count() == 0
