"""Product quantization: encode determinism, map-only plan, ADC recall."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tamer_spark.operators.pq import pq_encode, pq_search_adc, pq_train
from tamer_spark.plans import plan_shape
from tests.conftest import SF_DIR


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_pq_codes_packed_consistently(spark):
    emb = _emb(spark)
    cb = pq_train(emb, m=4, k=16, iters=2)
    rows = pq_encode(emb, cb).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r.codes) == 4
        assert all(0 <= c < 16 for c in r.codes)
        assert r.code == sum(c * 16 ** (3 - j) for j, c in enumerate(r.codes))


def test_pq_train_deterministic(spark):
    emb = _emb(spark)
    assert pq_train(emb, m=4, k=16, iters=2) == pq_train(emb, m=4, k=16, iters=2)


def test_pq_encode_is_map_only(spark):
    """Encoding against frozen codebooks must add NO exchange — it is the
    per-epoch hot path (ivf_append posture for the PQ half of IVFADC)."""
    emb = _emb(spark)
    cb = pq_train(emb, m=4, k=16, iters=1)
    shape = plan_shape(pq_encode(emb, cb))
    assert not shape.count("Exchange", "BroadcastExchange"), shape


def test_pq_frozen_codebooks_epoch_union_equals_all_at_once(spark):
    """Encoding two epoch batches separately against frozen codebooks must
    equal encoding the union — history is never re-touched."""
    emb = _emb(spark)
    cb = pq_train(emb, m=4, k=16, iters=2)
    a = pq_encode(emb.filter(F.col("vec_id") % 2 == 0), cb)
    b = pq_encode(emb.filter(F.col("vec_id") % 2 == 1), cb)
    union = sorted(map(tuple, a.unionByName(b).collect()))
    allatonce = sorted(map(tuple, pq_encode(emb, cb).collect()))
    assert union == allatonce


def test_pq_adc_recall_vs_exact_l2(spark):
    """ADC ranks by Σ_j ||q_j - codeword(code_j)||² — the EXACT distance to
    each vector's reconstruction. Three checks: (1) every reported distance
    matches a driver-side recomputation exactly (integer arithmetic);
    (2) the distributed top-5 equals the driver-side top-5 computed from
    the same codes (ranking is deterministic given the quantization);
    (3) recall vs true L2 clears a weak sanity floor — the fixture is
    uniform-random 64-dim noise, PQ's worst case (no cluster structure for
    the codebooks to exploit; measured ~0.1-0.2 at several (m,k) settings,
    non-monotone in both), so anything stronger would pin noise."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    cb = pq_train(emb, m=4, k=16, iters=2)
    coded = pq_encode(emb, cb)
    adc = pq_search_adc(coded, cb, queries, topk=5).collect()

    qv = {
        r.vec_id: [round(x * 1000) for x in r.embedding]
        for r in emb.collect()
    }
    codes = {r.vec_id: list(r.codes) for r in coded.collect()}

    def exact_topk(qid, k=5):
        q = qv[qid]
        scored = sorted(
            (sum((a - b) ** 2 for a, b in zip(q, v)), vid)
            for vid, v in qv.items() if vid != qid
        )
        return {vid for _, vid in scored[:k]}

    def adc_dist(qid, nid):
        q, cs = qv[qid], codes[nid]
        total = 0
        for j, c in enumerate(cs):
            sub_q = q[j * 16 : (j + 1) * 16]
            total += sum((a - b) ** 2 for a, b in zip(sub_q, cb[j][c]))
        return total

    hits = total = 0
    for r in adc:
        assert math.isclose(r.approx_dist, adc_dist(r.query_id, r.neighbor_id)), (
            r.query_id, r.neighbor_id)
    by_q: dict[int, list] = {}
    for r in adc:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for qid, ranked in by_q.items():
        expect = [
            vid
            for _, vid in sorted(
                (adc_dist(qid, vid), vid) for vid in qv if vid != qid
            )[:5]
        ]
        got = [vid for _, vid in sorted(ranked)]
        assert got == expect, f"q{qid}: ADC ranking diverged from codes"
    for qid, ranked in by_q.items():
        exact = exact_topk(qid)
        hits += len({vid for _, vid in ranked} & exact)
        total += len(exact)
    assert hits / total >= 0.05, f"ADC recall collapsed: {hits}/{total}"


def test_ivfadc_search_composition(spark):
    """The composed serving path's two provable guarantees:

    1. shortlist ⊇ all probed candidates ⇒ ivfadc_search degenerates to
       ivf_search exactly (the exact rerank sees everything the probe saw);
    2. with all clusters probed, a reranked ADC shortlist can only improve
       on plain ADC top-k recall: the true top-k members inside the
       shortlist always outrank non-members under the exact rerank, and
       ADC's own top-k is a subset of the shortlist."""
    from tamer_spark.operators.pq import ivfadc_search
    from tamer_spark.operators.similarity import cosine_knn, ivf_build, ivf_search

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    assigned, centroids = ivf_build(emb, n_centroids=4, iters=2)
    cb = pq_train(emb, m=4, k=16, iters=2)
    index = assigned.join(pq_encode(emb, cb).select("vec_id", "codes"), "vec_id")

    full = ivfadc_search(
        index, centroids, cb, queries, k=5, nprobe=4, shortlist=1_000_000
    ).collect()
    want = ivf_search(assigned, centroids, queries, k=5, nprobe=4).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, want))

    def recall(rows, exact_rows):
        want_n: dict[int, set[int]] = {}
        got_n: dict[int, set[int]] = {}
        for r in exact_rows:
            want_n.setdefault(r.query_id, set()).add(r.neighbor_id)
        for r in rows:
            got_n.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(got_n.get(q, set()) & n) for q, n in want_n.items())
        return hits / sum(len(n) for n in want_n.values())

    exact = cosine_knn(emb, queries, k=5).collect()
    adc_only = pq_search_adc(pq_encode(emb, cb), cb, queries, topk=5).collect()
    reranked = ivfadc_search(
        index, centroids, cb, queries, k=5, nprobe=4, shortlist=20
    ).collect()
    assert recall(reranked, exact) >= recall(adc_only, exact)
