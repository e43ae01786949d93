"""Retrieval quality: recall@5 floors for the ANN tier vs brute-force cosine.

The hash gates (ann_search, ivf_cluster_assign) pin *determinism* — the
algorithms compute exactly what their spec says. These tests pin
*usefulness*: recall@k against the exact baseline, the number a user reads
to pick nprobe/shortlist. Floors are the r5 measured values at sf0.01
(scripts/ann_recall.py, table in docs/SCALING.md) minus slack for testdata
regeneration drift; orderings (more probes / longer shortlist / finer PQ →
recall up) must hold exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.ann_eval import recall_value
from tamer_spark.operators.pq import ivfadc_search, pq_encode, pq_search_adc, pq_train
from tamer_spark.operators.similarity import cosine_knn, ivf_build, ivf_search
from tamer_spark.plans import plan_shape
from tests.conftest import SF_DIR_MED

K = 5
N_QUERIES = 100


@pytest.fixture(scope="module")
def rig(spark):
    emb = spark.read.parquet(f"{SF_DIR_MED}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < N_QUERIES)
    truth = cosine_knn(emb, qs, k=K).persist()
    truth.count()
    assigned, centroids = ivf_build(emb, n_centroids=8, iters=3)
    assigned = assigned.persist()
    assigned.count()
    yield {"emb": emb, "qs": qs, "truth": truth, "assigned": assigned, "centroids": centroids}
    truth.unpersist()
    assigned.unpersist()


def test_ivf_recall_monotone_in_nprobe_with_floors(rig):
    r = {
        np_: recall_value(
            ivf_search(rig["assigned"], rig["centroids"], rig["qs"], k=K, nprobe=np_),
            rig["truth"],
        )
        for np_ in (1, 2, 4)
    }
    assert r[1] <= r[2] <= r[4], r
    # measured r5 @ sf0.01: 0.284 / 0.478 / 0.748
    assert r[1] >= 0.20 and r[2] >= 0.38 and r[4] >= 0.65, r


def test_ivfadc_recall_monotone_and_floors(rig):
    """The composed serving path at the QUALITY PQ config (m=8, k=64 — the
    r5 sweep's pick): recall must rise with both shortlist and nprobe, and
    the operating point (nprobe=4, shortlist=50) clears its floor."""
    cb = pq_train(rig["emb"], m=8, k=64, iters=3)
    coded = pq_encode(rig["emb"], cb)
    index = rig["assigned"].join(coded.select("vec_id", "codes"), "vec_id").persist()
    index.count()
    try:
        def comp(np_, sl):
            return recall_value(
                ivfadc_search(index, rig["centroids"], cb, rig["qs"], k=K,
                              nprobe=np_, shortlist=sl),
                rig["truth"],
            )

        by_sl = {sl: comp(4, sl) for sl in (10, 20, 50)}
        assert by_sl[10] <= by_sl[20] <= by_sl[50], by_sl
        by_np = {np_: comp(np_, 50) for np_ in (1, 4)}
        assert by_np[1] <= by_np[4], by_np
        # measured r5 @ sf0.01: 0.696 at nprobe=4, shortlist=50
        assert by_sl[50] >= 0.60, by_sl
    finally:
        index.unpersist()


def test_adc_quality_config_beats_gate_config(rig):
    """Finer PQ (m=8 × k=64, 6-bit codes) must beat the 2-byte gate config
    (m=4 × k=16) on plain ADC recall — the trade the published curve
    documents (storage 4× up, recall ~2.8× up at sf0.01)."""
    def adc_recall(m, kk):
        cb = pq_train(rig["emb"], m=m, k=kk, iters=3)
        coded = pq_encode(rig["emb"], cb)
        return recall_value(pq_search_adc(coded, cb, rig["qs"], topk=K), rig["truth"])

    coarse, fine = adc_recall(4, 16), adc_recall(8, 64)
    assert fine > coarse, (coarse, fine)
    # measured r5 @ sf0.01: 0.124 / 0.342
    assert coarse >= 0.08 and fine >= 0.28, (coarse, fine)


def test_pq_encode_64bit_code_space_has_null_packed_code(spark):
    """m=8 × k=256 is the standard IVFPQ config; its code space is exactly
    2^64, which cannot pack into int64 — pq_encode must keep the codes
    array and emit a NULL packed code instead of overflowing (ANSI mode
    raised ARITHMETIC_OVERFLOW before the r5 guard)."""
    emb = spark.read.parquet(f"{SF_DIR_MED}/embeddings.parquet").limit(20)
    # hand-built codebooks (training 256 centroids is beside the point):
    # codeword i in every subspace is the constant vector [i]*8
    cb = [[[i] * 8 for i in range(256)] for _ in range(8)]
    rows = pq_encode(emb, cb).collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r.codes) == 8
        assert all(0 <= c < 256 for c in r.codes)
        assert r.code is None


# ---------------------------------------------------------------------------
# ranking_metrics / macro_metrics (r12): the graded IR eval battery
# ---------------------------------------------------------------------------

def _frames(spark, run_rows, qrel_rows):
    run = spark.createDataFrame(run_rows, "query_id long, neighbor_id long, rank long")
    qrels = spark.createDataFrame(qrel_rows, "query_id long, neighbor_id long")
    return run, qrels


def test_ranking_metrics_exact_values(spark):
    """Hand-checkable case: q0 hits 2 of 4 relevant (first at rank 2),
    q1 hits 0 of 2 — kept at zero, not dropped."""
    from tamer_spark.operators.ann_eval import ranking_metrics

    run, qrels = _frames(
        spark,
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1), (1, 21, 2)],
        [(0, 11, ), (0, 12), (0, 13), (0, 14), (1, 30), (1, 31)],
    )
    m = {r.query_id: r for r in ranking_metrics(run, qrels, k=3).collect()}
    assert m[0].n_rel == 4 and m[0].hits == 2
    assert m[0].recall_ppm == 2 * 1_000_000 // 4
    assert m[0].mrr_ppm == 1_000_000 // 2
    assert m[0].precision_ppm == 2 * 1_000_000 // 3
    assert m[1].n_rel == 2 and m[1].hits == 0
    assert (m[1].recall_ppm, m[1].mrr_ppm, m[1].precision_ppm) == (0, 0, 0)


def test_ranking_metrics_k_bound_and_scope(spark):
    """Ranks beyond k are invisible; a run query with no qrels entry is
    excluded (nothing to measure against); duplicate qrels rows dedup."""
    from tamer_spark.operators.ann_eval import ranking_metrics

    run, qrels = _frames(
        spark,
        [(0, 11, 5), (7, 99, 1)],  # q0's only hit sits past k; q7 has no qrels
        [(0, 11), (0, 11)],  # duplicated relevance row
    )
    rows = ranking_metrics(run, qrels, k=3).collect()
    assert {r.query_id for r in rows} == {0}
    r0 = rows[0]
    assert r0.n_rel == 1 and r0.hits == 0 and r0.mrr_ppm == 0


def test_ranking_metrics_perfect_run_and_macro(spark):
    """A run that returns exactly the relevance set scores 10⁶ across the
    ppm metrics, and macro_metrics is the integer mean over queries."""
    from tamer_spark.operators.ann_eval import macro_metrics, ranking_metrics

    run, qrels = _frames(
        spark,
        [(0, 10, 1), (0, 11, 2), (1, 20, 1), (1, 21, 2)],
        [(0, 10), (0, 11), (1, 20), (1, 21)],
    )
    per = ranking_metrics(run, qrels, k=2)
    for r in per.collect():
        assert r.recall_ppm == 1_000_000 and r.mrr_ppm == 1_000_000
        assert r.precision_ppm == 1_000_000
    mac = macro_metrics(per).collect()[0]
    assert mac.n_queries == 2
    assert mac.recall_ppm == mac.mrr_ppm == mac.precision_ppm == 1_000_000
    # mixed macro: degrade q1 to a half-recall run and check the integer mean
    run2, _ = _frames(spark, [(0, 10, 1), (0, 11, 2), (1, 20, 1)], [(0, 10)])
    per2 = ranking_metrics(run2, qrels, k=2)
    mac2 = macro_metrics(per2).collect()[0]
    assert mac2.recall_ppm == (1_000_000 + 500_000) // 2


def test_ranking_metrics_no_window_no_sort(spark):
    """The eval plan is partial-aggregable groupBys only — no Window, no
    global Sort (MIN(rank) supplies first_rel); eval cost must stay
    independent of corpus size."""
    from tamer_spark.operators.ann_eval import ranking_metrics

    run, qrels = _frames(spark, [(0, 10, 1)], [(0, 10)])
    shape = plan_shape(ranking_metrics(run, qrels, k=3))
    assert not [n for n in shape.nodes if "Window" in n], shape
