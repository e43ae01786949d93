"""Detection-quality floors for the approximate dedup tier (the dedup
analog of tests/test_ann_recall.py): the hash gates pin determinism, these
pin USEFULNESS — the fraction of exact ground-truth near-duplicate mass
each approximation actually catches at sf0.01. Floors carry a margin under
the measured values (scripts/dedup_quality.py publishes the full table in
docs/SCALING.md); a floor break means the detection quality regressed, not
just a timing.

Fixture note: the synthetic corpus's true near-dup pairs are all
near-identical documents (every truth pair at Jaccard >= 0.05 is also
>= 0.7), so threshold curves don't separate here — the floors pin the
catch-them-all regime, and the cross-config COMPARISONS (candidate cost,
precision, the SemDeDup cluster-count trade) are the published signal.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pytest

from tamer_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from tamer_spark.operators.similarity import quantize_sql, semdedup
from tests.conftest import SF_DIR

COSINE_T = 0.3


@pytest.fixture(scope="module")
def truth(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    rows = ngram_jaccard_pairs(docs, n=3, threshold=0.05).collect()
    return {(r.doc_a, r.doc_b) for r in rows if r.jaccard >= 0.5}


def test_minhash_lsh_gate_config_catches_true_dups(spark, truth):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    cand = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, k=16, bands=4).collect()
    }
    assert truth, "fixture lost its duplicate structure"
    recall = len(cand & truth) / len(truth)
    assert recall >= 0.95, (recall, len(truth))  # measured 1.0
    precision = len(cand & truth) / len(cand)
    assert precision >= 0.8, (precision, len(cand))  # measured 1.0


def test_simhash_radius_tradeoff(spark, truth):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    ids = sorted(sigs)

    def ball(radius):
        return {
            (a, b)
            for a, b in combinations(ids, 2)
            if bin(sigs[a] ^ sigs[b]).count("1") <= radius
        }

    tight, loose = ball(2), ball(6)
    r_tight = len(tight & truth) / len(truth)
    r_loose = len(loose & truth) / len(truth)
    assert r_loose >= 0.95, r_loose  # measured 1.0
    assert r_tight >= 0.6, r_tight  # measured 0.76
    assert r_loose >= r_tight  # widening the ball never loses pairs
    assert len(loose) > len(tight)  # ... and costs more candidates


def test_semdedup_pair_coverage_floor_and_cluster_trade(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = sorted(
        emb.selectExpr("vec_id", f"{quantize_sql('embedding')} AS qv").collect(),
        key=lambda r: r.vec_id,
    )
    M = np.array([r.qv for r in qv], dtype=np.float64)
    vids = np.array([r.vec_id for r in qv])
    norms = np.linalg.norm(M, axis=1)
    cos = (M @ M.T) / np.outer(norms, norms)
    iu = np.triu_indices(len(vids), k=1)
    mask = cos[iu] >= COSINE_T
    true_pairs = {
        (int(vids[i]), int(vids[j])) for i, j in zip(iu[0][mask], iu[1][mask])
    }
    assert true_pairs

    def coverage(n_centroids):
        kept = {
            r.vec_id
            for r in semdedup(
                emb, n_centroids=n_centroids, iters=3, threshold=COSINE_T
            ).collect()
        }
        return (
            sum(1 for a, b in true_pairs if a not in kept or b not in kept)
            / len(true_pairs)
        )

    c8 = coverage(8)
    assert c8 >= 0.7, c8  # measured 0.784
    # the documented trade: more clusters = cheaper pair term, lower coverage
    # (cross-cluster dup pairs are the misses the cluster bound buys speed with)
    assert coverage(4) >= c8 - 0.02, "coarser clustering should cover more pairs"


def test_winnow_overlap_floor_and_threshold_trade(spark, truth):
    """Winnowing (k=4, w=5): shared>=1 catches every true pair (the
    coverage theorem is structural at this corpus's overlap runs);
    shared>=2 trades at most a small recall dip for exact precision.
    Floors carry margin under the measured 1.00 / 0.96."""
    from tamer_spark.functions.text import winnow_fingerprints, winnow_overlap_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    fps = winnow_fingerprints(docs, k=4, w=5)
    loose = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(fps, min_shared=1, max_posting=None).collect()
    }
    tight = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(fps, min_shared=2, max_posting=None).collect()
    }
    assert truth, "ground truth empty"
    assert len(loose & truth) / len(truth) >= 0.95
    assert len(tight & truth) / len(truth) >= 0.85
    assert tight <= loose
    # precision at the tight threshold: candidates are overwhelmingly true
    assert len(tight & truth) / max(len(tight), 1) >= 0.9


def test_winnow_recall_vs_exact_run_ground_truth(spark):
    """r6 grounding: substring_run_pairs is EXHAUSTIVE for verbatim runs,
    so it is the ground truth for run-based overlap. The coverage theorem
    (k=4, w=5 detects every >= 8-word overlap) must measure exactly 1.0
    at min_shared=1 — that inclusion is a theorem consequence at ANY
    scale. The second inclusion (min_shared=2 keeps every >= 12-token-run
    pair) is a fixture-SCALE observation, pinned here at the suite SF:
    the sf0.1 re-run measured 0.996 (one 12-run pair yields a single
    selected fingerprint) — see docs/SCALING.md for the honest knob rule
    (min_shared=2 guarantees nothing below ~w+2(k-1)+1 tokens)."""
    from tamer_spark.functions.text import winnow_fingerprints, winnow_overlap_pairs
    from tamer_spark.operators.runs import substring_run_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    runs = {
        (r.id_a, r.id_b): r.max_run_tokens
        for r in substring_run_pairs(docs, length=8, max_posting=None).collect()
    }
    assert runs, "fixture should contain verbatim 8-token runs"
    fps = winnow_fingerprints(docs, k=4, w=5)
    loose = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(fps, min_shared=1, max_posting=None).collect()
    }
    tight = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(fps, min_shared=2, max_posting=None).collect()
    }
    assert set(runs) <= loose  # the coverage theorem, measured: recall 1.0
    long_runs = {p for p, t in runs.items() if t >= 12}
    assert long_runs <= tight  # >= 12-token runs survive the noise filter
