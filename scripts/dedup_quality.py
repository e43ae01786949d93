#!/usr/bin/env python
"""Publish the near-dup detection quality table: recall/precision of the
APPROXIMATE dedup tier (banded MinHash LSH, SimHash hamming balls, SemDeDup
cluster-bounded pruning) against EXACT ground truth on the same corpus.

The hash gates pin determinism — every operator computes exactly what it
says. This script answers the other question a user has: "how much of the
true near-duplicate mass does each configuration catch, and at what
candidate cost?" — the numbers needed to pick (k, bands) or a SemDeDup
cluster count, published like the ANN recall curve (scripts/ann_recall.py).

Ground truths (exact, same pinned text/vector conventions as the gates):
- text: exact 3-gram Jaccard for every pair sharing a shingle
  (operators/dedup.ngram_jaccard_pairs at floor 0.05), thresholded at
  several levels;
- embeddings: exact quantized cosine over all pairs (numpy at eval scale).

Usage: python scripts/dedup_quality.py [sf_dir] (default /root/testdata/sf0.01)
Prints one JSON line per configuration plus ready-to-paste markdown tables.
tests/test_dedup_quality.py pins floors at sf0.01.
"""

from __future__ import annotations

import json
import sys
from itertools import combinations
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np

import tamer_spark

from tamer_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from tamer_spark.operators.similarity import quantize_sql, semdedup

THRESHOLDS = (0.2, 0.35, 0.5, 0.7)
# (k, bands): band size r = k/bands sets the s-curve steepness
# (P[candidate] = 1-(1-s^r)^bands); the gate config (16, 4) is the cheap
# default, the others trade signature cost for recall at lower similarity
LSH_CONFIGS = ((16, 4), (64, 16), (128, 32), (64, 32))
SIMHASH_RADII = (2, 4, 6)
COSINE_T = 0.3  # the semdedup gate threshold


def text_truth(spark, docs):
    rows = ngram_jaccard_pairs(docs, n=3, threshold=0.05).collect()
    return {(r.doc_a, r.doc_b): r.jaccard for r in rows}


def pair_metrics(cand: set, truth: dict) -> dict:
    out = {"candidates": len(cand)}
    for t in THRESHOLDS:
        tset = {p for p, j in truth.items() if j >= t}
        out[f"recall@{t}"] = round(len(cand & tset) / len(tset), 3) if tset else None
        out[f"truth@{t}"] = len(tset)
    base = {p for p, j in truth.items() if j >= THRESHOLDS[0]}
    out["precision@0.2"] = round(len(cand & base) / len(cand), 3) if cand else None
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = tamer_spark.get_spark("dedup-quality")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    truth = text_truth(spark, docs)
    results = {"sf_dir": sf_dir, "truth_pairs@0.05": len(truth)}

    # --- banded MinHash LSH ---
    lsh_rows = []
    for k, bands in LSH_CONFIGS:
        cand = {
            (r.doc_a, r.doc_b)
            for r in minhash_lsh_pairs(docs, k=k, bands=bands).collect()
        }
        m = pair_metrics(cand, truth)
        lsh_rows.append({"config": f"k={k},bands={bands},r={k // bands}", **m})
        print(json.dumps({"tier": "minhash_lsh", "k": k, "bands": bands, **m}))

    # --- SimHash hamming balls (all-pairs at eval scale) ---
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    ids = sorted(sigs)
    sim_rows = []
    for radius in SIMHASH_RADII:
        cand = {
            (a, b)
            for a, b in combinations(ids, 2)
            if bin(sigs[a] ^ sigs[b]).count("1") <= radius
        }
        m = pair_metrics(cand, truth)
        sim_rows.append({"config": f"hamming<={radius} (32-bit)", **m})
        print(json.dumps({"tier": "simhash", "radius": radius, **m}))

    # --- winnowing overlap pairs (MOSS fingerprints) ---
    from tamer_spark.functions.text import winnow_fingerprints, winnow_overlap_pairs

    win_rows = []
    for wk, ww, ms in ((4, 5, 1), (4, 5, 2), (3, 4, 1)):
        fps = winnow_fingerprints(docs, k=wk, w=ww)
        cand = {
            (r.id_a, r.id_b)
            for r in winnow_overlap_pairs(fps, min_shared=ms, max_posting=None).collect()
        }
        m = pair_metrics(cand, truth)
        win_rows.append({"config": f"k={wk},w={ww},shared>={ms}", **m})
        print(json.dumps({"tier": "winnow", "k": wk, "w": ww, "min_shared": ms, **m}))

    # --- winnow recall vs the EXACT substring-run ground truth (r6) ---
    # substring_run_pairs is exhaustive for verbatim runs >= L tokens, so
    # it IS the ground truth for run-based overlap; the coverage theorem
    # guarantees winnow recall 1.0 at min_shared=1 whenever L >= w+k-1 —
    # this section measures how much of that guarantee survives the
    # min_shared=2 noise filter, per run length
    from tamer_spark.operators.runs import substring_run_pairs

    run_truth = {
        (r.id_a, r.id_b): r.max_run_tokens
        for r in substring_run_pairs(docs, length=8, max_posting=None).collect()
    }
    runw_rows = []
    for wk, ww, ms in ((4, 5, 1), (4, 5, 2)):
        fps = winnow_fingerprints(docs, k=wk, w=ww)
        cand = {
            (r.id_a, r.id_b)
            for r in winnow_overlap_pairs(fps, min_shared=ms, max_posting=None).collect()
        }
        row = {"config": f"k={wk},w={ww},shared>={ms}", "truth_pairs": len(run_truth)}
        for lo in (8, 12, 20):
            tset = {p for p, t in run_truth.items() if t >= lo}
            row[f"recall@run>={lo}"] = (
                round(len(cand & tset) / len(tset), 3) if tset else None
            )
        runw_rows.append(row)
        print(json.dumps({"tier": "winnow_vs_runs", **row}))

    # --- SemDeDup: cluster-bounded prune vs exact cosine ground truth ---
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.selectExpr("vec_id", f"{quantize_sql('embedding')} AS qv").collect()
    M = np.array([r.qv for r in sorted(qv, key=lambda r: r.vec_id)], dtype=np.float64)
    vids = np.array(sorted(r.vec_id for r in qv))
    norms = np.linalg.norm(M, axis=1)
    cos = (M @ M.T) / np.outer(norms, norms)
    iu = np.triu_indices(len(vids), k=1)
    dup_mask = cos[iu] >= COSINE_T
    true_dup_pairs = {
        (int(vids[i]), int(vids[j]))
        for i, j in zip(iu[0][dup_mask], iu[1][dup_mask])
    }
    sem_rows = []
    for n_centroids in (4, 8, 16):
        kept = {
            r.vec_id
            for r in semdedup(
                emb, n_centroids=n_centroids, iters=3, threshold=COSINE_T
            ).collect()
        }
        # a true-dup pair is "resolved" iff at least one member was dropped —
        # cross-cluster pairs are the misses the cluster bound trades away
        resolved = sum(1 for a, b in true_dup_pairs if a not in kept or b not in kept)
        m = {
            "kept": len(kept),
            "true_dup_pairs": len(true_dup_pairs),
            "pair_coverage": round(resolved / len(true_dup_pairs), 3)
            if true_dup_pairs
            else None,
        }
        sem_rows.append({"config": f"n_centroids={n_centroids}", **m})
        print(json.dumps({"tier": "semdedup", "n_centroids": n_centroids, **m}))

    # --- markdown tables ---
    def table(rows, cols):
        print("| " + " | ".join(cols) + " |")
        print("|" + "---|" * len(cols))
        for r in rows:
            print("| " + " | ".join(str(r.get(c, "")) for c in cols) + " |")

    print("\nMinHash LSH candidate quality vs exact 3-gram Jaccard:")
    table(
        lsh_rows,
        ["config", "candidates", "recall@0.2", "recall@0.35", "recall@0.5",
         "recall@0.7", "precision@0.2"],
    )
    print("\nWinnowing (MOSS) overlap-pair quality vs exact 3-gram Jaccard:")
    table(
        win_rows,
        ["config", "candidates", "recall@0.2", "recall@0.35", "recall@0.5",
         "recall@0.7", "precision@0.2"],
    )
    print("\nWinnowing recall vs EXACT substring-run ground truth (runs >= L tokens):")
    table(
        runw_rows,
        ["config", "truth_pairs", "recall@run>=8", "recall@run>=12", "recall@run>=20"],
    )
    print("\nSimHash (32-bit) hamming-ball quality vs exact 3-gram Jaccard:")
    table(
        sim_rows,
        ["config", "candidates", "recall@0.2", "recall@0.35", "recall@0.5",
         "recall@0.7", "precision@0.2"],
    )
    print("\nSemDeDup pair coverage vs exact cosine >= 0.3 (quantized, exact):")
    table(sem_rows, ["config", "kept", "true_dup_pairs", "pair_coverage"])
    print(json.dumps({"summary": results}))


if __name__ == "__main__":
    main()
