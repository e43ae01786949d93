"""DSIR importance-resampling selection (operators/dsir.py).

Three layers: a pure-Python differential oracle (featurize → ratios →
weights → priority sample reimplemented with hashlib/ints, no Spark), the
distributional contracts the operator exists for, and the 100 TB plan pins
(broadcast ratio join, TakeOrderedAndProject selection, bounded shuffles).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.dsir import (
    dsir_importance_weights,
    dsir_priority_sample,
    dsir_ratio_table,
    dsir_select,
    hashed_ngram_buckets,
)

BUCKETS, SCALE, UMOD = 64, 1_000_000, 4_096


# --- pure-Python reference (mirrors the DuckDB oracle, engine #3) ----------

def _h64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _norm(t: str) -> str:
    # re.ASCII is load-bearing: Python's Unicode \s also matches NBSP and
    # the   series, which neither Spark's Java regex (no
    # UNICODE_CHARACTER_CLASS) nor DuckDB's RE2 treats as whitespace — the
    # reference must tokenize exactly like the engines (doc 10 pins this)
    return re.sub(r"\s+", " ", t.lower(), flags=re.ASCII).strip()


def _doc_buckets(text: str, buckets: int) -> Counter:
    ws = _norm(text).split(" ")
    ngs = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
    return Counter(_h64(ng) % buckets for ng in ngs)


def _py_dsir(raw: dict[int, str], tgt: dict[int, str], k: int):
    tc: Counter = Counter()
    rc: Counter = Counter()
    docb = {i: _doc_buckets(t, BUCKETS) for i, t in raw.items()}
    for c in docb.values():
        rc.update(c)
    for t in tgt.values():
        tc.update(_doc_buckets(t, BUCKETS))
    nt, nr = sum(tc.values()), sum(rc.values())
    ratio = {
        b: (SCALE * (tc.get(b, 0) + 1) * (nr + BUCKETS))
        // ((rc.get(b, 0) + 1) * (nt + BUCKETS))
        for b in set(tc) | set(rc)
    }
    wts = {
        i: sum(c * (ratio[b] - SCALE) for b, c in cb.items())
        for i, cb in docb.items()
    }
    pri = {
        i: (max(w, 1) * UMOD) // ((_h64(f"dsir-{i}") % UMOD) + 1)
        for i, w in wts.items()
    }
    order = sorted(pri, key=lambda i: (-pri[i], i))[:k]
    return wts, {i: r + 1 for r, i in enumerate(order)}


def _mk_docs(spark, docs: dict[int, str]):
    return spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )


RAW = {
    1: "the quick brown fox jumps over the lazy dog",
    2: "pack my box with five dozen liquor jugs",
    3: "the quick brown fox likes the quick brown cat",
    4: "lorem ipsum dolor sit amet consectetur",
    5: "sphinx of black quartz judge my vow",
    6: "the lazy dog sleeps while the quick fox runs",
    7: "",
    8: "single",
    9: "Mixed   CASE    and\twhitespace   text here",
    # NBSP is NOT whitespace to Java regex / RE2: 'nb\xa0sp' must stay ONE
    # token in all three engines (a Unicode-aware reference would split it)
    10: "nb\xa0sp joined token",
}
TGT = {
    100: "the quick brown fox and the quick brown cat",
    101: "a quick fox is a brown fox",
}


def test_differential_vs_pure_python(spark):
    wts, ranks = _py_dsir(RAW, TGT, k=5)
    out = dsir_select(
        _mk_docs(spark, RAW), _mk_docs(spark, TGT),
        k=5, buckets=BUCKETS, scale=SCALE, u_mod=UMOD,
    ).collect()
    assert len(out) == 5
    for r in out:
        assert int(r.weight) == wts[r.doc_id], r
        assert r.sel_rank == ranks[r.doc_id], (r, ranks)


def test_weights_favor_target_like_docs(spark):
    """The operator's raison d'être: docs sharing the target's n-grams must
    outweigh disjoint-vocabulary docs of comparable length (per-token
    normalization is the caller's choice; doc 3 and doc 4 are near-equal
    token counts)."""
    raw_counts = hashed_ngram_buckets(_mk_docs(spark, RAW), buckets=BUCKETS)
    tgt_counts = hashed_ngram_buckets(_mk_docs(spark, TGT), buckets=BUCKETS)
    ratios = dsir_ratio_table(tgt_counts, raw_counts, BUCKETS, SCALE)
    w = {
        r.doc_id: int(r.weight)
        for r in dsir_importance_weights(raw_counts, ratios).collect()
    }
    assert w[3] > w[4], w  # "the quick brown fox/cat" ≫ lorem ipsum
    assert w[1] > w[4], w


def test_empty_and_degenerate_docs_survive(spark):
    """Empty text and 1-word docs featurize (the '' unigram / no bigrams)
    rather than crash or vanish — every raw doc gets a weight."""
    raw_counts = hashed_ngram_buckets(_mk_docs(spark, RAW), buckets=BUCKETS)
    tgt_counts = hashed_ngram_buckets(_mk_docs(spark, TGT), buckets=BUCKETS)
    ratios = dsir_ratio_table(tgt_counts, raw_counts, BUCKETS, SCALE)
    got = dsir_importance_weights(raw_counts, ratios)
    assert got.count() == len(RAW)


def test_k_larger_than_corpus_returns_all(spark):
    out = dsir_select(
        _mk_docs(spark, RAW), _mk_docs(spark, TGT),
        k=500, buckets=BUCKETS, u_mod=UMOD,
    )
    assert out.count() == len(RAW)


def test_seed_changes_sample_not_weights(spark):
    """DLT replicates: a different seed redraws the uniforms — at k <
    corpus the SAMPLE must actually change (this is what pins that the
    seed reaches the hash; a hard-coded salt would pass an equality-only
    test) — but never the weights. Seeds chosen so the equal-weight draw
    provably differs (verified against the same hash arithmetic)."""
    weights = spark.createDataFrame(
        [(i, 100) for i in range(40)], "doc_id long, weight long"
    )
    picks = {}
    for seed in ("a", "b"):
        got = {
            r.doc_id
            for r in dsir_priority_sample(weights, k=10, u_mod=UMOD, seed=seed).collect()
        }
        # replicate the exact priority arithmetic (q ties broken by id —
        # sorting on raw u would order tied-q docs differently)
        expect = set(
            sorted(
                range(40),
                key=lambda i: (
                    -((100 * UMOD) // ((_h64(f"{seed}-{i}") % UMOD) + 1)),
                    i,
                ),
            )[:10]
        )
        assert got == expect, (seed, got, expect)
        picks[seed] = got
    assert picks["a"] != picks["b"]  # the draw moved with the seed

    a = dsir_select(_mk_docs(spark, RAW), _mk_docs(spark, TGT), k=len(RAW),
                    buckets=BUCKETS, u_mod=UMOD, seed="a")
    b = dsir_select(_mk_docs(spark, RAW), _mk_docs(spark, TGT), k=len(RAW),
                    buckets=BUCKETS, u_mod=UMOD, seed="b")
    wa = {r.doc_id: int(r.weight) for r in a.collect()}
    wb = {r.doc_id: int(r.weight) for r in b.collect()}
    assert wa == wb  # k=corpus ⇒ both select everything; weights identical


def test_selection_proportional_to_weight():
    """Statistical sanity of the DLT scheme itself (pure-Python, no Spark):
    a doc with 10× the weight of its peers must appear in far more
    seed-replicates' samples. Deterministic given the fixed seed list."""
    heavy, light = 10_000_000, 1_000_000
    wts = {0: heavy, **{i: light for i in range(1, 21)}}
    hits = Counter()
    for s in range(200):
        pri = {
            i: (w * UMOD) // ((_h64(f"s{s}-{i}") % UMOD) + 1)
            for i, w in wts.items()
        }
        for i in sorted(pri, key=lambda i: (-pri[i], i))[:5]:
            hits[i] += 1
    mean_light = sum(hits[i] for i in range(1, 21)) / 20
    assert hits[0] > 3 * mean_light, (hits[0], mean_light)


def test_plan_broadcast_ratio_and_takeordered(spark):
    """100 TB pins: the ratio table reaches the weight join as a broadcast
    (never a shuffled corpus⋈tiny join), selection plans as
    TakeOrderedAndProject (never a global sort), and no Python UDF appears
    anywhere in the plan."""
    from tamer_spark.plans import plan_shape
    from tamer_spark.queries import dsir_select_docs_q
    from tests.conftest import SF_DIR

    shape = plan_shape(dsir_select_docs_q(spark, SF_DIR))
    assert shape.nodes["BroadcastHashJoin"], shape
    # the corpus-wide ordering is the TakeOrdered (per-partition top-k +
    # driver merge of k·partitions rows); the only Sort the plan may carry
    # is the rank window's, which runs AFTER the limit on ≤ k rows
    assert shape.nodes["TakeOrderedAndProject"], shape
    assert not shape.count("BatchEvalPython", "ArrowEvalPython"), shape


def test_registry_variant_matches_standalone(spark):
    """The mix_pack_sources 'dsir' variant must be the standalone shape
    verbatim (rank and weight rendering included)."""
    from tamer_spark.queries import REGISTRY, dsir_select_docs_q
    from tests.conftest import SF_DIR

    union_rows = {
        (r.v1, r.v2, r.payload)
        for r in REGISTRY["mix_pack_sources"].spark(spark, SF_DIR)
        .filter(F.col("variant") == "dsir").collect()
    }
    standalone = {
        (r.doc_id, r.sel_rank, str(r.weight))
        for r in dsir_select_docs_q(spark, SF_DIR).collect()
    }
    assert union_rows == standalone


def test_dsir_differential_fuzz(spark):
    # differential fuzz over random small-vocabulary corpora (collisions in
    # the 64-bucket space guaranteed): the full Spark pipeline — weights,
    # selected set, AND ranks — must equal the pure-Python reference for
    # every random target/raw split. Bounded examples — each runs Spark
    # jobs (the incremental-dedup fuzz convention).
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        texts=st.lists(
            st.lists(st.integers(min_value=0, max_value=15), min_size=0, max_size=12),
            min_size=3,
            max_size=25,
        ),
        n_tgt=st.integers(min_value=1, max_value=4),
        k=st.integers(min_value=1, max_value=8),
    )
    def check(texts, n_tgt, k):
        docs = {i: " ".join(f"w{n}" for n in ws) for i, ws in enumerate(texts)}
        tgt = {i: t for i, t in docs.items() if i < n_tgt}
        raw = {i: t for i, t in docs.items() if i >= n_tgt}
        if not raw:
            return
        wts, ranks = _py_dsir(raw, tgt, k=k)
        out = dsir_select(
            _mk_docs(spark, raw), _mk_docs(spark, tgt),
            k=k, buckets=BUCKETS, scale=SCALE, u_mod=UMOD,
        ).collect()
        assert len(out) == min(k, len(raw))
        assert {r.doc_id for r in out} == set(ranks)
        for r in out:
            assert int(r.weight) == wts[r.doc_id], (r, wts)
            assert r.sel_rank == ranks[r.doc_id], (r, ranks)

    check()


def test_frozen_ratio_table_scores_unseen_epoch(spark):
    """Incremental posture: a ratio table trained on epoch 0 scores a later
    epoch whose vocabulary it never saw — unseen buckets contribute exactly
    0 (left join), and a fully-disjoint doc still surfaces with weight 0
    rather than vanishing."""
    e0 = _mk_docs(spark, RAW)
    tgt = _mk_docs(spark, TGT)
    ratios = dsir_ratio_table(
        hashed_ngram_buckets(tgt, buckets=BUCKETS),
        hashed_ngram_buckets(e0, buckets=BUCKETS),
        BUCKETS, SCALE,
    )
    later = _mk_docs(spark, {50: "völlig neues vokabular überall", 51: "the quick brown fox"})
    w = {
        r.doc_id: int(r.weight)
        for r in dsir_importance_weights(
            hashed_ngram_buckets(later, buckets=BUCKETS), ratios, SCALE
        ).collect()
    }
    assert set(w) == {50, 51}
    assert w[51] > 0  # target-affine doc scores positive against the frozen table


def test_planted_target_recovery_beats_random(spark):
    """The selection-quality floor (scripts/dsir_quality.py protocol at
    sf0.001, buckets=256): plants — target docs with every 5th word dropped
    — must be recovered well above the random-sampling rate k/|pool|."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "dsir_quality",
        Path(__file__).resolve().parent.parent / "scripts" / "dsir_quality.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    pool, target, plants = mod.planted_pool(spark, "/root/testdata/sf0.001")
    plant_ids = {r.doc_id for r in plants.select("doc_id").collect()}
    k = len(plant_ids) * 3
    out = dsir_select(pool, target, k=k, buckets=256)
    got = {r.doc_id for r in out.collect()}
    recall = len(got & plant_ids) / len(plant_ids)
    random_rate = k / pool.count()
    assert recall >= 2 * random_rate, (recall, random_rate)


def test_invalid_params_raise(spark):
    d = _mk_docs(spark, RAW)
    with pytest.raises(ValueError, match="buckets"):
        hashed_ngram_buckets(d, buckets=0)
    with pytest.raises(ValueError, match="scale"):
        dsir_ratio_table(
            hashed_ngram_buckets(d, buckets=8),
            hashed_ngram_buckets(d, buckets=8),
            buckets=8, scale=0,
        )
    with pytest.raises(ValueError, match="u_mod"):
        dsir_priority_sample(
            spark.createDataFrame([(1, 5)], "doc_id long, weight long"), k=1, u_mod=0
        )


def test_empty_target_still_selects(spark):
    """A degenerate (empty) target corpus must not error: every bucket's
    ratio falls back to the smoothed global prior and selection degrades
    toward the uniform draw — still k docs out."""
    out = dsir_select(
        _mk_docs(spark, RAW), _mk_docs(spark, {}), k=4,
        buckets=BUCKETS, u_mod=UMOD,
    )
    assert out.count() == 4


def test_k_zero_returns_empty(spark):
    out = dsir_select(
        _mk_docs(spark, RAW), _mk_docs(spark, TGT), k=0,
        buckets=BUCKETS, u_mod=UMOD,
    )
    assert out.count() == 0
