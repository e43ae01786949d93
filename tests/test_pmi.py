"""PMI collocation mining: hand-checked proxy values, monotone-map rank
equality with float PMI, min-count floor, TakeOrdered plan shape."""

from __future__ import annotations

import math

from tamer_spark.plans import plan_shape
from tamer_spark.queries import pmi_top_bigrams
from tests.conftest import SF_DIR


def test_pmi_proxy_values_and_rank_match_float_pmi(spark):
    """Driver-side recompute: every emitted pmi_ppm equals
    c(xy)·N·10⁶ // (c(x)·c(y)), and the emitted rank order equals the
    order under FLOAT log-PMI (monotone map ⇒ identical ranks, modulo
    the proxy's integer ties, which the bigram tie-break resolves the
    same way on both)."""
    rows = pmi_top_bigrams(spark, SF_DIR, min_count=5, k=20).collect()
    assert rows

    from tamer_spark.queries import _t
    import re

    docs = _t(spark, SF_DIR, "documents").select("text").collect()
    uni: dict[str, int] = {}
    pair: dict[tuple[str, str], int] = {}
    n = 0
    for r in docs:
        wlist = [w for w in re.sub(r"\s+", " ", (r.text or "").lower()).strip().split(" ") if w]
        for w in wlist:
            uni[w] = uni.get(w, 0) + 1
            n += 1
        for a, b in zip(wlist, wlist[1:]):
            pair[(a, b)] = pair.get((a, b), 0) + 1

    for r in rows:
        w1, w2 = r.bigram.split(" ")
        cxy = pair[(w1, w2)]
        assert r.cxy == cxy
        assert r.pmi_ppm == cxy * n * 1_000_000 // (uni[w1] * uni[w2])

    # monotone-map rank check against float PMI over the same candidates
    cands = [(a, b) for (a, b), c in pair.items() if c >= 5]
    float_pmi = {
        (a, b): math.log(pair[(a, b)] * n / (uni[a] * uni[b])) for a, b in cands
    }
    got_order = [r.bigram for r in sorted(rows, key=lambda r: r.rank)]
    want_order = [
        f"{a} {b}"
        for a, b in sorted(
            cands, key=lambda p: (-float_pmi[p], f"{p[0]} {p[1]}")
        )[:20]
    ]
    # identical except where the integer proxy ties differently than float —
    # verify set equality and that any order swap is a proxy tie
    assert set(got_order) == set(want_order)
    proxy = {r.bigram: r.pmi_ppm for r in rows}
    for g, w in zip(got_order, want_order):
        assert g == w or proxy[g] == proxy[w], (g, w)


def test_pmi_min_count_floor_binds(spark):
    lo = pmi_top_bigrams(spark, SF_DIR, min_count=1, k=2000).count()
    hi = pmi_top_bigrams(spark, SF_DIR, min_count=50, k=2000).count()
    assert hi < lo


def test_pmi_topk_is_takeordered_with_broadcast_unigrams(spark):
    shape = plan_shape(pmi_top_bigrams(spark, SF_DIR, min_count=5, k=20))
    assert shape.nodes["TakeOrderedAndProject"], shape
    assert shape.nodes["BroadcastExchange"] >= 2, shape  # two unigram joins + N


# ------------------------------------------------------------------ skip-gram


def test_skipgram_counts_match_python_replay(spark):
    """±2-offset pair counts equal a direct python enumeration on a tiny
    crafted corpus — both directions, doc boundaries respected."""
    from tamer_spark.queries import skipgram_top_pairs

    import tamer_spark.queries as Q

    docs = {1: "a b c a", 2: "b c"}
    rows = [(i, t, "en", "s", len(t)) for i, t in docs.items()]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    orig = Q._t
    Q._t = lambda spark, sf, name: df  # noqa: E731
    try:
        got = {(r.pair): (r.cnt, r.rank) for r in skipgram_top_pairs(spark, "x", k=100).collect()}
    finally:
        Q._t = orig
    from collections import Counter

    want = Counter()
    for t in docs.values():
        ws = t.split()
        for i, w1 in enumerate(ws):
            for d in (1, 2):
                if i + d < len(ws):
                    want[f"{w1} {ws[i+d]}"] += 1
                    want[f"{ws[i+d]} {w1}"] += 1
    assert {p: c for p, (c, _) in got.items()} == dict(want)
    # rank is the (cnt desc, w1, w2) total order
    ranked = sorted(got.items(), key=lambda kv: kv[1][1])
    assert [c for _, (c, _) in ranked] == sorted((c for c, _ in got.values()), reverse=True)


def test_skipgram_single_window_exchange(spark):
    """All offsets ride ONE (doc_id, pos) exchange — stacked lead()
    columns, not one window operator per offset."""
    from tamer_spark.queries import skipgram_top_pairs
    from tests.conftest import SF_DIR

    shape = plan_shape(skipgram_top_pairs(spark, SF_DIR))
    assert len([p for p in shape.hash_keys if "doc_id" in p]) == 1, shape
    assert shape.nodes["TakeOrderedAndProject"], shape
