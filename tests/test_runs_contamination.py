"""Exact substring-run dedup (operators/runs.py) and fractional
benchmark-contamination scoring (operators/contamination.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.operators.contamination import contamination_score
from tamer_spark.operators.runs import substring_run_pairs, token_window_hashes


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_window_hashes_positions_and_short_doc_exclusion(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "a b"), (3, "x")])
    got = token_window_hashes(df, length=3).collect()
    # doc 1: 3 windows (abc, bcd, cde) at pos 1..3; docs 2, 3 too short -> none
    assert sorted((r.doc_id, r.pos) for r in got) == [(1, 1), (1, 2), (1, 3)]
    # same window text -> same hash across docs
    df2 = _docs(spark, [(1, "a b c"), (2, "a b c")])
    h = [r.h for r in token_window_hashes(df2, length=3).collect()]
    assert h[0] == h[1]


def test_substring_run_exact_length(spark):
    # docs 1 and 2 share the verbatim 6-token run "q w e r t y" embedded at
    # different offsets; doc 3 is unrelated
    df = _docs(
        spark,
        [
            (1, "a b q w e r t y c d"),
            (2, "z z z q w e r t y"),
            (3, "completely different words here indeed"),
        ],
    )
    got = substring_run_pairs(df, length=4, min_windows=1).collect()
    assert len(got) == 1
    r = got[0]
    # shared 6-token run -> 3 distinct shared 4-token windows, max run 6 tokens
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.n_shared_windows == 3
    assert r.max_run_tokens == 6


def test_substring_run_two_disjoint_runs_reports_longest(spark):
    # two disjoint shared runs (4 and 5 tokens); the longest must win and
    # the windows must NOT merge across the gap
    df = _docs(
        spark,
        [
            (1, "p q r s GAP1 v w x y z"),
            (2, "p q r s OTHER v w x y z"),
        ],
    )
    got = substring_run_pairs(df, length=4, min_windows=1).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_shared_windows == 1 + 2  # 1 window from the 4-run, 2 from the 5-run
    assert r.max_run_tokens == 5


def test_substring_run_posting_cap_bounds_degenerate_corpus(spark):
    # all docs identical -> every window hash's posting list holds all docs;
    # the cap bounds the join while uncapped is quadratic
    n, cap = 30, 5
    df = _docs(spark, [(i, "u v w x y z") for i in range(n)])
    capped = substring_run_pairs(df, length=6, max_posting=cap).collect()
    assert 0 < len(capped) <= cap * (cap - 1) // 2
    exact = substring_run_pairs(df, length=6, max_posting=None).collect()
    assert len(exact) == n * (n - 1) // 2


def test_contamination_score_exact_fractions(spark):
    corpus = _docs(
        spark,
        [
            (1, "the quick brown fox jumps"),  # shares 'the quick brown' only
            (2, "totally clean document text"),
            (3, "the quick brown fox ate lunch"),
        ],
    )
    bench = _docs(spark, [(100, "the quick brown fox")])
    got = {
        r.doc_id: (r.n_shingles, r.n_contaminated, r.contamination_ppm)
        for r in contamination_score(corpus, bench, n=3).collect()
    }
    # doc1: shingles {the quick brown, quick brown fox, brown fox jumps};
    # bench 3-grams: {the quick brown, quick brown fox}
    assert got[1] == (3, 2, 1_000_000 * 2 // 3)
    assert got[2] == (2, 0, 0)
    assert got[3][1] == 2
    # every corpus doc is scored, clean ones at 0
    assert set(got) == {1, 2, 3}


def _brute_force_pairs(docs: dict[int, list[str]], L: int):
    """Reference semantics in plain Python: per pair, the distinct shared
    L-token windows and the longest common token substring (>= L)."""
    windows = {
        i: [tuple(w[j : j + L]) for j in range(len(w) - L + 1)]
        for i, w in docs.items()
    }
    out = {}
    ids = sorted(docs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            shared = set(windows[a]) & set(windows[b])
            if not shared:
                continue
            # longest common substring over token lists (classic DP)
            wa, wb = docs[a], docs[b]
            best, prev = 0, [0] * (len(wb) + 1)
            for i in range(1, len(wa) + 1):
                cur = [0] * (len(wb) + 1)
                for j in range(1, len(wb) + 1):
                    if wa[i - 1] == wb[j - 1]:
                        cur[j] = prev[j - 1] + 1
                        best = max(best, cur[j])
                prev = cur
            out[(a, b)] = (len(shared), best)
    return out


def test_substring_runs_match_brute_force_randomized(spark):
    """Randomized geometry pin: n_shared_windows and max_run_tokens agree
    with a plain-Python brute force (distinct shared windows; longest
    common token substring via DP) across corpora drawn from a 3-word
    vocabulary — dense overlaps, repeated windows within docs, every
    diagonal shape. One Spark run over a multi-corpus union keyed by a
    corpus tag keeps the property cheap."""
    import random

    rng = random.Random(42)
    vocab = ["a", "b", "c"]
    L = 4
    rows, expected = [], {}
    for corpus in range(12):
        docs = {
            corpus * 100 + i: [vocab[rng.randrange(3)] for _ in range(rng.randrange(0, 22))]
            for i in range(4)
        }
        for i, w in docs.items():
            rows.append((i, " ".join(w)))
        expected.update(
            ((a, b), v) for (a, b), v in _brute_force_pairs(docs, L).items()
        )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # doc ids are globally unique and corpora use disjoint id ranges, but
    # windows DO collide across corpora (tiny vocab) — restrict pairs to
    # the same corpus to mirror the per-corpus brute force
    got = {
        (r.id_a, r.id_b): (r.n_shared_windows, r.max_run_tokens)
        for r in substring_run_pairs(df, length=L, max_posting=None).collect()
        if r.id_a // 100 == r.id_b // 100
    }
    assert got == expected


def test_winnow_coverage_subsumes_exact_runs_on_fixture(spark):
    """Cross-operator validation on the real fixture corpus: the winnowing
    coverage theorem guarantees a shared fingerprint for any verbatim
    overlap of >= w+k-1 = 8 words, and substring_run_pairs finds pairs
    sharing runs of >= 12 words EXACTLY — so every exact-run pair must
    appear among winnow's min_shared=1 pairs. (The converse is false:
    winnow also fires on shorter/scattered overlaps.)"""
    from tamer_spark.functions.text import winnow_fingerprints, winnow_overlap_pairs
    from tamer_spark.queries import _t
    from tests.conftest import SF_DIR

    docs = _t(spark, SF_DIR, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in substring_run_pairs(docs, length=12, max_posting=None).collect()
    }
    winnow = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(
            winnow_fingerprints(docs, k=4, w=5), min_shared=1, max_posting=None
        ).collect()
    }
    assert exact, "fixture should contain verbatim 12-token runs"
    assert exact <= winnow, f"coverage theorem violated for {exact - winnow}"


def test_contamination_short_doc_whole_text_shingle(spark):
    # shingle-family convention: short docs contribute one whole-text shingle
    corpus = _docs(spark, [(1, "ab cd")])
    bench = _docs(spark, [(9, "ab cd")])
    r = contamination_score(corpus, bench, n=3).collect()[0]
    assert (r.n_shingles, r.n_contaminated, r.contamination_ppm) == (1, 1, 1_000_000)


# ---------------------------------------------------------------------------
# ExactSubstr removal (exact_substring_dedup)
# ---------------------------------------------------------------------------


def _exsub_reference(rows, L):
    """Independent per-window python replay of the removal semantics."""
    import re

    toks = {
        d: re.sub(r"\s+", " ", t.lower()).strip().split(" ") for d, t in rows
    }
    occ: dict[str, list[tuple[int, int]]] = {}
    for d, ws in toks.items():
        for p in range(1, len(ws) - L + 2):
            occ.setdefault(" ".join(ws[p - 1 : p - 1 + L]), []).append((d, p))
    removed: dict[int, set[int]] = {d: set() for d in toks}
    for lst in occ.values():
        if len(lst) >= 2:
            fk = min(lst)
            for d, p in lst:
                if (d, p) != fk:
                    removed[d].update(range(p, p + L))
    return {
        d: (
            " ".join(w for i, w in enumerate(ws, 1) if i not in removed[d]),
            len(ws),
            len(removed[d]),
        )
        for d, ws in toks.items()
    }


def _run_exsub(spark, rows, L):
    from tamer_spark.operators.runs import exact_substring_dedup

    got = exact_substring_dedup(_docs(spark, rows), length=L).collect()
    return {r.doc_id: (r.text_dedup, r.n_tokens, r.n_removed) for r in got}


def test_exsub_identical_docs_keep_first_copy(spark):
    rows = [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z")]
    got = _run_exsub(spark, rows, 4)
    # doc 1 is the canonical copy (min (doc_id, pos) per window); doc 2's
    # windows are all duplicates -> full coverage -> rebuilds to ''
    assert got[1] == ("a b c d e f", 6, 0)
    assert got[2] == ("", 6, 6)
    assert got[3] == ("x y z", 3, 0)  # short doc passes through untouched


def test_exsub_embedded_run_cut_from_later_doc(spark):
    rows = [
        (1, "p q r s t u v w"),
        (2, "HEAD1 HEAD2 p q r s t u TAIL1 TAIL2"),
    ]
    got = _run_exsub(spark, rows, 4)
    assert got == _exsub_reference(rows, 4)
    # the shared 6-token run leaves doc 1 (canonical) intact and is cut
    # whole from doc 2: overlapping windows merged into ONE interval
    assert got[1] == ("p q r s t u v w", 8, 0)
    assert got[2] == ("head1 head2 tail1 tail2", 10, 6)


def test_exsub_within_doc_repeat_removed_once(spark):
    rows = [(7, "m n o p GAP m n o p")]
    got = _run_exsub(spark, rows, 4)
    # second intra-doc occurrence removed, first kept
    assert got == _exsub_reference(rows, 4)
    assert got[7] == ("m n o p gap", 9, 4)


def test_exsub_disjoint_intervals_splice(spark):
    # two separate duplicated runs inside one doc, with survivors between
    rows = [
        (1, "a b c d MID e f g h"),
        (2, "x1 a b c d x2 x3 e f g h x4"),
    ]
    got = _run_exsub(spark, rows, 4)
    assert got == _exsub_reference(rows, 4)
    assert got[2] == ("x1 x2 x3 x4", 12, 8)


def test_exsub_randomized_matches_reference(spark):
    # synthetic corpus: shared boilerplate block planted into many docs,
    # plus per-doc unique filler and some whole-doc copies
    import random

    rng = random.Random(1234)
    block = [f"b{i}" for i in range(6)]
    rows = []
    for d in range(1, 31):
        ws = [f"u{d}x{j}" for j in range(rng.randrange(2, 10))]
        if d % 2 == 0:
            at = rng.randrange(0, len(ws) + 1)
            ws = ws[:at] + block + ws[at:]
        if d % 7 == 0:
            ws = ws + ws  # intra-doc duplication
        rows.append((d, " ".join(ws)))
    rows.append((100, rows[3][1]))  # whole-doc copy of doc 4
    L = 5
    assert _run_exsub(spark, rows, L) == _exsub_reference(rows, L)


def test_exsub_fixture_removal_is_consistent_with_pair_detection(spark):
    """On the real fixture: after removal, re-detecting duplicated windows
    must find ZERO window hash held by two distinct KEPT positions that
    both existed before the splice (single-pass guarantee restricted to
    surviving original positions). Weaker cross-check: every doc flagged
    by substring_run_pairs loses tokens OR is the canonical keeper."""
    from tamer_spark.operators.runs import exact_substring_dedup, substring_run_pairs
    from tamer_spark.queries import _t
    from tests.conftest import SF_DIR

    docs = _t(spark, SF_DIR, "documents")
    L = 12
    cleaned = exact_substring_dedup(docs, length=L)
    out = {r.doc_id: r for r in cleaned.collect()}
    assert len(out) == docs.count()
    touched = {d for d, r in out.items() if r.n_removed > 0}
    assert touched, "fixture contains verbatim 12-token runs; some doc must lose tokens"
    pairs = substring_run_pairs(docs, length=L, max_posting=None).collect()
    for p in pairs:
        # at least one side of every duplicate pair must have been cut
        assert p.id_a in touched or p.id_b in touched
    # removal is conservative: n_removed never exceeds n_tokens
    assert all(0 <= r.n_removed <= r.n_tokens for r in out.values())


def test_exsub_incremental_monotone_ids_equals_batch_on_union(spark):
    """With epoch ids monotone in arrival order, the epoch fold (index
    from e0, incremental removal of e1) must equal the batch operator on
    the union, restricted to e1's docs — min-(doc_id, pos) keeper
    election and history-precedence coincide exactly then."""
    from tamer_spark.operators.runs import (
        exact_substring_dedup,
        exsub_dedup_incremental,
        exsub_window_index,
    )

    block = "s1 s2 s3 s4 s5"
    e0_rows = [(1, f"a b {block} c"), (2, "u v w x y z")]
    e1_rows = [
        (10, f"h1 h2 {block} h3"),       # history dup -> block cut
        (11, "n1 n2 n3 n4 n5 n6"),        # clean
        (12, "q1 q2 q3 q4 QQ q1 q2 q3 q4"),  # batch-local intra-doc dup
        (13, "n1 n2 n3 n4 n5 n6"),        # batch-local whole-doc dup of 11
    ]
    L = 4
    e0, e1 = _docs(spark, e0_rows), _docs(spark, e1_rows)
    idx = exsub_window_index(e0, length=L)
    inc = {
        r.doc_id: (r.text_dedup, r.n_tokens, r.n_removed)
        for r in exsub_dedup_incremental(e1, idx, length=L).collect()
    }
    full = {
        r.doc_id: (r.text_dedup, r.n_tokens, r.n_removed)
        for r in exact_substring_dedup(e0.unionByName(e1), length=L).collect()
        if r.doc_id >= 10
    }
    assert inc == full
    assert inc[10][2] > 0 and inc[13] == ("", 6, 6) and inc[11][2] == 0


def test_exsub_incremental_history_wins_over_smaller_batch_id(spark):
    """Arrival-order canonicality: a batch doc with a SMALLER id than the
    history holder still loses every occurrence of an indexed window —
    frozen history cannot re-open (the dedup_exact_incremental
    contract), which is exactly where the epoch fold deliberately
    diverges from batch-on-union."""
    from tamer_spark.operators.runs import (
        exact_substring_dedup,
        exsub_dedup_incremental,
        exsub_window_index,
    )

    L = 4
    e0 = _docs(spark, [(100, "k1 k2 k3 k4")])
    e1 = _docs(spark, [(1, "k1 k2 k3 k4")])  # smaller id, same content
    idx = exsub_window_index(e0, length=L)
    got = exsub_dedup_incremental(e1, idx, length=L).collect()[0]
    assert (got.text_dedup, got.n_removed) == ("", 4)
    # batch-on-union would instead keep doc 1 (min id) and empty doc 100
    batch = {
        r.doc_id: r.n_removed
        for r in exact_substring_dedup(
            e0.unionByName(e1), length=L
        ).collect()
    }
    assert batch == {1: 0, 100: 4}


def test_exsub_incremental_index_advance_two_epochs(spark):
    """Epoch 2 must dedup against the ADVANCED index (e0 hashes union
    e1's distinct hashes): a window first seen in e1 is canonical there
    and must be cut from e2."""
    from tamer_spark.operators.dedup_incremental import append_keys
    from tamer_spark.operators.runs import (
        exsub_dedup_incremental,
        exsub_window_index,
        token_window_hashes,
    )

    L = 4
    e0 = _docs(spark, [(1, "a1 a2 a3 a4 a5")])
    e1 = _docs(spark, [(10, "b1 b2 b3 b4 b5")])
    e2 = _docs(
        spark,
        [
            (20, f"z1 b1 b2 b3 b4 z2"),   # dup vs e1's windows
            (21, "a2 a3 a4 a5"),           # dup vs e0's windows
            (22, "fresh f2 f3 f4 f5"),     # clean
        ],
    )
    idx0 = exsub_window_index(e0, length=L)
    s1 = exsub_dedup_incremental(e1, idx0, length=L)
    assert s1.collect()[0].n_removed == 0
    idx1 = append_keys(
        idx0.withColumnRenamed("h", "content_hash"),
        token_window_hashes(e1, length=L).select(
            F.col("h").alias("content_hash")
        ).distinct(),
    ).withColumnRenamed("content_hash", "h")
    got = {
        r.doc_id: r.n_removed
        for r in exsub_dedup_incremental(e2, idx1, length=L).collect()
    }
    assert got == {20: 4, 21: 4, 22: 0}


def test_exsub_null_text_contract_matches_duckdb_replay(spark):
    """NULL-text contract, three-engine convention: a NULL text yields
    (NULL, NULL, 0) from BOTH the operator and the gate's oracle SQL
    (the fixture carries no NULL texts, so this pin is the only guard on
    that branch — the r11 concat_ws/|| lesson)."""
    import math

    import duckdb

    from tamer_spark.operators.runs import exact_substring_dedup
    from tamer_spark.queries import _EXSUB_ORACLE

    rows = [
        (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 tail1 tail2"),
        (2, "pre w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 post"),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.text_dedup, r.n_tokens, r.n_removed)
        for r in exact_substring_dedup(df, length=12).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    norm = lambda v: None if (isinstance(v, float) and math.isnan(v)) else v  # noqa: E731
    want = sorted(
        tuple(norm(x) for x in r)
        for r in con.execute(_EXSUB_ORACLE).fetchall()
    )
    assert got == want
    by_id = dict((t[0], t[1:]) for t in got)
    assert by_id[3] == (None, None, 0)
    assert by_id[4] == ("", 1, 0)
    # doc 2 lost exactly the shared 12-token run, doc 1 kept it
    assert by_id[1][2] == 0 and by_id[2] == ("pre post", 14, 12)


def test_exsub_bloom_verify_mode_bit_identical_to_exact(spark):
    """Verify mode (sidecar prefilter + exact join on positives) must be
    BIT-IDENTICAL to exsub_dedup_incremental — bloom FPs fall back into
    the batch-local keeper pool. Tiny m_bits forces real false positives,
    so the fallback path is actually exercised, not just compiled."""
    from tamer_spark.operators.runs import (
        exsub_bloom_index_df,
        exsub_dedup_incremental,
        exsub_dedup_incremental_bloom,
        exsub_window_index,
    )

    block = "s1 s2 s3 s4 s5"
    e0 = _docs(spark, [(1, f"a b {block} c"), (2, "u v w x y z")])
    e1 = _docs(
        spark,
        [
            (10, f"h1 h2 {block} h3"),
            (11, "n1 n2 n3 n4 n5 n6"),
            (12, "q1 q2 q3 q4 QQ q1 q2 q3 q4"),
            (13, "n1 n2 n3 n4 n5 n6"),
        ],
    )
    L = 4
    idx = exsub_window_index(e0, length=L)
    exact = {
        r.doc_id: (r.text_dedup, r.n_tokens, r.n_removed)
        for r in exsub_dedup_incremental(e1, idx, length=L).collect()
    }
    # 64 bits over ~10 hashes -> FPs certain; 1 << 17 probes by joins
    for m_bits in (64, 1 << 16, 1 << 17):
        got = {
            r.doc_id: (r.text_dedup, r.n_tokens, r.n_removed)
            for r in exsub_dedup_incremental_bloom(
                e1, exsub_bloom_index_df(idx, m_bits=m_bits), index=idx, length=L
            ).collect()
        }
        assert got == exact, m_bits


def test_exsub_bloom_probabilistic_never_keeps_a_true_dup(spark):
    """Probabilistic mode: no false negatives — every window the exact
    path removes is removed here too (per-doc n_removed >=); with a
    well-sized sidecar the outputs coincide exactly on this fixture."""
    from tamer_spark.operators.runs import (
        exsub_bloom_index_df,
        exsub_dedup_incremental,
        exsub_dedup_incremental_bloom,
        exsub_window_index,
    )

    L = 4
    e0 = _docs(spark, [(1, "k1 k2 k3 k4 k5"), (2, "m1 m2 m3 m4")])
    e1 = _docs(
        spark,
        [
            (10, "z0 k1 k2 k3 k4 z1"),  # history dup
            (11, "f1 f2 f3 f4 f5"),      # novel
            (12, "g1 g2 g3 g4 g1 g2 g3 g4"),  # local dup
        ],
    )
    idx = exsub_window_index(e0, length=L)
    exact = {
        r.doc_id: r.n_removed
        for r in exsub_dedup_incremental(e1, idx, length=L).collect()
    }
    sized = {
        r.doc_id: r.n_removed
        for r in exsub_dedup_incremental_bloom(
            e1, exsub_bloom_index_df(idx, m_bits=1 << 16), length=L
        ).collect()
    }
    assert sized == exact
    tiny = {
        r.doc_id: r.n_removed
        for r in exsub_dedup_incremental_bloom(
            e1, exsub_bloom_index_df(idx, m_bits=64), length=L
        ).collect()
    }
    assert all(tiny[d] >= exact[d] for d in exact)  # FPs only over-remove


def test_exsub_bloom_sidecar_merge_advance_equals_rebuild(spark):
    """The sidecar advances by bloom_merge_df with the epoch's distinct
    batch hashes (from the with_cache stage) — after the merge, epoch 2's
    verify-mode removal equals the exact path against the advanced index
    (the fold==rebuild discipline carried to the sidecar)."""
    from tamer_spark.operators.bloom import bloom_merge_df
    from tamer_spark.operators.runs import (
        exsub_bloom_index_df,
        exsub_dedup_incremental,
        exsub_dedup_incremental_bloom,
        exsub_dedup_incremental_with_cache,
        exsub_window_index,
    )

    L = 4
    m = 1 << 16
    e0 = _docs(spark, [(1, "a1 a2 a3 a4 a5")])
    e1 = _docs(spark, [(10, "b1 b2 b3 b4 b5")])
    e2 = _docs(spark, [(20, "z1 b1 b2 b3 b4 z2"), (21, "a2 a3 a4 a5"), (22, "c1 c2 c3 c4")])
    idx0 = exsub_window_index(e0, length=L)
    w0 = exsub_bloom_index_df(idx0, m_bits=m)
    _, wh1 = exsub_dedup_incremental_with_cache(e1, idx0, length=L)
    bh1 = wh1.select("h").distinct()
    idx1 = idx0.unionByName(bh1).distinct().localCheckpoint()
    w1_merged = bloom_merge_df(w0, exsub_bloom_index_df(bh1, m_bits=m))
    w1_rebuilt = exsub_bloom_index_df(idx1, m_bits=m)
    assert sorted(map(tuple, w1_merged.collect())) == sorted(
        map(tuple, w1_rebuilt.collect())
    )
    got = {
        r.doc_id: r.n_removed
        for r in exsub_dedup_incremental_bloom(
            e2, w1_merged, index=idx1, length=L
        ).collect()
    }
    exact = {
        r.doc_id: r.n_removed
        for r in exsub_dedup_incremental(e2, idx1, length=L).collect()
    }
    assert got == exact == {20: 4, 21: 4, 22: 0}

