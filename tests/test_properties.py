"""Property-based invariants (hypothesis) for the pure engine math.

The reference has no property tests (SURVEY §5); these pin the invariants
its e2e suites only sample: pagination ingests every element exactly once
under ANY growth schedule, windows never regress or overlap, fingerprints
are stable.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from hypothesis import given, settings
from hypothesis import strategies as st

from tamer_spark.sources import (
    Offset,
    TimeWindow,
    advance_offset,
    advance_window,
    filter_page,
)
from tamer_spark.state import fingerprint

UTC = timezone.utc
T0 = datetime(2020, 1, 1, tzinfo=UTC)


# --- offset pagination: exactly-once under any growth schedule -------------

@settings(max_examples=200, deadline=None)
@given(
    growth=st.lists(st.integers(min_value=0, max_value=7), min_size=1, max_size=30),
    page_size=st.integers(min_value=1, max_value=5),
)
def test_pagination_exactly_once_under_growth(growth, page_size):
    """Data grows by arbitrary increments between fetches; the Offset fold +
    filter_page must deliver every element exactly once, in order."""
    data: list[int] = []
    state = Offset(0)
    delivered: list[int] = []
    next_val = 0
    for inc in growth:
        data.extend(range(next_val, next_val + inc))
        next_val += inc
        # drain whatever is currently visible
        for _ in range(100):
            page = data[state.offset * page_size : state.offset * page_size + page_size]
            fresh = filter_page(page, state, page_size)
            delivered.extend(fresh)
            new_state = advance_offset(state, len(page), page_size)
            if new_state == state:
                break
            state = new_state
    assert delivered == data  # every element exactly once, in order


# --- tumbling windows: monotone, gap-free, cap-respecting ------------------

@settings(max_examples=200, deadline=None)
@given(
    steps=st.lists(
        st.tuples(
            st.booleans(),  # batch had data?
            st.integers(min_value=0, max_value=10_000),  # max_ts offset (s) into window
        ),
        min_size=1,
        max_size=30,
    ),
    step_s=st.integers(min_value=60, max_value=86_400),
    lag_s=st.integers(min_value=0, max_value=3_600),
)
def test_window_advance_invariants(steps, step_s, lag_s):
    step = timedelta(seconds=step_s)
    lag = timedelta(seconds=lag_s)
    now = T0 + timedelta(days=365)
    w = TimeWindow(T0, T0 + step)
    for had_data, off in steps:
        mx = None
        if had_data:
            # max_ts must lie inside the pulled window (from, to]
            span = (w.to_ts - w.from_ts).total_seconds()
            mx = w.from_ts + timedelta(seconds=min(off % max(span, 1) + 1, span))
        w2 = advance_window(w, mx, step, lag, now)
        # never regress; never pass the lag cap
        assert w2.from_ts >= w.from_ts
        assert w2.to_ts <= now - lag or w2 == w
        # gap-free: next window starts inside-or-at the end of covered ground
        if w2 != w:
            assert w2.from_ts <= w.to_ts, "gap between consecutive windows"
            assert w2.to_ts > w2.from_ts
        w = w2


# --- fingerprints ----------------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(
    a=st.text(max_size=50),
    b=st.text(max_size=50),
    state=st.dictionaries(st.text(max_size=10), st.integers(), max_size=5),
)
def test_fingerprint_stable_and_injective_ish(a, b, state):
    assert fingerprint(a, state) == fingerprint(a, state)
    if a != b:
        assert fingerprint(a, state) != fingerprint(b, state)


@given(
    st.text(
        alphabet="thinexyzabco ",  # heavy in the gate-merge chars + space
        min_size=0,
        max_size=60,
    )
)
@settings(max_examples=300, deadline=None)
def test_gate_merges_equal_replace_all_on_random_text(text):
    """The chunk_documents 'bpe' gate rests on a provable claim: for the
    fixed non-interacting merge table, greedy rank-priority BPE encoding
    equals independent replace-all over the char-spaced word (what the
    DuckDB oracle computes). Pin it property-style: for random words, the
    encoder's token string must equal the oracle's replace construction."""
    from tamer_spark.functions.bpe import END, GATE_MERGES, _encoder

    enc = _encoder(GATE_MERGES)
    for word in (w for w in text.split(" ") if w):
        spaced = " ".join(word) + " " + END
        oracle = (
            spaced.replace("t h", "th").replace("i n", "in").replace("e " + END, "e" + END)
        )
        assert " ".join(enc(word)) == oracle, (word, enc(word), oracle)


def test_containment_vs_jaccard_asymmetry(spark):
    """Containment catches the quote-inclusion case Jaccard misses: a short
    doc embedded whole in a long one has containment 1.0 but tiny Jaccard;
    and containment == Jaccard on identical docs."""
    from tamer_spark.operators.dedup import containment_measure, ngram_jaccard_pairs, shingle_pair_stats

    def containment(d, threshold):
        """The gate's containment leg: shared pair stats + the measure."""
        stats, exploded = shingle_pair_stats(d)
        try:
            return {(r.doc_a, r.doc_b): r.containment for r in containment_measure(stats, threshold).collect()}
        finally:
            exploded.unpersist()

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, short)], "doc_id long, text string"
    )
    cont = containment(df, 0.9)
    # the short doc is fully inside the long one -> containment 1.0 both for
    # the (1,2) embed pair and the (1,3) identical pair
    assert cont[(1, 2)] == 1.0 and cont[(1, 3)] == 1.0
    jac = {(r.doc_a, r.doc_b): r.jaccard
           for r in ngram_jaccard_pairs(df, threshold=0.9).collect()}
    assert (1, 3) in jac and (1, 2) not in jac  # resemblance misses the embed
    # integer cross-multiplied threshold binds: at 0.9 a half-overlap drops
    half = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d zz qq rr ss tt uu vv ww")],
        "doc_id long, text string",
    )
    assert containment(half, 0.9) == {}
