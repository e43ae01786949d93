"""Pure cursor-math unit tests — ports of the reference's unit specs
(DateParsingSpec.scala:37-63, S3Spec.scala:36-49) plus the window/offset
folds (DbSetup.scala:109-118, RESTSetup.scala:171-184,264-290)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from tamer_spark.sources import (
    Offset,
    PeriodicOffset,
    TimeWindow,
    advance_offset,
    advance_periodic_offset,
    advance_window,
    filter_page,
    parse_instant_from_key,
    parse_number_from_key,
)
from tamer_spark.sources.objectstore import next_key

UTC = timezone.utc


# --- date parsing (DateParsingSpec) ---------------------------------------

def test_parse_instant_strips_prefix_and_extension():
    ts = parse_instant_from_key(
        "myFolder/myPrefix2021-01-01 00:01:44.empty", "myFolder/myPrefix", "%Y-%m-%d %H:%M:%S"
    )
    assert ts == datetime(2021, 1, 1, 0, 1, 44, tzinfo=UTC)


def test_parse_instant_multidot_extension_keeps_instant_dots():
    # dots inside the timestamp survive; only the trailing .ext is stripped
    ts = parse_instant_from_key(
        "p/x2021-01-01 00.01.44.txt", "p/x", "%Y-%m-%d %H.%M.%S"
    )
    assert ts == datetime(2021, 1, 1, 0, 1, 44, tzinfo=UTC)


def test_parse_instant_unparseable_returns_none():
    assert parse_instant_from_key("p/xgarbage", "p/x", "%Y-%m-%d %H:%M:%S") is None


def test_parse_number_from_key():
    assert parse_number_from_key("myFolder2/myPrefix7", "myFolder2/myPrefix") == 7
    assert parse_number_from_key("myFolder2/myPrefixX", "myFolder2/myPrefix") is None


# --- next-key selection (S3Spec) ------------------------------------------

KEYS = [f"f/p2021-01-01 00:0{i}:00.empty" for i in range(1, 6)]


def _instant(k):
    return parse_instant_from_key(k, "f/p", "%Y-%m-%d %H:%M:%S")


def _number(k):
    return parse_number_from_key(k, "f2/p")


def test_next_instant_cursor_picks_smallest_greater():
    cur = datetime(2021, 1, 1, 0, 2, 0, tzinfo=UTC)
    assert next_key(KEYS, cur, _instant) == (KEYS[2], datetime(2021, 1, 1, 0, 3, 0, tzinfo=UTC))


def test_next_instant_cursor_none_when_drained():
    cur = datetime(2021, 1, 1, 0, 5, 0, tzinfo=UTC)
    assert next_key(KEYS, cur, _instant) is None


def test_next_numeric_cursor():
    keys = [f"f2/p{n}" for n in (1, 3, 5, 10)]
    assert next_key(keys, 3, _number) == ("f2/p5", 5)
    assert next_key(keys, 10, _number) is None


def test_numeric_cursor_skips_a_key_of_non_decimal_digits():
    """``'²'.isdigit()`` is True but ``int('²')`` raises: a stray key
    ``part²`` parses to None (as the reference's ``toLongOption`` answers),
    so the cursor still moves past it."""
    assert parse_number_from_key("f2/part²", "f2/part") is None
    assert next_key(["f2/p²", "f2/p1", "f2/p3"], 1, _number) == ("f2/p3", 3)


# --- JDBC window advance (DbSetup.scala:109-118) --------------------------

T0 = datetime(2020, 1, 1, tzinfo=UTC)
STEP = timedelta(days=5)


def test_window_advances_to_max_ts_on_data():
    w = TimeWindow(T0, T0 + STEP)
    mx = T0 + timedelta(days=3)
    now = T0 + timedelta(days=30)
    w2 = advance_window(w, mx, STEP, now=now)
    assert w2 == TimeWindow(mx, mx + STEP)


def test_window_slides_on_empty_batch():
    w = TimeWindow(T0, T0 + STEP)
    now = T0 + timedelta(days=30)
    w2 = advance_window(w, None, STEP, now=now)
    assert w2 == TimeWindow(T0 + STEP, T0 + 2 * STEP)


def test_window_capped_by_lag():
    w = TimeWindow(T0, T0 + STEP)
    now = T0 + timedelta(days=10)
    lag = timedelta(days=2)
    w2 = advance_window(w, None, STEP, lag=lag, now=now)
    # slide starts at old `to` (day 5) but the upper bound is capped at
    # now-lag (day 8) instead of day 10
    assert w2 == TimeWindow(T0 + STEP, now - lag)


def test_window_no_progress_when_cap_before_window_end():
    w = TimeWindow(T0, T0 + STEP)
    # cap (now-lag = day 4) is inside the current window → nothing new to
    # pull; state unchanged
    w2 = advance_window(w, None, STEP, lag=timedelta(days=2), now=T0 + timedelta(days=6))
    assert w2 == w


def test_window_no_progress_when_caught_up():
    w = TimeWindow(T0, T0 + STEP)
    # now-lag <= window.to → nothing to pull yet; state unchanged
    w2 = advance_window(w, None, STEP, now=T0 + STEP)
    assert w2 == w


# --- REST offset folds (RESTSetup.scala:171-184) --------------------------

def test_full_page_advances_offset():
    assert advance_offset(Offset(3, 0), 3, fixed_page_element_count=3) == Offset(4, 0)


def test_partial_page_stays_with_next_index():
    assert advance_offset(Offset(3, 0), 2, fixed_page_element_count=3) == Offset(3, 2)


def test_filter_page_drops_seen_prefix():
    assert filter_page(["a", "b", "c"], Offset(3, 2), 3) == ["c"]
    assert filter_page(["a", "b"], Offset(0, 0), None) == ["a", "b"]


def test_unfixed_page_advances_when_nonempty():
    assert advance_offset(Offset(1, 0), 5, None) == Offset(2, 0)
    assert advance_offset(Offset(1, 0), 0, None) == Offset(1, 0)


# --- periodic re-scan (RESTSetup.scala:264-290) ---------------------------

def test_periodic_resets_after_max_period():
    st = PeriodicOffset(7, period_start=1000.0)
    new = advance_periodic_offset(st, page_len=3, now=1000.0 + 4000, max_period_s=3600)
    assert new == PeriodicOffset(0, 5000.0)


def test_periodic_resets_on_empty_after_min_period():
    st = PeriodicOffset(7, period_start=1000.0)
    new = advance_periodic_offset(st, page_len=0, now=1000.0 + 400, min_period_s=300)
    assert new == PeriodicOffset(0, 1400.0)


def test_periodic_advances_within_period():
    st = PeriodicOffset(7, period_start=1000.0)
    new = advance_periodic_offset(st, page_len=3, now=1100.0)
    assert new == PeriodicOffset(8, 1000.0)


def test_periodic_waits_on_empty_within_min_period():
    st = PeriodicOffset(7, period_start=1000.0)
    assert advance_periodic_offset(st, page_len=0, now=1100.0) == st
