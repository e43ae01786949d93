"""Funnel and cohort-retention semantics: ordering matters, monotone
stage counts, at-or-after inclusivity, offset-0 equals cohort size."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.events import cohort_retention, funnel_counts
from tamer_spark.plans import plan_shape


def _ev(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")


T = lambda d, h=0: datetime(2024, 1, d, h)


def test_funnel_order_matters(spark):
    rows = [
        (1, T(1), "view"), (1, T(2), "click"), (1, T(3), "purchase"),  # full path
        (2, T(1), "view"), (2, T(2), "click"),                        # stops at click
        (3, T(3), "purchase"), (3, T(4), "view"), (3, T(5), "click"), # purchase BEFORE view
        (4, T(1), "click"), (4, T(2), "purchase"),                    # never viewed
    ]
    out = {r.stage: r.users for r in funnel_counts(_ev(spark, rows), ["view", "click", "purchase"]).collect()}
    assert out == {"view": 3, "click": 3, "purchase": 1}


def test_funnel_monotone_and_same_timestamp_inclusive(spark):
    rows = [
        (1, T(1), "view"), (1, T(1), "click"), (1, T(1), "purchase"),  # all at once: counts
        (2, T(2), "view"),
    ]
    out = [
        (r.stage_idx, r.users)
        for r in funnel_counts(_ev(spark, rows), ["view", "click", "purchase"])
        .orderBy("stage_idx")
        .collect()
    ]
    assert out == [(1, 2), (2, 1), (3, 1)]
    users = [u for _, u in out]
    assert users == sorted(users, reverse=True)


def test_funnel_empty_stages_rejected(spark):
    with pytest.raises(ValueError):
        funnel_counts(_ev(spark, [(1, T(1), "view")]), [])


def test_cohort_offset_zero_equals_cohort_size(spark):
    rows = [
        # cohort week of Jan 1 2024 (Monday): users 1, 2
        (1, T(1), "view"), (1, T(9), "click"),    # active weeks 0 and 1
        (2, T(2), "view"),                        # active week 0 only
        # cohort week of Jan 8: user 3
        (3, T(9), "view"), (3, T(16), "click"),   # offsets 0 and 1
    ]
    out = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in cohort_retention(_ev(spark, rows)).collect()
    }
    w0, w1 = datetime(2024, 1, 1), datetime(2024, 1, 8)
    assert out == {(w0, 0): 2, (w0, 1): 1, (w1, 0): 1, (w1, 1): 1}


def test_funnel_stage_names_with_quotes_are_escaped(spark):
    # caller-supplied stage names reach a selectExpr stack() string — a
    # quote must neither break the query nor inject SQL
    rows = [(1, T(1), "o'brien-step"), (1, T(2), "done")]
    out = {r.stage: r.users for r in funnel_counts(_ev(spark, rows), ["o'brien-step", "done"]).collect()}
    assert out == {"o'brien-step": 1, "done": 1}


# ---------------------------------------------------------------------------
# transition_counts (r12): Markov journey mining
# ---------------------------------------------------------------------------

def _stream(spark, rows):
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    data = [
        (eid, t0 + timedelta(minutes=m), u, et)
        for eid, (u, m, et) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, event_type string"
    )


def test_transition_counts_hand_checked(spark):
    """u1: view→click→purchase; u2: view→click, view→click again — counts
    and distinct-user attribution match by hand; first events contribute
    no transition."""
    from tamer_spark.operators.events import transition_counts

    df = _stream(
        spark,
        [
            (1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"),
            (2, 0, "view"), (2, 1, "click"), (2, 2, "view"), (2, 3, "click"),
        ],
    )
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.n_users)
        for r in transition_counts(df).collect()
    }
    assert got == {
        ("view", "click"): (3, 2),
        ("click", "purchase"): (1, 1),
        ("click", "view"): (1, 1),
    }


def test_transition_counts_equal_ts_breaks_on_event_id(spark):
    """Two events at the SAME timestamp order by event_id — without the
    tiebreak the lag would be engine/partition dependent."""
    from datetime import datetime

    from tamer_spark.operators.events import transition_counts

    t = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(2, t, 1, "b"), (1, t, 1, "a")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = [(r.from_type, r.to_type) for r in transition_counts(df).collect()]
    assert got == [("a", "b")]


def test_transition_counts_users_are_isolated(spark):
    """The last event of user A and the first of user B are NOT a
    transition — the window partitions by user."""
    from tamer_spark.operators.events import transition_counts

    df = _stream(spark, [(1, 0, "view"), (2, 1, "purchase")])
    assert transition_counts(df).count() == 0


def test_transition_counts_single_user_window_then_partial_agg(spark):
    """Plan shape: exactly one window (partitioned by user), aggregation
    is partial (map-side combine over the tiny pair space)."""
    from tamer_spark.operators.events import transition_counts

    df = _stream(spark, [(1, 0, "view"), (1, 1, "click")])
    out = transition_counts(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("windowspecdefinition(user_id") == 1, plan
    assert plan_shape(out).nodes["Window"] == 1, plan_shape(out)


def test_transition_counts_session_gap_excludes_cross_session_pairs(spark):
    """With session_gap_minutes=30: a 31-min gap is a session boundary (no
    transition); exactly 30 min still counts (the sessionize strict-> gap
    rule); and the unbounded mode keeps both."""
    from tamer_spark.operators.events import transition_counts

    df = _stream(
        spark,
        [
            (1, 0, "view"), (1, 30, "click"),       # exactly the gap: same session
            (1, 61, "purchase"),                    # 31 min after click: boundary
        ],
    )
    bounded = {
        (r.from_type, r.to_type): r.n_transitions
        for r in transition_counts(df, session_gap_minutes=30).collect()
    }
    assert bounded == {("view", "click"): 1}
    unbounded = {
        (r.from_type, r.to_type): r.n_transitions
        for r in transition_counts(df).collect()
    }
    assert unbounded == {("view", "click"): 1, ("click", "purchase"): 1}
