"""Event-sequence analytics: ordered funnels and cohort retention.

The product-analytics pair every event store ships (and the reference's
JDBC/REST event ingestion feeds): "how many users progressed through
view → click → purchase IN ORDER", and "of the users whose first event
fell in week W, how many were active k weeks later".

Both are exact-integer results (counts and epoch-week arithmetic — no
floats anywhere), so the gates hash-match any engine.

Scale shape (r15 single-pass forms):
- funnel: every stage time is a per-user constant, so all S of them are
  stacked whole-partition windows on ONE user_id exchange; the per-user
  collapse reuses that exchange and the count agg is a single row. Stage
  semantics: the stage-i event must occur AT OR AFTER the user's
  stage-(i-1) time (>=, so same-timestamp progress counts — document the
  convention, don't leave it to ties).
- cohort retention: the first-event week attaches as a user-partitioned
  window min (no join-back), then distinct (user, week) activity rides
  the same exchange — the shuffled payload is the event projection once;
  offsets are integer calendar-week differences.

No analog in the reference engine; training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_counts(events: DataFrame, stages: list[str]) -> DataFrame:
    """Users reaching each stage of an ORDERED funnel: stage i counts users
    with a ``stages[i]`` event at-or-after their stage-(i-1) time (first
    qualifying occurrence). Returns (stage_idx, stage, users), one row per
    stage, monotone non-increasing.

    Single-pass shape (r15): every stage time is a per-user constant, so
    all S of them ride ONE exchange on ``user_id`` as stacked
    whole-partition windows — ``t0 = min(CASE stage-0 ts) OVER (PARTITION
    BY user)``, then ``t_i = min(CASE stage-i AND ts >= t_{i-1}) OVER
    (same partition)`` — followed by a groupBy(user) that REUSES that
    exchange (guide §2.4) and one single-row count agg. The previous form
    chained a join + conditional-min agg per stage, and because each
    per_user level referenced the previous twice, the plan DOUBLED per
    stage (the pre-r14 pagerank defect): 7 parquet scans of events / 8
    exchanges / 6 broadcasts at S=3 vs 1 scan / 2 exchanges / 0 joins now;
    interleaved A/B at sf0.1: 0.396 s -> 0.294 median. NULL semantics are
    identical: a user with no stage-(i-1) time has ``ts >= NULL`` -> NULL
    -> the CASE yields NULL -> min skips it, exactly like the old join's
    condition."""
    if not stages:
        raise ValueError("stages must be non-empty")

    w = Window.partitionBy("user_id")
    d = events.select("user_id", "event_type", "ts").withColumn(
        "t0", F.min(F.when(F.col("event_type") == stages[0], F.col("ts"))).over(w)
    )
    for i, s in enumerate(stages[1:], 1):
        d = d.withColumn(
            f"t{i}",
            F.min(
                F.when(
                    (F.col("event_type") == s) & (F.col("ts") >= F.col(f"t{i-1}")),
                    F.col("ts"),
                )
            ).over(w),
        )
    # t_i is constant within the user partition, so max() just collapses
    # the event-grain rows; the groupBy shares the windows' exchange
    per_user = d.groupBy("user_id").agg(
        *[F.max(f"t{i}").alias(f"t{i}") for i in range(len(stages))]
    )
    counts = per_user.agg(
        *[F.count(f"t{i}").alias(f"c{i}") for i in range(len(stages))]
    )
    # stage names are caller-supplied: carry them as F.lit() expression
    # literals (never interpolated into SQL text), so no quoting/escaping
    # scheme exists to get wrong — a stage named "o'brien" or one ending in
    # a backslash is just a value. counts is a single row; the explode is
    # |stages| rows of driver-free plan work.
    return counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).cast("long").alias("stage_idx"),
                        F.lit(s).alias("stage"),
                        F.col(f"c{i}").cast("long").alias("users"),
                    )
                    for i, s in enumerate(stages)
                ]
            )
        ).alias("_s")
    ).select("_s.stage_idx", "_s.stage", "_s.users")


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: cohort = ISO week of the user's first
    event; a user counts toward (cohort, offset) iff they had any event in
    cohort-week + offset. Returns (cohort_week timestamp, week_offset,
    n_users); offset 0 always equals the cohort size.

    Single-pass shape (r15): the cohort week is a per-user constant, so it
    attaches as ``min(ts) OVER (PARTITION BY user)`` instead of a
    groupBy+join-back — one scan of events instead of two, and the
    user-week ``distinct`` rides the window's user exchange (hash(user)
    clusters every (user, cohort_week, wk) triple — guide §2.4). Plan:
    2 scans / 3 exchanges / 1 join -> 1 scan / 2 exchanges / 0 joins;
    interleaved A/B at sf0.1: 0.611 s -> 0.502 median. Same rows (pinned
    at sf0.1 and by tests)."""
    w = Window.partitionBy("user_id")
    active = (
        events.select(
            "user_id",
            F.date_trunc("week", F.min("ts").over(w)).alias("cohort_week"),
            F.date_trunc("week", F.col("ts")).alias("wk"),
        )
        .distinct()
    )
    return (
        active.withColumn(
            # calendar arithmetic, NOT epoch-second division: date_trunc is
            # session-timezone-dependent, and in a DST timezone a
            # spring-forward week spans 601200 s, so (604800*k - 3600) div
            # 604800 = k-1 would collapse that offset into the previous
            # week. datediff counts calendar days — DST-immune, still
            # integer-exact (truncated weeks are always a whole number of
            # days apart).
            "week_offset",
            F.expr("datediff(wk, cohort_week) div 7"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def transition_counts(events: DataFrame, session_gap_minutes: int | None = None) -> DataFrame:
    """Markov transition counts over per-user event streams — the journey-
    mining primitive between funnels (fixed stage order) and full sequence
    models: for every consecutive event pair within a user's stream,
    count ``(from_type, to_type)`` occurrences and how many distinct
    users made that transition.

    Ordering is the repo's deterministic event total order (ts, then the
    tiebreak id — equal-timestamp pairs would otherwise make the lag
    engine-dependent). Returns ``(from_type, to_type, n_transitions,
    n_users)``, exact integers.

    Scale shape: ONE window partitioned by user (a user's stream is the
    parallel unit and is bounded by per-user activity, not corpus size),
    then one partial-aggregable groupBy on the (from, to) pair — the
    shuffled payload after the window is one row per consecutive pair,
    and the pair space is |types|², tiny. First events (no predecessor)
    contribute nothing by construction (lag NULL filtered).

    ``session_gap_minutes`` (r12): when set, a consecutive pair whose time
    gap EXCEEDS the threshold is NOT a transition — yesterday's last page
    → today's first page is a session boundary, not a journey step
    (sessionize_events' strict-> gap rule: a gap of exactly the threshold
    still counts as the same session). Same single window — the gap test
    rides the already-computed lag, adding no exchange.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("_from", F.lag("event_type").over(w))
        .withColumn("_prev_ts", F.lag("ts").over(w))
        .filter(F.col("_from").isNotNull())
    )
    if session_gap_minutes is not None:
        # unix_micros, NOT cast('long') (whole seconds): the fixture carries
        # microsecond timestamps and sessionize_events' gap rule compares at
        # micros — a pair straddling the threshold by <1s must NOT count
        pairs = pairs.filter(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("_prev_ts"))
            <= int(session_gap_minutes) * 60_000_000
        )
    return (
        pairs.groupBy(F.col("_from").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )
