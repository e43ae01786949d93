"""Salted skew join (identical results, spread hot key) and the skew
profile / heavy-hitter helpers."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # hot key: one user with 5k rows, others tiny
    rows = [(1, i) for i in range(5000)] + [(u, 0) for u in range(2, 50)]
    large = spark.createDataFrame(rows, "user long, x long")
    small = spark.createDataFrame([(u, f"u{u}") for u in range(1, 50)], "user long, name string")
    plain = large.join(small, "user").groupBy("user").count()
    salted = salted_join(large, small, "user", salt=8).groupBy("user").count()
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_matches_plain_join_all_safe_modes(spark):
    # large-side-preserving modes must be value-identical to the plain join,
    # including unmatched-large-row preservation (left) and the projection-
    # only modes (semi/anti). Keys 60..64 exist only in large (exercise the
    # left null-extension + anti survival), 90..93 only in small.
    rows = [(1, i) for i in range(500)] + [(u, 0) for u in range(2, 65)]
    large = spark.createDataFrame(rows, "user long, x long")
    small = spark.createDataFrame(
        [(u, f"u{u}") for u in range(1, 60)] + [(u, f"u{u}") for u in range(90, 94)],
        "user long, name string",
    )
    for how in ("inner", "left", "left_semi", "left_anti", "leftouter", "semi", "anti"):
        plain = sorted(map(tuple, large.join(small, "user", how).collect()))
        salted = sorted(map(tuple, salted_join(large, small, "user", salt=8, how=how).collect()))
        assert salted == plain, how


def test_salted_join_rejects_small_side_preserving_modes(spark):
    # right/full would duplicate each unmatched small-side row salt x
    # (one survivor per replica) — the contract rejects them outright
    import pytest

    large = spark.createDataFrame([(1, 0)], "user long, x long")
    small = spark.createDataFrame([(1, "a"), (99, "unmatched")], "user long, name string")
    for how in ("right", "full", "outer", "full_outer", "rightouter", "cross"):
        with pytest.raises(ValueError, match="not large-side-preserving"):
            salted_join(large, small, "user", salt=4, how=how)


def test_salted_join_spreads_hot_key(spark):
    large = spark.createDataFrame([(1, i) for i in range(1000)], "user long, x long")
    small = spark.createDataFrame([(1, "hot")], "user long, name string")
    lg_salted = salted_join(large, small, "user", salt=8)
    assert lg_salted.count() == 1000
    # the salt column spreads the single key across multiple values
    from tamer_spark.operators.skew import F as _F  # noqa: N811
    salts = (
        large.withColumn(
            "_salt",
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat_ws("\x00", *[F.col(c).cast("string") for c in large.columns])), 1, 15),
                    16,
                    10,
                ).cast("long"),
                F.lit(8),
            ),
        )
        .select("_salt")
        .distinct()
        .count()
    )
    assert salts == 8


def test_heavy_hitters_exact_and_tie_deterministic(spark):
    # key 7: 6 rows; key 3: 4 rows; keys 10..13: 2 rows each (4-way tie
    # broken by key ASC); keys 100..119: 1 row each
    rows = (
        [(7,)] * 6 + [(3,)] * 4 + [(k,) for k in (10, 11, 12, 13) for _ in range(2)]
        + [(k,) for k in range(100, 120)]
    )
    df = spark.createDataFrame(rows, "user long")
    from tamer_spark.operators.skew import heavy_hitters

    got = [(r.key, r.n, r.rank) for r in heavy_hitters(df, "user", 6).orderBy("rank").collect()]
    assert got == [(7, 6, 1), (3, 4, 2), (10, 2, 3), (11, 2, 4), (12, 2, 5), (13, 2, 6)]


def test_skew_summary_values_and_salt_suggestion(spark):
    # 1 hot key with 100 rows + 99 singleton keys: n_keys=100, n_rows=199,
    # mean = 1.99 -> skew_ppm = 1e6*100*100 div 199 = 50_251_256,
    # suggested_salt = ceil(100*100/199) = ceil(50.25) = 51
    rows = [(0,)] * 100 + [(k,) for k in range(1, 100)]
    df = spark.createDataFrame(rows, "user long")
    from tamer_spark.operators.skew import skew_summary

    r = skew_summary(df, "user").collect()[0]
    assert (r.n_keys, r.n_rows, r.max_n) == (100, 199, 100)
    assert r.skew_ppm == (1_000_000 * 100 * 100) // 199 == 50_251_256
    assert r.suggested_salt == -(-100 * 100 // 199) == 51
    # uniform frame: skew_ppm == 1e6 exactly, salt 1 (no salting needed)
    uni = spark.createDataFrame([(k,) for k in range(32)], "user long")
    u = skew_summary(uni, "user").collect()[0]
    assert (u.skew_ppm, u.suggested_salt) == (1_000_000, 1)


def test_skew_profile_counts_nulls_as_a_key(spark):
    # the null bucket is the classic 100 TB hot key — it must be PROFILED,
    # not silently dropped (F.count("col") semantics would hide it)
    df = spark.createDataFrame([(None,), (None,), (None,), (5,)], "user long")
    from tamer_spark.operators.skew import heavy_hitters, skew_summary

    s = skew_summary(df, "user").collect()[0]
    assert (s.n_keys, s.n_rows, s.max_n) == (2, 4, 3)
    hh = heavy_hitters(df, "user", 1).collect()[0]
    assert hh.key is None and hh.n == 3 and hh.rank == 1


def test_heavy_hitters_plans_take_ordered_with_partial_agg(spark):
    # scale pin: the top-k must plan as TakeOrderedAndProject over a
    # partial-aggregated count (map-side combine before the key exchange) —
    # never a global Sort of the key space
    from tamer_spark.operators.skew import heavy_hitters

    df = spark.range(1000).select((F.col("id") % 50).alias("user"))
    plan = heavy_hitters(df, "user", 10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "partial count" in plan.lower()
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_skew_profile_matches_counter_on_random_multisets(spark):
    # differential fuzz: heavy_hitters/skew_summary vs collections.Counter on
    # random multisets (bounded examples — each runs a Spark job). Pins the
    # tie-break total order and the exact ppm/salt arithmetic on shapes the
    # handwritten cases don't sample.
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tamer_spark.operators.skew import heavy_hitters, skew_summary

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(keys=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=60))
    def check(keys):
        df = spark.createDataFrame([(k,) for k in keys], "user long")
        cnt = Counter(keys)
        expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        got = [
            (r.key, r.n)
            for r in heavy_hitters(df, "user", 3).orderBy("rank").collect()
        ]
        assert got == expect
        s = skew_summary(df, "user").collect()[0]
        n_keys, n_rows, max_n = len(cnt), len(keys), max(cnt.values())
        assert (s.n_keys, s.n_rows, s.max_n) == (n_keys, n_rows, max_n)
        assert s.skew_ppm == (1_000_000 * max_n * n_keys) // n_rows
        assert s.suggested_salt == -(-max_n * n_keys // n_rows)

    check()


def test_heavy_hitters_null_key_tie_ranks_nulls_last(spark):
    # cross-engine tie pin: Spark ASC defaults NULLS FIRST, DuckDB (and the
    # profile_hh oracle) NULLS LAST — the operator must pin NULLS LAST or a
    # NULL-vs-key count tie ranks (and at the top-k boundary, SELECTS)
    # differently across engines
    rows = [(None,)] * 3 + [(5,)] * 3 + [(1,)] * 7
    df = spark.createDataFrame(rows, "user long")
    from tamer_spark.operators.skew import heavy_hitters

    got = [(r.key, r.n, r.rank) for r in heavy_hitters(df, "user", 3).orderBy("rank").collect()]
    assert got == [(1, 7, 1), (5, 3, 2), (None, 3, 3)]
    # top-k boundary: k=2 must keep the real key and CUT the tied NULL
    got2 = [(r.key, r.n) for r in heavy_hitters(df, "user", 2).orderBy("rank").collect()]
    assert got2 == [(1, 7), (5, 3)]


def test_skew_profile_shared_counts_frame_matches(spark):
    # the counts= seam (one shuffle feeding both variants, as the gate uses
    # it) must be value-identical to the self-computed path
    from tamer_spark.operators.skew import heavy_hitters, key_counts, skew_summary

    df = spark.createDataFrame([(k % 7,) for k in range(50)], "user long")
    counts = key_counts(df, "user")
    assert (
        heavy_hitters(df, "user", 5, counts=counts).collect()
        == heavy_hitters(df, "user", 5).collect()
    )
    assert skew_summary(df, "user", counts=counts).collect() == skew_summary(df, "user").collect()


def test_skew_profile_empty_input(spark):
    # empty-corpus contract (probed equal in DuckDB): summary is ONE row
    # (n_keys=0, everything else NULL — SUM/MAX of nothing), hitters empty
    from tamer_spark.operators.skew import heavy_hitters, skew_summary

    e = spark.createDataFrame([], "user long")
    r = skew_summary(e, "user").collect()
    assert len(r) == 1 and (r[0].n_keys, r[0].n_rows, r[0].skew_ppm) == (0, None, None)
    assert heavy_hitters(e, "user", 3).count() == 0


def test_profile_summary_payload_null_semantics_match_oracle(spark):
    # r11 (ADVICE): the gate's profile_summary payload joins skew_ppm and
    # suggested_salt with NULL-PROPAGATING concat (Spark F.concat ≡ DuckDB
    # '||'), not concat_ws (skips NULLs -> ''). On a degenerate empty table
    # both engines must emit payload NULL, not '' vs NULL.
    import duckdb

    from tamer_spark.operators.skew import skew_summary

    e = spark.createDataFrame([], "user long")
    row = (
        skew_summary(e, "user")
        .select(
            F.concat(
                F.col("skew_ppm").cast("string"),
                F.lit("|"),
                F.col("suggested_salt").cast("string"),
            ).alias("payload")
        )
        .collect()[0]
    )
    oracle = duckdb.sql(
        "SELECT CAST(NULL AS VARCHAR) || '|' || CAST(NULL AS VARCHAR) AS payload"
    ).fetchone()[0]
    assert row.payload is None and oracle is None
