"""Exact percentiles: parity with Python's statistics on crafted groups,
duplicate-value determinism, rational-target edge ranks, one-exchange
plan."""

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.percentiles import exact_percentiles
from tamer_spark.plans import plan_shape


@pytest.fixture(scope="module")
def grouped(spark):
    rows = [("a", v) for v in [10, 20, 30, 40, 50]] + [
        ("b", v) for v in [7, 7, 7, 9, 9, 100]
    ]
    return spark.createDataFrame(rows, "g string, val long")


def _get(df):
    return {(r.g, r.p): r.value for r in df.collect()}


def test_disc_semantics_match_manual(spark, grouped):
    out = _get(exact_percentiles(grouped, "val", [(1, 2), (9, 10)], keys=("g",)))
    # group a (n=5): median rank ceil(2.5)=3 -> 30; p90 rank ceil(4.5)=5 -> 50
    assert out[("a", "1/2")] == 30 and out[("a", "9/10")] == 50
    # group b (n=6): median rank ceil(3)=3 -> 7; p90 rank ceil(5.4)=6 -> 100
    assert out[("b", "1/2")] == 7 and out[("b", "9/10")] == 100


def test_duplicates_do_not_break_determinism(spark):
    df = spark.createDataFrame([("g", 5)] * 9 + [("g", 6)], "g string, val long")
    out = _get(exact_percentiles(df, "val", [(1, 2), (1, 1)], keys=("g",)))
    assert out[("g", "1/2")] == 5 and out[("g", "1/1")] == 6


def test_p_one_is_max_and_validation(spark, grouped):
    out = _get(exact_percentiles(grouped, "val", [(1, 1)], keys=("g",)))
    assert out[("a", "1/1")] == 50 and out[("b", "1/1")] == 100
    with pytest.raises(ValueError):
        exact_percentiles(grouped, "val", [(0, 2)], keys=("g",))
    with pytest.raises(ValueError):
        exact_percentiles(grouped, "val", [])


def test_single_exchange(spark, grouped):
    df = exact_percentiles(grouped, "val", [(1, 2), (9, 10)], keys=("g",))
    # rank + count share the group-key exchange; the union adds no shuffle
    assert plan_shape(df).shuffles <= 2, plan_shape(df)


# ------------------------------------------- global two-pass (bucket refine)


def test_global_bucketed_equals_single_window(spark):
    """The two-pass path lands on exactly the rows a (non-scalable) global
    window percentile_disc would — same rank convention, same values —
    on a seeded integer sample with duplicates and negatives."""
    import random

    from tamer_spark.operators.percentiles import global_percentile_bucketed

    rng = random.Random(7)
    vals = [rng.randint(-500, 10_000) for _ in range(5_000)] + [42] * 300
    df = spark.createDataFrame([(v,) for v in vals], "val long")
    ps = [(1, 100), (1, 2), (9, 10), (99, 100), (1, 1)]
    got = {r.p: (r.value, r.rank, r.n) for r in
           global_percentile_bucketed(df, "val", ps, n_buckets=64).collect()}
    s = sorted(vals)
    n = len(s)
    for num, den in ps:
        k = (num * n + den - 1) // den
        assert got[f"{num}/{den}"] == (s[k - 1], k, n), (num, den)


def test_global_bucketed_constant_column_and_nulls(spark):
    """vmax == vmin degenerates to one bucket (width >= 1 guard), and NULLs
    are outside both n and the ranking — the SQL percentile rule."""
    from tamer_spark.operators.percentiles import global_percentile_bucketed

    df = spark.createDataFrame([(5,)] * 10 + [(None,)] * 3, "val long")
    rows = global_percentile_bucketed(df, "val", [(1, 2), (1, 1)], n_buckets=8).collect()
    assert {(r.p, r.value, r.rank, r.n) for r in rows} == {
        ("1/2", 5, 5, 10),
        ("1/1", 5, 10, 10),
    }


def test_global_bucketed_empty_and_validation(spark):
    from tamer_spark.operators.percentiles import global_percentile_bucketed

    empty = spark.createDataFrame([], "val long")
    assert global_percentile_bucketed(empty, "val", [(1, 2)]).collect() == []
    dbl = spark.createDataFrame([(1.5,)], "val double")
    with pytest.raises(ValueError):
        global_percentile_bucketed(dbl, "val", [(1, 2)])
    df = spark.createDataFrame([(1,)], "val long")
    with pytest.raises(ValueError):
        global_percentile_bucketed(df, "val", [])
    with pytest.raises(ValueError):
        global_percentile_bucketed(df, "val", [(3, 2)])
    with pytest.raises(ValueError):
        global_percentile_bucketed(df, "val", [(1, 2)], n_buckets=0)


def test_global_bucketed_refine_reads_only_target_buckets(spark):
    """Pass 2's window input is filtered to the target buckets BEFORE the
    ranking exchange — the plan carries the isin filter under the sort, and
    the window never sees the full column (the operator's whole point)."""
    from tamer_spark.operators.percentiles import global_percentile_bucketed

    df = spark.range(0, 100_000).select(F.col("id").alias("val"))
    out = global_percentile_bucketed(df, "val", [(1, 2)], n_buckets=256)
    [r] = out.collect()
    assert (r.value, r.rank, r.n) == (49_999, 50_000, 100_000)
    shape = plan_shape(out)
    # the bucket filter sits below the window sort in the final plan
    assert shape.nodes["Window"] and shape.nodes["Filter"], shape
    # a hashpartitioning exchange on bkt feeds the window; the histogram
    # pass already ran at plan-build time (driver state)
    assert any("bkt" in p for p in shape.hash_keys), shape


# ------------------------------------------------------------- winsorization


def test_winsorize_clamps_to_exact_bounds(spark):
    """Bounds are the exact discrete p10/p90 per group; values clamp into
    [lo, hi], interior values untouched, NULLs pass through."""
    from tamer_spark.operators.percentiles import winsorize

    rows = [("a", v) for v in range(1, 11)] + [("b", 5), ("b", 500), ("b", None)]
    df = spark.createDataFrame(rows, "g string, val long")
    out = {
        (r.g, r.val): (r.value_winsor, r.w_lo, r.w_hi)
        for r in winsorize(df, "val", keys=("g",), p_lo=(1, 10), p_hi=(9, 10)).collect()
    }
    # group a (1..10): p10 rank ceil(1)=1 -> 1, p90 rank ceil(9)=9 -> 9
    assert out[("a", 1)] == (1, 1, 9)
    assert out[("a", 5)] == (5, 1, 9)
    assert out[("a", 10)] == (9, 1, 9)  # clamped down to hi
    # group b (n=2, NULL excluded from ranks): p10 rank 1 -> 5, p90 rank 2 -> 500
    assert out[("b", 5)] == (5, 5, 500)
    assert out[("b", None)] == (None, 5, 500)  # NULL in, NULL out


def test_winsorize_global_keys_and_validation(spark):
    from tamer_spark.operators.percentiles import winsorize
    import pytest as _pytest

    df = spark.createDataFrame([(v,) for v in range(1, 101)], "val long")
    out = winsorize(df, "val", p_lo=(1, 20), p_hi=(19, 20)).collect()
    los = {r.w_lo for r in out}
    his = {r.w_hi for r in out}
    assert los == {5} and his == {95}  # ceil(0.05*100)=5, ceil(0.95*100)=95
    assert all(5 <= r.value_winsor <= 95 for r in out)
    with _pytest.raises(ValueError):
        winsorize(df, "val", p_lo=(9, 10), p_hi=(1, 10))  # lo above hi
    with _pytest.raises(ValueError):
        winsorize(df, "val", p_lo=(0, 10))


def test_winsorize_bounds_join_is_broadcast(spark):
    from tamer_spark.operators.percentiles import winsorize

    df = spark.createDataFrame(
        [(i % 4, i) for i in range(1000)], "g int, val long"
    )
    out = winsorize(df, "val", keys=("g",))
    shape = plan_shape(out)
    assert shape.nodes["BroadcastHashJoin"] and not shape.nodes["SortMergeJoin"], shape


def test_exact_percentiles_exclude_nulls(spark):
    """Regression (r12): a NULL value must not occupy rank 1 under Spark's
    NULLS-FIRST sort — NULLs are outside both n and the ranking, the SQL
    percentile rule."""
    df = spark.createDataFrame(
        [("g", None), ("g", None), ("g", 7), ("g", 9)], "g string, val long"
    )
    out = {r.p: r.value for r in
           exact_percentiles(df, "val", [(1, 10), (1, 1)], keys=("g",)).collect()}
    assert out == {"1/10": 7, "1/1": 9}  # n=2, rank ceil(0.2)=1 -> 7


def test_winsorize_preserves_rows_without_bounds(spark):
    """Row-preserving contract (review fix, r12): NULL group keys and
    all-NULL groups have no bounds row — they must pass through unclamped,
    not silently drop out of an inner join."""
    from tamer_spark.operators.percentiles import winsorize

    rows = [("a", 1), ("a", 100), (None, 7), ("b", None)]
    df = spark.createDataFrame(rows, "g string, val long")
    out = {(r.g, r.val): r.value_winsor for r in
           winsorize(df, "val", keys=("g",), p_lo=(1, 10), p_hi=(9, 10)).collect()}
    assert len(out) == 4  # every input row survives
    assert out[(None, 7)] == 7      # NULL group: no bounds -> passthrough
    assert out[("b", None)] is None  # all-NULL group: NULL in, NULL out
    assert out[("a", 1)] == 1 and out[("a", 100)] == 100


# ----------------------------------------- grouped two-pass (bucket refine)


def test_grouped_bucketed_equals_window_form(spark):
    """Per-group two-pass output equals exact_percentiles (the window form)
    on skewed groups — each group on its OWN grid, duplicates included."""
    import random

    from tamer_spark.operators.percentiles import grouped_percentile_bucketed

    rng = random.Random(11)
    rows = (
        [("en", rng.randint(0, 10_000)) for _ in range(4_000)]
        + [("de", rng.randint(-50, 50)) for _ in range(300)]
        + [("fr", 7)] * 40
    )
    df = spark.createDataFrame(rows, "lang string, val long")
    ps = [(1, 20), (1, 2), (99, 100)]
    got = {
        (r.lang, r.p): (r.value, r.rank, r.n)
        for r in grouped_percentile_bucketed(df, "val", ("lang",), ps, n_buckets=32).collect()
    }
    want_vals = {
        (r.lang, r.p): r.value
        for r in exact_percentiles(df, "val", ps, keys=("lang",)).collect()
    }
    assert set(got) == set(want_vals)
    from collections import Counter

    n_by = Counter(lang for lang, _ in rows)
    for (lang, p), (value, rank, n) in got.items():
        num, den = map(int, p.split("/"))
        assert value == want_vals[(lang, p)], (lang, p)
        assert n == n_by[lang]
        assert rank == (num * n + den - 1) // den


def test_grouped_bucketed_contract_and_edges(spark):
    from tamer_spark.operators.percentiles import grouped_percentile_bucketed

    df = spark.createDataFrame([("a", 1), ("a", None)], "g string, val long")
    out = grouped_percentile_bucketed(df, "val", ("g",), [(1, 1)]).collect()
    assert [(r.g, r.p, r.value, r.rank, r.n) for r in out] == [("a", "1/1", 1, 1, 1)]
    empty = spark.createDataFrame([], "g string, val long")
    assert grouped_percentile_bucketed(empty, "val", ("g",), [(1, 2)]).collect() == []
    import pytest as _pytest

    with _pytest.raises(ValueError):
        grouped_percentile_bucketed(df, "val", (), [(1, 2)])
    many = spark.range(0, 100).select(F.col("id").cast("string").alias("g"), F.col("id").alias("val"))
    with _pytest.raises(ValueError):
        grouped_percentile_bucketed(many, "val", ("g",), [(1, 2)], max_groups=10)


def test_grouped_bucketed_null_group_and_guards(spark):
    """Review fixes (r12): a NULL group key is a real group (eqNullSafe
    joins — the winsorize inner-join trap); the max_groups guard bounds
    the collect itself; reserved key names and hash-wide ranges raise."""
    from tamer_spark.operators.percentiles import grouped_percentile_bucketed

    df = spark.createDataFrame(
        [(None, 1), (None, 9), ("a", 5)], "g string, val long"
    )
    got = {(r.g, r.p): (r.value, r.n) for r in
           grouped_percentile_bucketed(df, "val", ("g",), [(1, 1)]).collect()}
    assert got == {(None, "1/1"): (9, 2), ("a", "1/1"): (5, 1)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        grouped_percentile_bucketed(df.withColumnRenamed("g", "p"), "val", ("p",), [(1, 2)])
    wide = spark.createDataFrame([("a", -(2**62)), ("a", 2**62)], "g string, val long")
    with _pytest.raises(ValueError, match="too wide"):
        grouped_percentile_bucketed(wide, "val", ("g",), [(1, 2)])


def test_global_bucketed_range_guard(spark):
    from tamer_spark.operators.percentiles import global_percentile_bucketed
    import pytest as _pytest

    wide = spark.createDataFrame([(-(2**62),), (2**62,)], "val long")
    with _pytest.raises(ValueError, match="too wide"):
        global_percentile_bucketed(wide, "val", [(1, 2)])
