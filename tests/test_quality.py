"""Direct unit tests for operators/quality.py — the dq gate variant covers
run_checks/referential/uniqueness end-to-end via the oracle, but matches()
and the NULL/empty edge semantics had no direct pin."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.operators.quality import (
    in_range,
    matches,
    not_null,
    referential_check,
    run_checks,
    uniqueness_check,
)


def _rows(df):
    return {r.check: r.n_bad for r in df.collect()}


def test_matches_counts_malformed_and_passes_null(spark):
    # NULL semantics pin: rlike(NULL) is NULL, so ~NULL is NULL and the
    # when() counts it as NOT bad — NULLs pass matches() by design and must
    # be caught by an explicit not_null() check alongside
    df = spark.createDataFrame(
        [("a@x.io",), ("nope",), (None,), ("b@y.dev",)], "email string"
    )
    got = _rows(run_checks(df, [matches("email", r"^[^@]+@[^@]+$"), not_null("email")]))
    assert got == {"email_malformed": 1, "email_null": 1}


def test_run_checks_is_one_aggregate_pass(spark):
    from tamer_spark.plans import plan_shape

    # the module contract: N checks compile to ONE scan + ONE agg, never
    # per-check jobs — pin no Exchange below the aggregate's partial stage
    # beyond the single final one
    df = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") % 10).alias("b")
    )
    out = run_checks(df, [not_null("a"), in_range("b", lo=2, hi=8), matches("a", "1")])
    shape = plan_shape(out)
    # one partial agg over the single source, one SinglePartition exchange,
    # all three checks fused into the same HashAggregate
    assert shape.count("Exchange", "BroadcastExchange") == 1, shape
    assert shape.nodes["Range"] == 1, shape
    assert "partial_sum" in out._jdf.queryExecution().executedPlan().toString()


def test_in_range_bounds_inclusive(spark):
    df = spark.createDataFrame([(0,), (5,), (10,), (11,), (-1,)], "v long")
    got = _rows(run_checks(df, [in_range("v", lo=0, hi=10)]))
    assert got == {"v_out_of_range": 2}  # 11 and -1; bounds themselves pass


def test_referential_and_uniqueness_empty_inputs(spark):
    child = spark.createDataFrame([], "fk long")
    parent = spark.createDataFrame([(1,)], "pk long")
    assert _rows(referential_check(child, parent, "fk", "pk")) == {"fk_orphaned": 0}
    empty = spark.createDataFrame([], "k long")
    assert _rows(uniqueness_check(empty, ["k"])) == {"k_duplicated": 0}


def test_column_stats_exact_and_null_semantics(spark):
    # min/max skip NULLs, n_nulls counts them, NDV excludes them — replayed
    # against DuckDB so the engine contracts can never drift silently
    import duckdb

    from tamer_spark.operators.quality import column_stats

    rows = [(1, None), (2, 5), (2, 7), (None, 5)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = sorted(
        (r.column, r.min_v, r.max_v, r.n_nulls, r.n_distinct)
        for r in column_stats(df, [("a", F.col("a")), ("b", F.col("b"))]).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = sorted(
        con.execute(
            """
            SELECT 'a', MIN(a), MAX(a), COUNT(*)-COUNT(a), COUNT(DISTINCT a) FROM t
            UNION ALL
            SELECT 'b', MIN(b), MAX(b), COUNT(*)-COUNT(b), COUNT(DISTINCT b) FROM t
            """
        ).fetchall()
    )
    assert got == oracle == [("a", 1, 2, 1, 2), ("b", 5, 7, 1, 2)]


def test_column_stats_single_aggregate_no_join(spark):
    # ONE aggregate pass: no join, no window — the expand for the multi
    # count_distinct is the only multiplier
    from tamer_spark.operators.quality import column_stats
    from tamer_spark.plans import plan_shape

    df = spark.range(100).withColumn("v", F.col("id") % 7)
    shape = plan_shape(column_stats(df, [("id", F.col("id")), ("v", F.col("v"))]))
    assert not [n for n in shape.nodes if "Join" in n or "Window" in n], shape


def test_column_stats_rejects_empty_specs(spark):
    import pytest

    from tamer_spark.operators.quality import column_stats

    with pytest.raises(ValueError, match="at least one"):
        column_stats(spark.range(1), [])


def test_column_stats_grouped_matches_duckdb_incl_null_group(spark):
    import duckdb

    from tamer_spark.operators.quality import column_stats_grouped

    rows = [("p1", 1), ("p1", 3), ("p2", None), ("p2", 9), (None, 4)]
    df = spark.createDataFrame(rows, "p string, v long")
    key = lambda t: (t[0] is None, t[0] or "", t[1])  # noqa: E731
    got = sorted(
        (
            (r.p, r.column, r.min_v, r.max_v, r.n_nulls, r.n_distinct)
            for r in column_stats_grouped(df, ["p"], [("v", F.col("v"))]).collect()
        ),
        key=key,
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(p VARCHAR, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = sorted(
        ((p, "v", mn, mx, nn, nd)
         for p, mn, mx, nn, nd in con.execute(
            "SELECT p, MIN(v), MAX(v), COUNT(*)-COUNT(v), COUNT(DISTINCT v) FROM t GROUP BY p"
         ).fetchall()),
        key=key,
    )
    assert got == oracle
    assert any(p is None for p, *_ in got)  # NULL key keeps its own group


def test_column_stats_grouped_guards(spark):
    import pytest

    from tamer_spark.operators.quality import column_stats_grouped

    df = spark.range(1).withColumn("p", F.lit("a"))
    with pytest.raises(ValueError, match="group keys"):
        column_stats_grouped(df, [], [("id", F.col("id"))])
    with pytest.raises(ValueError, match="at least one"):
        column_stats_grouped(df, ["p"], [])
