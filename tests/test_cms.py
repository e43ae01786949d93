"""Count-Min Sketch: overestimate bound, mergeability, sparse-cell zero
semantics, bounded sketch size, deterministic replay."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.operators.cms import cms_build, cms_query
from tamer_spark.plans import plan_shape
from tests.conftest import SF_DIR

D, W, SEED = 4, 256, 42


def _tokens(spark):
    from tamer_spark.operators.dedup import normalize_text
    from tamer_spark.queries import _t

    return (
        _t(spark, SF_DIR, "documents")
        .select(F.explode_outer(F.split(normalize_text(F.col("text")), " ")).alias("word"))
        .filter(F.col("word").isNotNull())
    )


def test_cms_overestimates_never_underestimates(spark):
    """est ≥ true for EVERY distinct token in the corpus (the one-sided CMS
    guarantee), and the total overestimate is bounded by the classical
    ε·N·d mass argument (ε = e/w)."""
    toks = _tokens(spark)
    sk = cms_build(toks, d=D, w=W, seed=SEED)
    truth = toks.groupBy("word").agg(F.count(F.lit(1)).alias("tru"))
    est = cms_query(sk, truth.select("word"), token_col="word", d=D, w=W, seed=SEED)
    joined = est.join(truth, est.token == truth.word).select("token", "est", "tru").collect()
    assert joined
    n_stream = toks.count()
    import math

    eps_bound = math.e / W * n_stream
    for r in joined:
        assert r.est >= r.tru, r
        # per-item bound holds in expectation; assert the generous hard cap
        assert r.est - r.tru <= 3 * eps_bound, (r, eps_bound)


def test_cms_sketch_size_bounded_and_counts_conserved(spark):
    """The sparse sketch has ≤ d·w rows, every row's cnt ≥ 1, and each of
    the d rows conserves the stream length exactly (Σ_b cnt[r][b] = N)."""
    toks = _tokens(spark)
    sk = cms_build(toks, d=D, w=W, seed=SEED).collect()
    assert len(sk) <= D * W
    assert all(0 <= c.b < W and 0 <= c.r < D and c.cnt >= 1 for c in sk)
    n_stream = _tokens(spark).count()
    per_row = {}
    for c in sk:
        per_row[c.r] = per_row.get(c.r, 0) + c.cnt
    assert per_row == {r: n_stream for r in range(D)}


def test_cms_merge_equals_build_on_union(spark):
    """Per-epoch sketches summed cell-wise equal the sketch of the union —
    the linearity that makes the incremental story O(sketch) per epoch."""
    toks = _tokens(spark).withColumn("h", F.crc32("word") % 2)
    merged: dict = {}
    for h in (0, 1):
        for r in cms_build(toks.filter(f"h = {h}").drop("h"), d=D, w=W, seed=SEED).collect():
            merged[(r.r, r.b)] = merged.get((r.r, r.b), 0) + r.cnt
    full = {(r.r, r.b): r.cnt for r in cms_build(toks.drop("h"), d=D, w=W, seed=SEED).collect()}
    assert merged == full


def test_cms_missing_cell_is_exact_zero(spark):
    """A probe token whose cells were never touched estimates exactly 0 —
    the LEFT-join + coalesce rule (an inner join would silently drop the
    row or overestimate from the surviving cells)."""
    tiny = spark.createDataFrame([("alpha",), ("alpha",), ("beta",)], "word string")
    sk = cms_build(tiny, d=D, w=W, seed=SEED)
    probes = spark.createDataFrame([("alpha",), ("gamma-absent",)], "word string")
    est = {r.token: r.est for r in cms_query(sk, probes, d=D, w=W, seed=SEED).collect()}
    assert est["alpha"] >= 2
    # with 3 occupied cells out of 256 per row, 4 independent rows all
    # colliding is ~ (3/256)^4 — and with this fixed seed they don't
    assert est["gamma-absent"] == 0


def test_cms_deterministic_across_builds(spark):
    toks = _tokens(spark)
    a = sorted(map(tuple, cms_build(toks, d=D, w=W, seed=SEED).collect()))
    b = sorted(map(tuple, cms_build(toks, d=D, w=W, seed=SEED).collect()))
    assert a == b
    c = sorted(map(tuple, cms_build(toks, d=D, w=W, seed=7).collect()))
    assert a != c  # the seed actually reaches the hashes


def test_cms_build_single_bounded_exchange(spark):
    """The build plan has exactly ONE shuffle — the (r, b) groupBy whose
    partial aggregation bounds map output at d·w rows per partition (the
    fixed-size-shuffle property; vocabulary size never appears)."""
    out = cms_build(_tokens(spark), d=D, w=W, seed=SEED)
    keys = plan_shape(out).hash_keys
    assert len(keys) == 1 and "r#" in keys[0] and "b#" in keys[0], keys
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan or "partial" in plan.lower(), plan


# ---------------------------------------------------------------- heavy hitters


def _hh_exact(toks, min_count):
    return {
        (r.token, r.n)
        for r in toks.groupBy(F.col("word").alias("token"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .collect()
    }


def test_heavy_hitters_exact_equivalence(spark):
    """Output equals the naive exact groupBy+HAVING path on the fixture
    corpus — the CMS only routes rows, it never appears in the result."""
    from tamer_spark.operators.cms import cms_heavy_hitters

    toks = _tokens(spark)
    got = {
        (r.token, r.n)
        for r in cms_heavy_hitters(toks, min_count=50, d=D, w=W, seed=SEED).collect()
    }
    assert got == _hh_exact(toks, 50)
    assert got  # threshold chosen so the fixture has heavy tokens


def test_heavy_hitters_immune_to_sketch_collisions(spark):
    """With w=2 (every token colliding), the output is STILL exact —
    collisions inflate estimates, which only admits false candidates to
    the exact recount; they can never drop a true heavy hitter."""
    from tamer_spark.operators.cms import cms_heavy_hitters

    toks = _tokens(spark)
    got = {
        (r.token, r.n)
        for r in cms_heavy_hitters(toks, min_count=50, d=2, w=2, seed=SEED).collect()
    }
    assert got == _hh_exact(toks, 50)


def test_heavy_hitters_relative_threshold_and_null_drop(spark):
    """freq_k mode: count·K ≥ N over the NULL-filtered stream; NULL tokens
    are dropped in both passes and never reach the output."""
    from tamer_spark.operators.cms import cms_heavy_hitters

    rows = [("a",)] * 40 + [("b",)] * 9 + [("c",)] * 1 + [(None,)] * 10
    df = spark.createDataFrame(rows, "word string")
    got = {
        (r.token, r.n)
        for r in cms_heavy_hitters(df, freq_k=5, d=D, w=W, seed=SEED).collect()
    }
    # N = 50 non-NULL; threshold = N/5 = 10 → only 'a' (40) qualifies;
    # 'b' at 9 < 10 and NULLs are out of both N and the candidates
    assert got == {("a", 40)}


def test_heavy_hitters_prefilter_actually_prunes(spark):
    """On a skewed stream with adequate width, the candidate set entering
    the exact recount excludes the light tail (the operator's whole point:
    the second exchange carries candidates, not the vocabulary)."""
    from tamer_spark.operators.cms import cms_heavy_hitters

    rows = [("hot",)] * 100 + [(f"tail{i}",) for i in range(500)]
    df = spark.createDataFrame(rows, "word string")
    out = cms_heavy_hitters(df, min_count=50, d=4, w=4096, seed=SEED)
    assert {(r.token, r.n) for r in out.collect()} == {("hot", 100)}
    # plan shape (r14): the sketch is inlined as dense literal arrays, so
    # the estimate filter is pure map-side arithmetic BEFORE the exact
    # count's exchange — no join machinery at all, and the tail never
    # shuffles (est(tail_i) < 50 at this width with overwhelming
    # probability; deterministic under the fixed seed).
    assert not plan_shape(out).nodes["BroadcastHashJoin"], plan_shape(out)
    # AQE prints the final plan first, so the first Filter / Exchange in the
    # executed-plan string belong to it
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.index("Filter") < plan.index("Exchange"), plan


def test_heavy_hitters_join_fallback_equivalence(spark):
    """A sketch too large to inline as a plan literal (d·w > 65536) takes
    the broadcast-join probe path — output identical to the literal path
    and to the naive exact path."""
    from tamer_spark.operators.cms import cms_heavy_hitters

    toks = _tokens(spark)
    got = {
        (r.token, r.n)
        for r in cms_heavy_hitters(
            toks, min_count=50, d=2, w=65536, seed=SEED
        ).collect()
    }
    assert got == _hh_exact(toks, 50)


def test_heavy_hitters_empty_and_validation(spark):
    from tamer_spark.operators.cms import cms_heavy_hitters
    import pytest as _pytest

    empty = spark.createDataFrame([], "word string")
    assert cms_heavy_hitters(empty, min_count=1, d=2, w=8, seed=SEED).collect() == []
    df = spark.createDataFrame([("x",)], "word string")
    with _pytest.raises(ValueError):
        cms_heavy_hitters(df)  # neither threshold
    with _pytest.raises(ValueError):
        cms_heavy_hitters(df, min_count=1, freq_k=2)  # both
    with _pytest.raises(ValueError):
        cms_heavy_hitters(df, min_count=0)
    with _pytest.raises(ValueError):
        cms_heavy_hitters(df, freq_k=0)


def test_heavy_hitters_d1_and_prebuilt_cells(spark):
    """d=1 is a valid (loose) depth — F.least needs two columns, the
    single-row path must not crash; and a prebuilt cells list must give
    the identical result without a second build scan (review fix, r12)."""
    from tamer_spark.operators.cms import cms_build, cms_heavy_hitters

    rows = [("x",)] * 30 + [("y",)] * 3
    df = spark.createDataFrame(rows, "word string")
    assert {(r.token, r.n) for r in
            cms_heavy_hitters(df, min_count=10, d=1, w=64, seed=SEED).collect()} == {("x", 30)}
    cells = cms_build(df, d=D, w=W, seed=SEED).collect()
    via_cells = {(r.token, r.n) for r in
                 cms_heavy_hitters(df, min_count=10, d=D, w=W, seed=SEED, cells=cells).collect()}
    assert via_cells == {("x", 30)}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cms_heavy_hitters(df, min_count=1, d=0)


def test_windowed_cells_stream_equals_batch_and_null_drop(spark, tmp_path):
    """cms_windowed_cells: the streaming drain must equal the same helper
    run on the batch frame (the sketch is a plain windowed agg), and NULL
    keys contribute nothing."""
    from datetime import datetime, timedelta

    from tamer_spark.operators.cms import cms_windowed_cells
    from tamer_spark.streaming import run_available_now_memory, stream_parquet

    t0 = datetime(2024, 1, 1)
    rows = [
        (t0 + timedelta(minutes=11 * i), (i % 5) if i % 7 else None)
        for i in range(60)
    ]
    schema = "ts timestamp, uid long"
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).write.parquet(src)

    batch_cells = {
        (r.w.start, r.r, r.b): r.cnt
        for r in cms_windowed_cells(
            spark.read.parquet(src), token_col="uid", d=3, w=16, seed=9
        ).collect()
    }
    sc = cms_windowed_cells(
        stream_parquet(spark, src, schema).withWatermark("ts", "10 days"),
        token_col="uid",
        d=3,
        w=16,
        seed=9,
    )
    stream_cells = {
        (r.w.start, r.r, r.b): r.cnt
        for r in run_available_now_memory(sc, "complete").collect()
    }
    assert stream_cells == batch_cells
    # NULL keys dropped: total per row r equals the count of non-NULL rows
    n_nonnull = sum(1 for _, u in rows if u is not None)
    for r in range(3):
        assert sum(c for (_, rr, _), c in batch_cells.items() if rr == r) == n_nonnull


def test_window_point_estimates_overcount_bound_and_exact_zero(spark, tmp_path):
    """Per-window estimates: est >= true for present keys in EVERY window
    (the CMS bound, per window), and a never-present probe reads an exact
    0 in every window unless a collision inflates it (w sized so the tiny
    key space cannot collide here)."""
    from datetime import datetime, timedelta

    from tamer_spark.operators.cms import cms_window_point_estimates, cms_windowed_cells

    t0 = datetime(2024, 1, 1)
    rows = [(t0 + timedelta(minutes=13 * i), i % 4) for i in range(80)]
    df = spark.createDataFrame(rows, "ts timestamp, uid long")
    cells = cms_windowed_cells(df, token_col="uid", d=4, w=512, seed=5)
    probes = spark.createDataFrame([(0,), (3,), (-1,)], "token long")
    est = {
        (r.w.start, r.token): r.est
        for r in cms_window_point_estimates(
            cells, probes, token_col="token", d=4, w=512, seed=5
        ).collect()
    }
    truth: dict[tuple, int] = {}
    for ts, uid in rows:
        wstart = ts.replace(minute=0, second=0, microsecond=0)
        truth[(wstart, uid)] = truth.get((wstart, uid), 0) + 1
    windows = {w for (w, _) in truth}
    assert len(est) == len(windows) * 3
    for (w, u), e in est.items():
        t = truth.get((w, u), 0)
        assert e >= t
        if u == -1:
            assert e == 0  # absent probe, collision-free at w=512
