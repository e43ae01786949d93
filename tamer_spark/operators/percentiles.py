"""Exact distributed percentiles (percentile_disc semantics) — the
precise counterpart to Spark's approx_percentile sketch.

``percentile_disc(p)`` returns the FIRST value whose cumulative rank
reaches ceil(p·n) — an actual element of the group, no interpolation —
so the result is deterministic even under duplicate values (the value at
a rank is unique however ties are ordered) and needs no float arithmetic:
percentiles are passed as RATIONALS (num, den) and the target rank is
``(num·n + den − 1) div den``, all int64. That makes the gate bit-exact
cross-engine, unlike interpolating forms whose ``p·(n−1)`` index
arithmetic hinges on float rounding.

Scale shape: ONE shuffle on the group keys — row_number and the group
count ride the same window exchange; each requested percentile is a
filter over the ranked frame (no second sort, no collect). The known
limit is the per-group sort itself: a single giant group serializes into
one task's sort — for grouped percentiles that group is the parallel
unit by definition; for GLOBAL percentiles over a 100 TB column use
``global_percentile_bucketed`` below — the two-pass range-bucket refine
that never sorts more than the target buckets (or Spark's built-in
approx_percentile when a t-digest-class estimate suffices).

No analog in the reference engine; training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tamer_spark.functions.litfast import empty_frame


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    ps: list[tuple[int, int]],
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Exact discrete percentiles of ``value_col`` per ``keys`` group.

    ``ps``: rational percentiles as (num, den), e.g. (1, 2) = median,
    (9, 10) = p90. Returns (keys..., p string "num/den", value), one row
    per group per percentile.

    NULL values are excluded from both n and the ranking — the SQL
    percentile rule. Without the filter Spark's NULLS-FIRST sort order
    would let a NULL occupy rank 1 and a low percentile silently return
    NULL (caught by winsorize's NULL-group fixture, r12).
    """
    _check_ps(ps)
    wrank = Window.partitionBy(*keys).orderBy(value_col)
    wall = Window.partitionBy(*keys)
    ranked = (
        df.select(*keys, value_col)
        .filter(F.col(value_col).isNotNull())
        .withColumn("_rn", F.row_number().over(wrank))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
    )
    out = None
    for num, den in ps:
        sel = ranked.filter(
            F.col("_rn") == F.expr(f"({num} * _n + {den} - 1) div {den}")
        ).select(
            *keys,
            F.lit(f"{num}/{den}").alias("p"),
            F.col(value_col).alias("value"),
        )
        out = sel if out is None else out.unionByName(sel)
    return out


def _check_ps(ps: list[tuple[int, int]]) -> None:
    if not ps:
        raise ValueError("ps must be non-empty")
    for num, den in ps:
        if not 0 < num <= den:
            raise ValueError(f"percentile {num}/{den} outside (0, 1]")


def global_percentile_bucketed(
    df: DataFrame,
    value_col: str,
    ps: list[tuple[int, int]],
    n_buckets: int = 1024,
) -> DataFrame:
    """Exact GLOBAL percentile_disc over an integral column in two bounded
    passes — the scale path ``exact_percentiles``'s own docstring defers to
    (a global window serializes the entire 100 TB column into ONE task's
    sort; this never sorts more than the target buckets).

    Pass 1 — histogram: equi-width integer buckets over [min, max]
    (``width = (max−min) div B + 1`` so the id stays in [0, B) and a
    constant column degenerates to one bucket, not a division by zero);
    the groupBy partial-aggregates to ≤ B rows per partition before the
    one bounded exchange — the CMS fixed-size-shuffle property. The
    collected histogram (≤ B rows) and the count/min/max scalars are
    model-parameter-sized driver state (the bounded-collect convention);
    prefix sums over B rows locate each target rank's bucket and its
    in-bucket offset.

    Pass 2 — refine: re-scan filtered to ONLY the target buckets (≤ |ps|
    of them), rank within bucket, keep the offset rows. The window
    partition is a single bucket ≈ n/B rows under any non-degenerate
    distribution — the parallel unit is the bucket, never the corpus. A
    pathological bucket (one value holding ≥ n/B duplicates) bounds at
    that value's multiplicity; ties make the ranked VALUE unique whatever
    order ties land in, so determinism survives. For adversarial skew,
    recurse: re-bucket the one hot bucket (not implemented — at one level
    the refine already reads ≤ |ps|·(n/B + max-multiplicity) rows).

    Rank convention: ``percentile_disc`` — target rank ``ceil(p·n)`` as
    ``(num·n + den − 1) div den`` in pure int64 (rationals in, actual data
    values out; identical to ``exact_percentiles``, cross-engine
    bit-exact). NULLs are excluded from n and the ranking, the SQL
    percentile rule. Requires an integral column (cast prices to cents —
    the repo convention); float bucketing would put the bucket boundary
    arithmetic at the mercy of rounding.

    Returns (p string, value, rank, n) — rank and n emitted so the gate
    pins the rank arithmetic, not just the landed value.

    Epoch posture: the pass-1 histogram is MERGEABLE (cell-wise sum, the
    cms_merge linearity) given a FROZEN (min, width) — persist one per
    epoch and re-refine against the union only when a query lands.

    No analog in the reference engine; training-data extension surface.
    """
    _check_ps(ps)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    dtype = dict(df.dtypes)[value_col]
    if dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"{value_col} must be integral (got {dtype}); cast to cents/int64 first"
        )
    spark = df.sparkSession
    out_schema = "p string, value long, rank long, n long"

    vals = df.select(F.col(value_col).cast("long").alias("v")).filter(
        F.col("v").isNotNull()
    )
    stats = vals.agg(
        F.count(F.lit(1)).alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
    ).collect()[0]
    n, lo, hi = stats.n, stats.lo, stats.hi
    if n == 0:
        return empty_frame(spark, out_schema)
    if hi - lo >= 1 << 62:
        # (v - lo) must stay inside int64 on the Spark side; a range this
        # wide means the column is hash-like, not a metric — the caller
        # should bucket on a transformed value
        raise ValueError(f"value range [{lo}, {hi}] too wide for int64 bucketing")

    width = (hi - lo) // n_buckets + 1
    # int64 `div`, not `/`+floor: float division would put bucket ids at
    # the mercy of double rounding once values approach 2^53
    bucket = F.expr(f"(v - {lo}) div {width}").alias("bkt")
    hist = sorted(
        (r.bkt, r.cnt)
        for r in vals.select(bucket).groupBy("bkt").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )

    targets = []  # (bkt, in-bucket offset, "num/den", global rank)
    for num, den in ps:
        k = (num * n + den - 1) // den
        cum = 0
        for bkt, cnt in hist:
            if cum + cnt >= k:
                targets.append((bkt, k - cum, f"{num}/{den}", k))
                break
            cum += cnt

    wanted = sorted({b for b, *_ in targets})
    sub = vals.select("v", bucket).filter(F.col("bkt").isin(wanted))
    # _rn <= max(off) is implied by the target match (_rn == off) — stating
    # it as a filter right on the row_number lets the optimizer plan a
    # WindowGroupLimit (per-partition top-k) instead of ranking every row
    # of the target buckets (r15, guide §2.3 shuffle/sort fewer rows)
    max_off = max(t[1] for t in targets)
    ranked = sub.withColumn(
        "_rn", F.row_number().over(Window.partitionBy("bkt").orderBy("v"))
    ).filter(F.col("_rn") <= F.lit(max_off))
    if len(targets) <= 256:
        # literal target cells folded into the ranked stage (r15 — the
        # cms_heavy_hitters/grouped-grid literal-lookup pattern, guide §3.1:
        # the per-run createDataFrame + BroadcastExchange + join for ≤|ps|
        # rows replaced by a constant array probe). explode(filter(...))
        # preserves the join's multiplicity: a row matching SEVERAL targets
        # (two ps landing on one (bkt, off) cell at tiny n) emits one output
        # row per match, exactly like the join it replaces. p strings are
        # "num/den" from validated ints — no quoting hazard.
        structs = ",".join(
            f"named_struct('tb',{b}L,'toff',{o}L,'p','{p}','rank',{r}L)"
            for b, o, p, r in targets
        )
        return ranked.selectExpr(
            "v",
            f"explode(filter(array({structs}), t -> t.tb = bkt AND t.toff = _rn)) AS _t",
        ).selectExpr(
            "_t.p AS p", "v AS value", "_t.rank AS rank", f"CAST({n} AS BIGINT) AS n"
        )
    tgt_df = F.broadcast(
        spark.createDataFrame(targets, "bkt long, off long, p string, rank long")
    )
    return (
        ranked.join(tgt_df, (ranked.bkt == tgt_df.bkt) & (ranked._rn == tgt_df.off))
        .select(
            "p",
            F.col("v").alias("value"),
            "rank",
            F.lit(n).cast("long").alias("n"),
        )
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    keys: tuple[str, ...] = (),
    p_lo: tuple[int, int] = (1, 20),
    p_hi: tuple[int, int] = (19, 20),
) -> DataFrame:
    """Quantile clamping (winsorization) of ``value_col`` per ``keys``
    group — the standard outlier-taming step before a quality score or a
    length feature feeds a filter threshold (a handful of 10 MB documents
    must not drag a source's mean length; Dixon 1960 winsorized-mean
    lineage).

    Bounds are EXACT discrete percentiles (``exact_percentiles`` — actual
    data values, rational targets, int64 rank arithmetic), so the clamped
    output is bit-reproducible cross-engine; interpolating bounds would
    put every clamped row at the mercy of float rounding.

    Scale shape: one window exchange for the per-group percentile ranks
    (the group is the parallel unit), the two bounds pivot to ONE row per
    group (min-when fold — no second exchange), and that bounds table
    (rows = #groups) broadcasts back onto the data: the clamp itself is
    map-side. For a GLOBAL clamp over a 100 TB column compute the bounds
    with ``global_percentile_bucketed`` instead and clamp with literals.

    Returns the input columns plus (value_winsor, w_lo, w_hi). Row-
    preserving: NULL values pass through unclamped (NULL in, NULL out —
    the SQL aggregate rule), and rows whose group has NO bounds (a NULL
    group key, or a group whose values are all NULL) also pass through —
    a LEFT join on null-safe keys, because an inner equi-join would
    silently DROP those documents (the merge-all/drop-all mixture
    distortion the cap_per_group singleton rule exists to prevent).
    """
    _check_ps([p_lo, p_hi])
    if p_lo[0] * p_hi[1] > p_hi[0] * p_lo[1]:
        raise ValueError(f"p_lo {p_lo} above p_hi {p_hi}")
    lo_tag, hi_tag = f"{p_lo[0]}/{p_lo[1]}", f"{p_hi[0]}/{p_hi[1]}"
    pct = exact_percentiles(df, value_col, [p_lo, p_hi], keys=keys)
    bounds = pct.groupBy(*keys).agg(
        F.min(F.when(F.col("p") == lo_tag, F.col("value"))).alias("w_lo"),
        F.min(F.when(F.col("p") == hi_tag, F.col("value"))).alias("w_hi"),
    )
    if keys:
        # bounds derives FROM df, so df[k]/bounds[k] share attribute ids
        # (self-join lineage) and drop-by-Column can remove the wrong side
        # — rename the bounds keys before joining instead
        renamed = bounds.select(
            *[F.col(k).alias(f"_bk_{k}") for k in keys], "w_lo", "w_hi"
        )
        cond = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.col(f"_bk_{k}"))
            cond = c if cond is None else cond & c
        joined = df.join(F.broadcast(renamed), cond, "left").drop(
            *[f"_bk_{k}" for k in keys]
        )
    else:
        joined = df.crossJoin(F.broadcast(bounds))
    # explicit NULL passthrough: Spark's greatest/least SKIP NULL operands
    # (a NULL value would silently clamp to w_lo), unlike `||`-style
    # propagation — the same class of trap as the seeded_shuffle concat_ws
    # rule. NULL bounds (boundless group) fall out of the same rule:
    # greatest(v, NULL) = least(v, NULL) = v, i.e. passthrough.
    clamped = F.when(
        F.col(value_col).isNotNull(),
        F.least(F.greatest(F.col(value_col), F.col("w_lo")), F.col("w_hi")),
    )
    return joined.withColumn("value_winsor", clamped)


def grouped_percentile_bucketed(
    df: DataFrame,
    value_col: str,
    keys: tuple[str, ...],
    ps: list[tuple[int, int]],
    n_buckets: int = 1024,
    max_groups: int = 10_000,
) -> DataFrame:
    """Exact per-GROUP percentile_disc without per-group sorts — the
    mega-group companion to ``exact_percentiles`` (whose window serializes
    each group through one task's sort: fine for order priorities, wrong
    when one language holds 60 % of a 100 TB corpus).

    Same two-pass shape as ``global_percentile_bucketed``, vectorized over
    groups: pass 1 computes per-group (n, min, max) and per-(group, bucket)
    counts in two partial-aggregable exchanges — each group gets its OWN
    equi-width grid, so a narrow group keeps full resolution next to a
    wide one; the driver locates every (group, percentile) target bucket +
    in-bucket offset from ≤ groups·n_buckets collected rows; pass 2 ranks
    ONLY the target (group, bucket) cells — the window partition is one
    bucket of one group ≈ n_g/B rows.

    CONTRACT: ``keys`` must be LOW-CARDINALITY (languages, sources,
    priorities — model-parameter-sized, the centroid/codebook convention);
    the ``max_groups`` guard raises rather than silently collecting an
    unbounded key space. For high-cardinality keys use exact_percentiles —
    there the group IS the parallel unit and the window is correct.

    Rank convention, NULL rule, and integral-column requirement are
    identical to global_percentile_bucketed. Returns
    (keys..., p string, value, rank, n).
    """
    if not keys:
        raise ValueError("keys must be non-empty; use global_percentile_bucketed")
    reserved = {"v", "bkt", "off", "p", "rank", "n", "_lo", "_width", "_n", "_rn"}
    bad = reserved.intersection(keys)
    if bad:
        raise ValueError(f"key names {sorted(bad)} collide with internal columns; rename first")
    _check_ps(ps)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    dtype = dict(df.dtypes)[value_col]
    if dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"{value_col} must be integral (got {dtype}); cast to cents/int64 first"
        )
    spark = df.sparkSession
    key_list = list(keys)
    out_schema_keys = ", ".join(f"`{k}` string" for k in key_list)

    vals = df.select(
        *[F.col(k).cast("string").alias(k) for k in key_list],
        F.col(value_col).cast("long").alias("v"),
    ).filter(F.col("v").isNotNull())
    # limit BEFORE collect: the guard must bound the driver transfer
    # itself, not fire after an unbounded collect already happened
    stats = (
        vals.groupBy(*key_list)
        .agg(F.count(F.lit(1)).alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi"))
        .limit(max_groups + 1)
        .collect()
    )
    if len(stats) > max_groups:
        raise ValueError(
            f"more than max_groups={max_groups} groups; "
            "grouped_percentile_bucketed is for low-cardinality keys"
        )
    for r in stats:
        if r.hi - r.lo >= 1 << 62:
            raise ValueError(
                f"group {tuple(r[k] for k in key_list)} value range too wide for int64 bucketing"
            )
    if not stats:
        return empty_frame(spark, f"{out_schema_keys}, p string, value long, rank long, n long")
    # per-group grid (lo, width): the collected stats are model-parameter-
    # sized (≤ max_groups rows), so in the common shape — ONE key column,
    # no NULL group key, a plan-literal-sized group count — the grid is
    # inlined as two foldable literal MAPS and the bucket id is map-side
    # arithmetic in the same stage as the scan (r14, the cms_heavy_hitters
    # literal-lookup pattern: same cells, minus one BroadcastExchange +
    # join per pass over the data — interleaved A/B at sf0.1, median
    # 2.34 → 1.29 s, rows identical). Multi-key grids, NULL group keys
    # (element_at(map, NULL) is NULL, which would silently DROP the NULL
    # group the eqNullSafe join preserves), and oversized group counts
    # fall back to the broadcast-join path below.
    grid_schema_keys = ", ".join(f"`_gk_{k}` string" for k in key_list)
    use_lit = (
        len(key_list) == 1
        and len(stats) <= 4096
        and all(r[key_list[0]] is not None for r in stats)
    )
    if use_lit:
        k0 = key_list[0]
        lo_map = F.create_map(
            *[x for r in stats for x in (F.lit(r[k0]), F.lit(r.lo))]
        )
        w_map = F.create_map(
            *[
                x
                for r in stats
                for x in (F.lit(r[k0]), F.lit((r.hi - r.lo) // n_buckets + 1))
            ]
        )
        bucketed = (
            vals.withColumn("_lo", F.element_at(lo_map, F.col(k0)))
            .withColumn("_width", F.element_at(w_map, F.col(k0)))
            .select(*key_list, "v", F.expr("(v - _lo) div _width").alias("bkt"))
        )
    else:
        grid_rows = [
            tuple(r[k] for k in key_list) + (r.lo, (r.hi - r.lo) // n_buckets + 1, r.n)
            for r in stats
        ]
        grid = F.broadcast(
            spark.createDataFrame(
                grid_rows, f"{grid_schema_keys}, _lo long, _width long, _n long"
            )
        )
        # eqNullSafe keys: a NULL group key is a real group (the
        # exact_percentiles semantics this function claims to mirror); a plain
        # equi-join would silently drop it — the winsorize inner-join trap
        gcond = None
        for k in key_list:
            c = vals[k].eqNullSafe(grid[f"_gk_{k}"])
            gcond = c if gcond is None else gcond & c
        bucketed = vals.join(grid, gcond).select(
            *[vals[k] for k in key_list], "v", F.expr("(v - _lo) div _width").alias("bkt")
        )
    hist = bucketed.groupBy(*key_list, "bkt").agg(F.count(F.lit(1)).alias("cnt")).collect()
    by_group: dict = {}
    for r in hist:
        by_group.setdefault(tuple(r[k] for k in key_list), []).append((r.bkt, r.cnt))
    n_by_group = {tuple(r[k] for k in key_list): r.n for r in stats}

    targets = []  # keys..., bkt, off, p, rank
    for g, cells in by_group.items():
        n = n_by_group[g]
        cells.sort()
        for num, den in ps:
            k = (num * n + den - 1) // den
            cum = 0
            for bkt, cnt in cells:
                if cum + cnt >= k:
                    targets.append(g + (bkt, k - cum, f"{num}/{den}", k, n))
                    break
                cum += cnt
    from functools import reduce as _reduce

    tgt = F.broadcast(
        spark.createDataFrame(
            targets,
            f"{grid_schema_keys}, bkt long, off long, p string, rank long, n long",
        )
    )
    if use_lit:
        # literal target-cell filter: key → sorted array of wanted buckets,
        # array_contains in the scan stage — replaces the left_semi join
        # (same rows: every group has ≥ 1 target, keys are non-NULL here)
        want: dict = {}
        for t in targets:
            want.setdefault(t[0], set()).add(t[len(key_list)])
        want_map = F.create_map(
            *[
                x
                for g in want
                for x in (F.lit(g), F.array(*[F.lit(b) for b in sorted(want[g])]))
            ]
        )
        sub = bucketed.filter(
            F.array_contains(F.element_at(want_map, F.col(key_list[0])), F.col("bkt"))
        )
    else:
        cells = tgt.select(*[f"_gk_{k}" for k in key_list], "bkt").distinct()
        semi_cond = _reduce(
            lambda a, b: a & b,
            [bucketed[k].eqNullSafe(cells[f"_gk_{k}"]) for k in key_list]
            + [bucketed.bkt == cells.bkt],
        )
        sub = bucketed.join(cells, semi_cond, "left_semi")
    # _rn <= max(off) is implied by the target match — a WindowGroupLimit
    # hint exactly like global_percentile_bucketed's (r15)
    max_off = max(t[len(key_list) + 1] for t in targets)
    ranked = sub.withColumn(
        "_rn", F.row_number().over(Window.partitionBy(*key_list, "bkt").orderBy("v"))
    ).filter(F.col("_rn") <= F.lit(max_off))
    # NOTE (r15): a literal-array target attach (the global form's
    # explode(filter(...)) probe) was A/B'd here and did NOT beat the
    # 15-row broadcast join (medians 1.84 vs 1.67 s interleaved at sf0.1)
    # — the per-target F.lit struct construction and per-row array probe
    # cost about what the tiny createDataFrame+broadcast costs. Join kept.
    cond = [ranked[k].eqNullSafe(tgt[f"_gk_{k}"]) for k in key_list] + [
        ranked.bkt == tgt.bkt,
        ranked._rn == tgt.off,
    ]
    return ranked.join(tgt, _reduce(lambda a, b: a & b, cond)).select(
        *[ranked[k] for k in key_list],
        "p",
        F.col("v").alias("value"),
        "rank",
        "n",
    )
