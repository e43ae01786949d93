"""Count-Min Sketch term frequencies (Cormode & Muthukrishnan 2005, public
literature) — approximate counts with a FIXED-SIZE shuffle.

The exact term-count path (term_stats_docs 'ngram') shuffles one partial
count per distinct term per partition — fine while the vocabulary is small,
but a 100 TB web corpus has an effectively unbounded vocabulary (typo-space,
URLs, code identifiers), and the shuffle grows with it. The CMS collapses
the stream into a ``d × w`` counter table: the shuffle carries at most
``partitions × d·w`` rows NO MATTER the vocabulary, and the finished sketch
(d·w int64s — a few KB) broadcasts anywhere.

Guarantees (classical): ``est ≥ true`` always (counters only overcount on
collisions), and ``est ≤ true + ε·N`` with probability ``1 − δ`` for
``w = ⌈e/ε⌉, d = ⌈ln(1/δ)⌉`` where N is the stream length.

Determinism: row ``r``'s hash is ``stable_hash64('cms-{seed}-{r}-' ‖ token)
% w`` — the repo's md5-prefix convention, bit-identical in any engine, so
estimates are exactly reproducible and the DuckDB oracle replays the whole
sketch. Everything is int64 counts; no floats anywhere.

Epoch posture: sketches are mergeable — the cell-wise sum of per-epoch
sketches equals the sketch of the union exactly (both are the same per-cell
sums; pinned), so an epoch costs O(sketch) beyond its own batch.

No analog in the reference engine; training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tamer_spark.functions.hashing import stable_hash64

__all__ = [
    "cms_build",
    "cms_heavy_hitters",
    "cms_query",
    "cms_window_point_estimates",
    "cms_windowed_cells",
]


def _bucket(token, r: int, w: int, seed: int):
    return stable_hash64(F.concat(F.lit(f"cms-{seed}-{r}-"), token)) % F.lit(w)


def cms_build(
    tokens: DataFrame, token_col: str = "word", d: int = 4, w: int = 1024, seed: int = 42
) -> DataFrame:
    """One row per token OCCURRENCE in → sparse sketch ``(r, b, cnt)`` out
    (zero cells omitted; readers must treat absence as 0 — cms_query does).

    Each occurrence contributes to ``d`` cells; the explode is map-side and
    the groupBy partial-aggregates to ≤ d·w rows per partition before the
    one bounded shuffle — the fixed-size-shuffle property that is the whole
    point at 100 TB."""
    cells = tokens.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("r"),
                        _bucket(F.col(token_col), r, w, seed).alias("b"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("cell")
    ).select("cell.r", "cell.b")
    return cells.groupBy("r", "b").agg(F.count(F.lit(1)).alias("cnt"))


def cms_windowed_cells(
    df: DataFrame,
    token_col: str,
    d: int = 4,
    w: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Per-event-time-window CMS — the streaming form of ``cms_build``
    (frequency monitoring over keys with unbounded cardinality, where
    per-window COUNT-per-key state would grow without bound; the sketch
    bounds state at ``d·w`` counters per live window, the vhist_1h /
    dvu_1h monitoring posture).

    Streaming-compatible: the per-occurrence ``d``-cell explode is a
    stateless projection, and the groupBy(window, r, b) is a plain
    windowed aggregation — call on a ``withWatermark``-ed stream and
    drain; works identically on a batch frame (stream == batch pinned in
    tests). NULL tokens are dropped (no key to count). Returns
    ``(w, r, b, cnt)`` sparse cells — absent cell = 0, estimates are
    min-over-rows per window (``cms_window_point_estimates``), and cells
    are md5-deterministic so an oracle can replay the sketch exactly
    (unlike HLL, whose streaming variant needs a tolerance contract)."""
    cells = df.filter(F.col(token_col).isNotNull()).select(
        F.col("ts"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("r"),
                        _bucket(F.col(token_col).cast("string"), r, w, seed).alias("b"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("cell"),
    )
    return cells.groupBy(
        F.window("ts", "1 hour").alias("w"), "cell.r", "cell.b"
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_window_point_estimates(
    cells: DataFrame,
    probes: DataFrame,
    token_col: str = "token",
    d: int = 4,
    w: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Per-(window, probe) point estimates over ``cms_windowed_cells``
    output: est = min over the ``d`` rows with absent cells an exact 0
    (the cms_query rule, per window). Batch-side — run after the drain.

    Window list = the windows that actually hold cells (a window with
    zero counted tokens reports nothing, matching the sketch's own
    scope). windows × probes is a deliberate tiny cross join (bounded by
    time range × probe list, never data volume)."""
    pcells = probes.select(
        token_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("r"),
                        _bucket(F.col(token_col).cast("string"), r, w, seed).alias("b"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("cell"),
    ).select(token_col, "cell.r", "cell.b")
    # the window list derives FROM cells and joins back AGAINST cells — a
    # self-join. Rename the probe side's join columns outright: subquery
    # aliases are not enough here because a DRAINED streaming table's
    # window attribute carries watermark metadata that trips the
    # self-join condition resolver (observed on the memory-sink view).
    c2 = cells.select(
        F.col("w").alias("_cw"),
        F.col("r").alias("_cr"),
        F.col("b").alias("_cb"),
        F.col("cnt").alias("_cnt"),
    )
    win = cells.select("w").distinct()
    grid = win.crossJoin(F.broadcast(pcells))
    return (
        grid.join(
            c2,
            (F.col("w") == F.col("_cw"))
            & (F.col("r") == F.col("_cr"))
            & (F.col("b") == F.col("_cb")),
            "left",
        )
        .groupBy("w", token_col)
        .agg(F.min(F.coalesce(F.col("_cnt"), F.lit(0))).alias("est"))
    )


def cms_query(
    sketch: DataFrame,
    probes: DataFrame,
    token_col: str = "word",
    d: int = 4,
    w: int = 1024,
    seed: int = 42,
) -> DataFrame:
    """Point queries: ``(token, est)`` where ``est = min_r cnt[r][h_r(token)]``.

    The sketch (≤ d·w rows) broadcasts onto the probe set; a missing sparse
    cell is an exact 0 (LEFT join + coalesce — dropping it would turn the
    min into a min-over-present-rows and silently overestimate absent
    tokens). (d, w, seed) must match the build — the sketch cannot verify
    that itself, which is why the gate derives both sides from the same
    constants."""
    pr = probes.select(F.col(token_col).alias("token")).distinct()
    cells = pr.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("r"),
                        _bucket(F.col("token"), r, w, seed).alias("b"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("cell"),
    ).select("token", "cell.r", "cell.b")
    joined = cells.join(F.broadcast(sketch), ["r", "b"], "left").select(
        "token", F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cell_cnt")
    )
    return joined.groupBy("token").agg(F.min("cell_cnt").alias("est"))


def cms_heavy_hitters(
    tokens: DataFrame,
    token_col: str = "word",
    min_count: int | None = None,
    freq_k: int | None = None,
    d: int = 4,
    w: int = 1024,
    seed: int = 42,
    cells: list | None = None,
) -> DataFrame:
    """EXACT heavy hitters over an unbounded vocabulary with a BOUNDED
    shuffle: CMS prefilter pass + exact verify pass (the sketch-prefilter /
    exact-verify pattern the bloom incremental dedup uses, applied to
    counting; Cormode & Muthukrishnan 2005 §4 heavy-hitters application).

    The naive exact path (groupBy(token).count + HAVING) shuffles one
    partial count per distinct token per partition — at 100 TB the typo/
    URL/identifier tail makes that shuffle corpus-sized. Here pass 1 builds
    the fixed-size sketch (shuffle ≤ partitions × d·w rows), pass 2
    re-scans the stream, estimates each occurrence's frequency MAP-SIDE
    against the broadcast sketch, and only occurrences whose estimate
    clears the threshold enter the exact groupBy — the exchange carries
    only candidate-token occurrences. Because ``est ≥ true`` always (CMS
    never underestimates), no truly-heavy token is pruned: the final exact
    count + threshold filter makes the output EXACTLY the set
    ``{token : true_count ≥ threshold}`` — identical to the naive path,
    independent of (d, w, seed), which only tune how many FALSE candidates
    pay for the exact recount. Cost: two scans of the stream instead of
    one — the honest trade for the bounded exchange (a one-pass summary
    with exact output does not exist; Misra–Gries is one-pass but
    order-dependent, so not deterministically replayable cross-engine).

    Threshold forms (exactly one):
      * ``min_count``: absolute occurrence floor.
      * ``freq_k``: relative — keep tokens with ``count · freq_k ≥ N``
        (frequency ≥ 1/freq_k of the stream). N comes FREE from the
        sketch: every occurrence increments each of the d rows once, so
        row 0's cell sum IS the stream length — no extra pass, and the
        multiply-form comparison avoids any div-rounding mismatch.

    ``cells``: optionally the COLLECTED rows of a prebuilt sketch (the
    exact list ``cms_build(..., same d/w/seed).collect()`` returns) — a
    caller that already materialized the sketch for point queries (the
    term_stats gate) passes it through so the token stream is scanned
    twice total, not three times. No shape verification is possible from
    the cells alone; the contract is the caller's (d, w, seed) match,
    same as cms_query.

    The collected sketch is model-parameter-sized (≤ d·w int64 cells, a
    few KB at the defaults) — the repo's bounded-collect convention; while
    ``d·w`` stays plan-literal-sized (≤ 65536 cells) it is inlined as d
    dense constant-folded lookup arrays so the pass-2 estimate is map-side
    arithmetic in the same codegen stage as the bucket hashes (r14 — was d
    broadcast-join probes, which the degenerate-sketch fallback still
    uses). NULL tokens are dropped in both passes (they cannot be hashed;
    mirror any NULL filter in the oracle).

    Returns (token, n) with n the EXACT count, only rows meeting the
    threshold. Deterministic: plain SQL ``GROUP BY token HAVING`` oracle.
    """
    if (min_count is None) == (freq_k is None):
        raise ValueError("pass exactly one of min_count / freq_k")
    if min_count is not None and min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if freq_k is not None and freq_k < 1:
        raise ValueError(f"freq_k must be >= 1, got {freq_k}")
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")

    toks = tokens.select(F.col(token_col).alias("token")).filter(
        F.col("token").isNotNull()
    )
    spark = tokens.sparkSession
    if cells is None:
        # Bounded model state: ≤ d·w sparse cells (the centroid/codebook/
        # bloom convention). One build scan; the d join sides are local.
        cells = cms_build(toks, token_col="token", d=d, w=w, seed=seed).collect()
    n_stream = sum(r.cnt for r in cells if r.r == 0)

    if freq_k is not None:
        # est·K ≥ N keeps every token with true·K ≥ N (est ≥ true).
        occ_keep = lambda est: est * F.lit(freq_k) >= F.lit(n_stream)  # noqa: E731
        exact_keep = lambda n: n * F.lit(freq_k) >= F.lit(n_stream)  # noqa: E731
    else:
        occ_keep = lambda est: est >= F.lit(min_count)  # noqa: E731
        exact_keep = lambda n: n >= F.lit(min_count)  # noqa: E731

    if d * w <= 65536:
        # r14 (guide §2.4/§3.1): the sketch is model-parameter-sized, so
        # inline it as d dense literal arrays (arr_r[b] = cnt, absent = 0 —
        # exactly the former LEFT-join + coalesce semantics) and make the
        # per-occurrence estimate pure map-side arithmetic in the SAME
        # codegen stage that computes the bucket hashes. This removes the d
        # BroadcastExchange + d ExistingRDD-scan probe joins the before-plan
        # carried (plans/r14/heavy_hitters_docs_before.txt ops (5)-(23));
        # est values are identical cell-by-cell, and est only routes
        # candidates — the exact recount + threshold fix the output either
        # way. The bound keeps degenerate (huge d·w) sketches off the plan-
        # literal path; they fall back to the join probes below.
        dense: list[list[int]] = [[0] * w for _ in range(d)]
        for c in cells:
            dense[c.r][c.b] = c.cnt
        from tamer_spark.functions.litfast import sql_longs

        est_cells = [
            F.element_at(
                F.expr(sql_longs(dense[r])),
                (_bucket(F.col("token"), r, w, seed) + 1).cast("int"),
            )
            for r in range(d)
        ]
        est = F.least(*est_cells) if d > 1 else est_cells[0]
        cand = toks.filter(occ_keep(est)).select("token")
    else:
        occ = toks.select(
            "token",
            *[_bucket(F.col("token"), r, w, seed).alias(f"_b{r}") for r in range(d)],
        )
        for r in range(d):
            side = spark.createDataFrame(
                [(c.b, c.cnt) for c in cells if c.r == r], schema=f"_b{r} long, _c{r} long"
            )
            occ = occ.join(F.broadcast(side), f"_b{r}", "left")
        est_cells = [F.coalesce(F.col(f"_c{r}"), F.lit(0).cast("long")) for r in range(d)]
        # F.least needs >= 2 columns; d=1 is a valid (if loose) CMS depth
        est = F.least(*est_cells) if d > 1 else est_cells[0]
        cand = occ.filter(occ_keep(est)).select("token")
    return (
        cand.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(exact_keep(F.col("n")))
    )
