"""Epoch-to-epoch distribution drift — integer-exact total-variation
distance over categorical corpus slices (lang, source, domain, quality
bucket).

The monitoring question a steady-state ingest loop must answer: "did this
crawl snapshot's composition move?" A new epoch whose language or domain
mix shifted silently poisons downstream mix weights (the stratified_mix /
temperature targets assume the measured composition). TVD is the right
first-line statistic: ``TVD(P, Q) = ½ Σ_k |p_k − q_k|`` is symmetric,
bounded [0, 1], and decomposes into per-category contributions that name
WHICH slice moved — unlike KL it needs no smoothing for empty cells.

Integer-exactness: shares are floor-divided ppm (``c·10⁶ div N`` — int64-
safe to N ~ 10¹² rows, i.e. beyond 100 TB row counts), drift per category
is ``|share_a − share_b|``, and the total is ``Σ div 2``. Each share
floor-rounds independently (documented ≤ 1 ppm per-cell bias — the price
of cross-engine bit-equality, same trade as every ppm gate in the repo).

Scale shape: one partial-aggregable count per epoch (the raw corpora never
meet), a category-bounded full-outer join (langs/sources/domains — tiny;
absent-in-one-epoch categories surface with count 0 instead of silently
vanishing, which is exactly the drift you most need to see), totals as
1-row broadcast cross joins. Empty epochs yield NULL shares (guarded div),
never a crash — degenerate inputs are the r12-brief lesson.

No analog in the reference engine; training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "category_drift",
    "total_tvd_ppm",
    "value_histogram",
    "histogram_merge",
    "numeric_drift",
    "vocab_growth",
]


def category_drift(
    epoch_a: DataFrame, epoch_b: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """Per-category drift between two epochs: ``(keys..., n_a, n_b,
    share_a_ppm, share_b_ppm, drift_ppm)``, full-outer over the category
    sets (missing → 0 counts)."""
    key_list = list(keys)
    a = epoch_a.groupBy(*key_list).agg(F.count(F.lit(1)).alias("n_a"))
    b = epoch_b.groupBy(*key_list).agg(F.count(F.lit(1)).alias("n_b"))
    na = a.agg(F.sum("n_a").alias("_na"))
    nb = b.agg(F.sum("n_b").alias("_nb"))
    joined = (
        a.join(b, key_list, "full_outer")
        .select(
            *key_list,
            F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        )
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
    )
    share_a = F.when(F.col("_na") > 0, F.expr("n_a * 1000000 div _na"))
    share_b = F.when(F.col("_nb") > 0, F.expr("n_b * 1000000 div _nb"))
    return (
        joined.withColumn("share_a_ppm", share_a.cast("long"))
        .withColumn("share_b_ppm", share_b.cast("long"))
        .withColumn(
            "drift_ppm", F.abs(F.col("share_a_ppm") - F.col("share_b_ppm")).cast("long")
        )
        .drop("_na", "_nb")
    )


def total_tvd_ppm(per_category: DataFrame) -> DataFrame:
    """One row: ``(n_a, n_b, tvd_ppm)`` — Σ drift_ppm div 2 over the
    category frame (the ½ of the TVD definition; exact because every
    |share_a − share_b| is already an integer). Takes the category frame
    only — the total is global by definition (a per-key grouped total
    would just repeat drift_ppm)."""
    return per_category.agg(
        F.sum("n_a").cast("long").alias("n_a"),
        F.sum("n_b").cast("long").alias("n_b"),
        F.expr("sum(drift_ppm) div 2").cast("long").alias("tvd_ppm"),
    )


def _bucket_expr(lo: int, width: int, n_buckets: int):
    """Shared frozen-grid clamp — ONE copy feeds value_histogram and
    numeric_drift so the clamp/NULL conventions cannot drift between
    them. Operates on a column already aliased ``v`` and pre-filtered
    non-NULL (greatest(NULL, 0) = 0 in Spark would file NULLs under
    bucket 0 — callers filter FIRST)."""
    if n_buckets < 1 or width < 1:
        raise ValueError(f"need n_buckets >= 1 and width >= 1, got {n_buckets}, {width}")
    return F.least(
        F.greatest(F.expr(f"(v - {lo}) div {width}"), F.lit(0).cast("long")),
        F.lit(n_buckets - 1).cast("long"),
    )


def value_histogram(
    df: DataFrame, value_col: str, lo: int, width: int, n_buckets: int = 64
) -> DataFrame:
    """Fixed-grid int64 histogram ``(bucket, cnt)`` under a FROZEN
    (lo, width, n_buckets) grid — the monitoring/drift primitive and the
    gpctl pass-1 shape: the groupBy partial-aggregates to ≤ n_buckets rows
    per partition before the one bounded exchange (the CMS property), and
    histograms are MERGEABLE (cell-wise sum — ``histogram_merge``), so the
    epoch fold is O(buckets), never a re-scan of history.

    Out-of-range values CLAMP to the edge buckets (a frozen grid must
    absorb later epochs that drift past the first epoch's range — dropping
    them would hide exactly the drift being measured; the clamp is the
    sq_encode frozen-bounds rule). NULLs are dropped (no value, no bucket).
    Zero-count buckets are omitted (sparse); readers treat absence as 0.
    """
    return (
        df.select(F.col(value_col).cast("long").alias("v"))
        .filter(F.col("v").isNotNull())
        .select(_bucket_expr(lo, width, n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_merge(*hists: DataFrame) -> DataFrame:
    """Cell-wise sum of histograms built on an IDENTICAL frozen grid — the
    CMS sketch linearity; output stays ≤ n_buckets rows."""
    if not hists:
        raise ValueError("histogram_merge needs at least one histogram")
    from functools import reduce

    return (
        reduce(DataFrame.unionByName, hists)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def numeric_drift(
    epoch_a: DataFrame,
    epoch_b: DataFrame,
    value_col: str,
    lo: int,
    width: int,
    n_buckets: int = 64,
) -> DataFrame:
    """Numeric-column drift between epochs — the second drift leg
    (category_drift = categorical slices, this = lengths/scores/prices):
    bucket both epochs on the SAME frozen grid, then reuse category_drift's
    exact ppm-share arithmetic over the bucket ids. Returns the per-bucket
    frame (bucket, n_a, n_b, share_a_ppm, share_b_ppm, drift_ppm); feed it to
    ``total_tvd_ppm`` for the one-row verdict. A length distribution that
    moves (new source, new cleaning stage) shows up as mass shifting
    between buckets even when the mean barely moves.

    Scale shape: two bounded histogram exchanges (the corpora never
    meet) + a ≤ n_buckets-row full-outer join — everything after the
    partial aggs is bucket-count-sized.
    """
    # NULLs filtered BEFORE the clamp (see _bucket_expr — the shared
    # helper also carries the width/n_buckets validation, so a width=0
    # grid raises instead of silently clamping both epochs to bucket 0
    # and reporting zero drift)
    bucket = lambda df: (  # noqa: E731
        df.select(F.col(value_col).cast("long").alias("v"))
        .filter(F.col("v").isNotNull())
        .select(_bucket_expr(lo, width, n_buckets).alias("bucket"))
    )
    return category_drift(bucket(epoch_a), bucket(epoch_b), ("bucket",))


def vocab_growth(
    docs: DataFrame,
    bucket_col: str,
    text_col: str = "text",
    n_window: int = 0,
) -> DataFrame:
    """Vocabulary-growth / OOV monitor — the fourth monitoring leg
    (Heaps' law planning curve): per ordered ingestion bucket (epoch
    number, crawl snapshot index), how many NEVER-SEEN-BEFORE terms
    arrived and what the cumulative vocabulary is. A bucket whose
    new-term count jumps signals a domain shift (new language, new
    source, encoding damage) before any quality score moves; the curve's
    flattening rate is the Heaps exponent capacity planners fit.

    ``bucket_col`` must be ordered by arrival (the caller owns the
    mapping — epoch number in the steady-state loop). Exact, integer-
    only: a term's debut bucket is ``min(bucket)`` (partial-aggregable),
    new-terms-per-bucket is a count over the vocabulary-sized debut
    table, and the cumulative sum runs over the ≤ #buckets-row result —
    the only window in the plan, bounded by the bucket count, never by
    data (``n_window`` pins the expectation: when > 0, raises if the
    bucket count exceeds it — the max_groups guard convention).

    Returns (bucket, n_occurrences, n_new_terms, cum_vocab) — buckets
    with occurrences but zero debuts surface with 0, not a missing row.

    Scale shape: one vocabulary-bounded min agg + one occurrence count
    per bucket (both partial-aggregable; the corpus shuffles its words
    once), then bucket-count-sized joins and window.
    """
    from pyspark.sql import Window

    from tamer_spark.operators.dedup import normalize_text

    # NULL buckets dropped outright: a debut "at NULL" is meaningless for
    # an ORDERED growth curve, and NULL ordering in the cumulative window
    # is the one place the engines disagree (Spark NULLS FIRST asc,
    # DuckDB NULLS LAST) — the same divergence class as the r11
    # concat_ws/|| finding, killed at the source
    toks = (
        docs.filter(F.col(bucket_col).isNotNull())
        .select(
            F.col(bucket_col).alias("bucket"),
            F.explode_outer(F.split(normalize_text(F.col(text_col)), " ")).alias("word"),
        )
        .filter(F.length("word") > 0)
    )
    debut = toks.groupBy("word").agg(F.min("bucket").alias("fb"))
    newt = debut.groupBy(F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_new_terms")
    )
    occ = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_occurrences"))
    out = occ.join(newt, "bucket", "left").withColumn(
        "n_new_terms", F.coalesce(F.col("n_new_terms"), F.lit(0))
    )
    cached = None
    if n_window:
        # The guard must run the corpus-scale tokenize/agg pipeline to
        # learn the bucket count — persist the bucket-sized frame so the
        # guard's execution and the returned plan share it (r12 ADVICE:
        # a bare count here doubled the corpus work and made plan
        # construction side-effectful). Lifetime tied to the result via
        # the repo's _release_on_gc convention.
        from tamer_spark.operators.dedup import _release_on_gc

        cached = out.persist()
        n = cached.count()
        if n > n_window:
            cached.unpersist()
            raise ValueError(
                f"vocab_growth: {n} buckets exceeds n_window={n_window}; "
                "the cumulative window is meant for a bounded epoch count"
            )
        out = cached
    cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    result = out.select(
        "bucket",
        "n_occurrences",
        "n_new_terms",
        F.sum("n_new_terms").over(cum).alias("cum_vocab"),
    )
    return result if cached is None else _release_on_gc(result, cached)
