"""Skew-aware join: salting for pathological key distributions — plus the
profiler that tells you WHEN to reach for it.

AQE's skew-join split handles most cases at runtime; salting is the
explicit tool when one key dominates so badly that even split partitions
overwhelm an executor (the classic null-key / megauser problem at 100 TB).
Measured (scripts/skew_ab.py, 20M rows, SCALING.md r11): AQE's split
matches or beats salting at every local skew level up to a key owning
80 % of the table — reach for ``salted_join`` only where AQE can't act
(non-join key skew, joins inside cached boundaries, build-side rows of
one key exceeding a task even after splits). When you do, cap the salt at
~2× the shuffle-partition count: ``suggested_salt`` levels the hot key to
the MEAN key load, which on a megauser can exceed the cluster's
parallelism by orders of magnitude while each extra unit replicates the
whole small side once for nothing.

``salted_join``: the skewed (large) side gets a deterministic salt derived
from a row fingerprint; the small side is replicated ``salt``× (one copy per
salt value). The join key becomes (key, salt) → the hot key's rows spread
over ``salt`` partitions. For every *large-side-preserving* join mode
(inner/left/left_semi/left_anti) the result is identical to the plain
join; only the physical distribution changes. Small-side-preserving modes
(right/full) are REJECTED: an unmatched small-side row survives once per
salt replica, i.e. ``salt``× duplicated output — see ``salted_join``'s
validation.

``heavy_hitters`` / ``skew_summary``: the measurement step a 100 TB
pipeline runs BEFORE committing to a join/groupBy strategy on a fact
table — exact top-k hot keys and a one-row skew report whose
``suggested_salt`` is the ceil of hottest-key-count over mean-key-count,
i.e. exactly the ``salt`` that spreads the hot key's rows down to an
average partition's load. One count shuffle with map-side combine; the
top-k is a TakeOrdered (never a global sort); the summary is a 1-row agg.
All arithmetic is integer/decimal-exact so a SQL oracle reproduces it
bit-for-bit (the skew ratio is reported in ppm as an int64, computed in
decimal(38,0) so 1e6·max·n_keys cannot overflow at any real scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Join modes where every output row is driven by a LARGE-side row (which
# carries exactly one salt value), so replicating the small side cannot
# duplicate output. Small-side-preserving modes (right/full) would emit each
# unmatched small-side row once per salt replica — salt× duplication.
_SAFE_JOIN_MODES = frozenset({"inner", "left", "leftsemi", "leftanti"})
_MODE_ALIASES = {"leftouter": "left", "semi": "leftsemi", "anti": "leftanti"}


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join with the large side salted and the small side replicated.

    ``how`` must be a large-side-preserving mode — ``inner``, ``left``,
    ``left_semi``, or ``left_anti`` (plus Spark's spelling aliases). For
    ``right``/``full`` the salting construction is WRONG, not just slow:
    an unmatched small-side row matches no (key, salt) pair and would be
    null-extended once per salt replica, duplicating it ``salt``×. Those
    modes raise ``ValueError`` — swap the operands (right ≡ left with
    sides flipped) or use a plain join with AQE skew handling.

    The md5 of a fingerprint of all large-side columns spreads the hot
    key's rows (deterministic, no rand()).
    """
    mode = how.lower().replace("_", "")
    mode = _MODE_ALIASES.get(mode, mode)
    if mode not in _SAFE_JOIN_MODES:
        raise ValueError(
            f"salted_join: join mode {how!r} is not large-side-preserving; "
            "replicating the small side would duplicate its unmatched rows "
            f"{salt}x (once per salt). Use one of inner/left/left_semi/"
            "left_anti, or swap the operands for a right join."
        )
    salt_by = F.concat_ws("\x00", *[F.col(c).cast("string") for c in large.columns])
    lg = large.withColumn(
        "_salt",
        F.pmod(F.conv(F.substring(F.md5(salt_by), 1, 15), 16, 10).cast("long"), F.lit(salt)),
    )
    sm = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(salt - 1).cast("long")))
    )
    out = lg.join(sm, [on, "_salt"], how)
    return out.drop("_salt")


def key_counts(df: DataFrame, key: str) -> DataFrame:
    """``(key, n)`` — one hash-agg shuffle with map-side partial counts.
    NULL keys count as a key of their own: at 100 TB the null bucket IS
    the classic hot key, so hiding it would defeat the profiler."""
    return df.groupBy(F.col(key).alias("key")).agg(F.count(F.lit(1)).alias("n"))


def heavy_hitters(
    df: DataFrame, key: str, top_k: int = 10, counts: DataFrame | None = None
) -> DataFrame:
    """Exact top-``top_k`` hottest keys as ``(key, n, rank)``, rank 1-based.

    (n DESC, key ASC NULLS LAST) is a total order, so ranks are
    deterministic under ties — NULLS LAST explicitly, because Spark's ASC
    default is NULLS FIRST while ANSI/DuckDB default to NULLS LAST, and a
    NULL key tied on count with a real key would otherwise rank (and at
    the top-k boundary, SELECT) differently across engines. The
    sort+limit plans as TakeOrderedAndProject over the count agg —
    per-partition top-k then a driver-side merge of k·partitions rows,
    never a global sort of the key space (billions of keys on a fact
    table). The rank window runs on the ≤ top_k surviving rows.

    ``counts``: pass a precomputed ``key_counts`` frame to share ONE
    count shuffle with ``skew_summary`` over the same input."""
    from pyspark.sql import Window

    order = [F.col("n").desc(), F.col("key").asc_nulls_last()]
    top = (key_counts(df, key) if counts is None else counts).orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def skew_summary(df: DataFrame, key: str, counts: DataFrame | None = None) -> DataFrame:
    """One-row skew report: ``(n_keys, n_rows, max_n, skew_ppm,
    suggested_salt)``.

    ``skew_ppm``  = 1e6 · max_n / (n_rows / n_keys) — the hottest key's
    multiple of the mean key load, in exact integer ppm (1 000 000 =
    perfectly uniform). ``suggested_salt`` = ceil(max_n · n_keys /
    n_rows): the ``salted_join(salt=...)`` value that spreads the hot
    key over enough partitions to match the mean load — cap it at ~2×
    the shuffle-partition count before use (module docstring / SCALING.md
    r11): past the task count extra salt buys no parallelism and
    replicates the small side once per unit. Both are computed
    with decimal(38,0) DIV (int64-exact, engine-portable — Spark DIV on
    decimal ≡ DuckDB ``//`` on HUGEINT). Overflow bound, stated
    precisely: the widest intermediate is 1e6 · max_n · n_keys, which
    fits decimal(38,0) while max_n · n_keys < 1e32 — always true when
    n_rows < 2e16 (the hot key's rows and the other keys' ≥1 row each
    are disjoint, so max_n + n_keys ≤ n_rows + 1, and by AM-GM the
    product is ≤ ((n_rows+1)/2)²), i.e. for any corpus countable in
    tens of quadrillions of rows; a synthetic int64-extreme shape
    beyond that raises (ANSI) rather than silently wrapping.

    ``counts``: pass a precomputed ``key_counts`` frame to share ONE
    count shuffle with ``heavy_hitters`` over the same input."""
    big = "CAST({} AS DECIMAL(38,0))"
    return (
        (key_counts(df, key) if counts is None else counts)
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_n"),
        )
        .select(
            "n_keys",
            "n_rows",
            "max_n",
            F.expr(
                f"({big.format('1000000')} * max_n * n_keys) DIV n_rows"
            ).alias("skew_ppm"),
            F.expr(
                f"({big.format('max_n')} * n_keys + n_rows - 1) DIV n_rows"
            ).alias("suggested_salt"),
        )
    )
