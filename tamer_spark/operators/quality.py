"""Data-quality gates: declarative checks evaluated in one pass.

Ingestion pipelines need validation between landing and consumption. Checks
compile to a single aggregate job (one scan, no per-check passes);
referential checks compile to anti-join counts. Results are (check, n_bad)
rows — feed them to a threshold gate in the engine loop or alert on them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Check:
    name: str
    predicate: Column  # TRUE for BAD rows


def not_null(col: str) -> Check:
    return Check(f"{col}_null", F.col(col).isNull())


def in_range(col: str, lo=None, hi=None) -> Check:
    p = F.lit(False)
    if lo is not None:
        p = p | (F.col(col) < lo)
    if hi is not None:
        p = p | (F.col(col) > hi)
    return Check(f"{col}_out_of_range", p)


def matches(col: str, pattern: str) -> Check:
    return Check(f"{col}_malformed", ~F.col(col).rlike(pattern))


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """All row-level checks in ONE aggregate pass → (check, n_bad)."""
    agg = df.agg(
        *[F.sum(F.when(c.predicate, 1).otherwise(0)).cast("long").alias(c.name) for c in checks]
    )
    names = [c.name for c in checks]
    stacked = agg.select(
        F.explode(
            F.array(*[F.struct(F.lit(n).alias("check"), F.col(n).alias("n_bad")) for n in names])
        ).alias("r")
    )
    return stacked.select("r.check", "r.n_bad")


def referential_check(child: DataFrame, parent: DataFrame, fk: str, pk: str) -> DataFrame:
    """Orphan count: child rows whose fk has no parent pk (anti join)."""
    orphans = child.join(parent, child[fk] == parent[pk], "left_anti")
    return orphans.agg(F.count(F.lit(1)).cast("long").alias("n_bad")).select(
        F.lit(f"{fk}_orphaned").alias("check"), "n_bad"
    )


def uniqueness_check(df: DataFrame, cols: list[str]) -> DataFrame:
    """Duplicate-key count: rows beyond the first per key."""
    dupes = df.groupBy(*cols).count().filter(F.col("count") > 1)
    extra = dupes.agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).cast("long").alias("n_bad"))
    return extra.select(F.lit("_".join(cols) + "_duplicated").alias("check"), "n_bad")


def column_stats(df: DataFrame, specs: list[tuple[str, Column]]) -> DataFrame:
    """ANALYZE-style column statistics in ONE aggregate pass — the table-
    maintenance verb behind CBO (`ANALYZE TABLE ... COMPUTE STATISTICS FOR
    COLUMNS`) and ingest validation: per column its min, max, NULL count,
    and exact distinct count. A 100 TB pipeline runs this at maintenance
    cadence so joins broadcast/reorder on real numbers and a drifted feed
    (NULL surge, key-space collapse) is caught at the column level before
    any query misbehaves; drift.py compares distributions, this records
    the per-snapshot scalar facts.

    ``specs``: (name, integer-valued Column) pairs — the caller casts each
    column to an exact integer domain (cents, epoch seconds, the repo's
    cross-engine convention), so min/max are hashable across engines with
    no float/string formatting divergence.

    Exact NDV by design: count_distinct per column folds into the single
    aggregate via Spark's expand (one shuffle, rows × #specs — the
    maintenance-cadence trade; swap in approx_count_distinct for a
    scan-rate estimate when ±2 % suffices, the dvu_1h stance). NULLs:
    min/max skip them (SQL aggregate rule), n_nulls counts them, NDV
    excludes them — all pinned by replay.

    Returns long format: (column, min_v, max_v, n_nulls, n_distinct), one
    row per spec — stats land in a journal/catalog table keyed by column
    name, not in a wide row whose schema changes with the column list.
    """
    if not specs:
        raise ValueError("column_stats needs at least one (name, column) spec")
    aggs = []
    for name, c in specs:
        aggs += [
            F.min(c).cast("long").alias(f"_mn_{name}"),
            F.max(c).cast("long").alias(f"_mx_{name}"),
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"_nn_{name}"),
            F.count_distinct(c).cast("long").alias(f"_nd_{name}"),
        ]
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("column"),
                F.col(f"_mn_{name}").alias("min_v"),
                F.col(f"_mx_{name}").alias("max_v"),
                F.col(f"_nn_{name}").alias("n_nulls"),
                F.col(f"_nd_{name}").alias("n_distinct"),
            )
            for name, _ in specs
        ]
    )
    return wide.select(F.explode(rows).alias("s")).select(
        "s.column", "s.min_v", "s.max_v", "s.n_nulls", "s.n_distinct"
    )


def column_stats_grouped(
    df: DataFrame, keys: list[str], specs: list[tuple[str, Column]]
) -> DataFrame:
    """``column_stats`` per ``keys`` group — the PER-PARTITION statistics
    catalog: partition-level min/max IS the data-skipping index every
    table format keeps (parquet row-group stats, Delta/Iceberg file
    stats), and per-partition NULL/NDV is how a drifted landing partition
    is localized without scanning its neighbors. One partial-aggregable
    groupBy over the data (rows out = #groups × #specs); NULL group keys
    form their own group (both engines' GROUP BY NULL rule — dropping a
    misrouted partition from its own stats report would hide exactly the
    feed bug the report exists to catch).

    Returns (keys..., column, min_v, max_v, n_nulls, n_distinct)."""
    if not specs:
        raise ValueError("column_stats_grouped needs at least one (name, column) spec")
    if not keys:
        raise ValueError("column_stats_grouped needs group keys; use column_stats")
    aggs = []
    for name, c in specs:
        aggs += [
            F.min(c).cast("long").alias(f"_mn_{name}"),
            F.max(c).cast("long").alias(f"_mx_{name}"),
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"_nn_{name}"),
            F.count_distinct(c).cast("long").alias(f"_nd_{name}"),
        ]
    wide = df.groupBy(*keys).agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("column"),
                F.col(f"_mn_{name}").alias("min_v"),
                F.col(f"_mx_{name}").alias("max_v"),
                F.col(f"_nn_{name}").alias("n_nulls"),
                F.col(f"_nd_{name}").alias("n_distinct"),
            )
            for name, _ in specs
        ]
    )
    return wide.select(*keys, F.explode(rows).alias("s")).select(
        *keys, "s.column", "s.min_v", "s.max_v", "s.n_nulls", "s.n_distinct"
    )
