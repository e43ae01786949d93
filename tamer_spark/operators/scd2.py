"""SCD Type-2 dimension maintenance: history-preserving upserts.

The warehouse-side complement of the ingestion loop: incoming changed rows
don't overwrite the dimension — they close the current version
(``valid_to`` = change time) and append a new open version. Implemented as
pure DataFrame ops:

1. incoming keys ⟕ current-open rows (to detect real changes — unchanged
   payloads are dropped so re-ingestion is idempotent),
2. close: matched open rows get ``valid_to = change_ts``,
3. append: changed/new rows open with ``valid_from = change_ts,
   valid_to = NULL``.

The result is the full new dimension table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    change_ts: Column,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Apply ``updates`` (one row per key, the new attribute values) to an
    SCD2 table with columns (*attrs, valid_from, valid_to)."""
    attrs = [c for c in updates.columns if c != key]
    compare_cols = compare_cols or attrs

    open_rows = current.filter(F.col("valid_to").isNull())
    closed_rows = current.filter(F.col("valid_to").isNotNull())

    # Null-safe per-column comparison: concat_ws-style fingerprints silently
    # skip NULLs, so a NULL-shift update like (a=NULL, b='x') -> (a='x',
    # b=NULL) would compare equal and be dropped. eqNullSafe treats
    # NULL<=>NULL as equal and NULL<=>value as different.
    unchanged = F.lit(True)
    for c in compare_cols:
        unchanged = unchanged & F.col(f"u.{c}").eqNullSafe(F.col(f"o.{c}"))
    # collision-proofed sentinel name: user dimensions legitimately carry
    # underscore-prefixed attributes, and attrs are derived from ALL update
    # columns, so a plain "_matched" could shadow real data
    matched = "__tamer_scd2_matched__"
    joined = updates.alias("u").join(
        open_rows.withColumn(matched, F.lit(True)).alias("o"), key, "left"
    )
    real_changes = joined.filter(F.col(matched).isNull() | ~unchanged).select("u.*")

    changing_keys = real_changes.select(key)
    to_close = (
        open_rows.join(changing_keys, key, "left_semi")
        .withColumn("valid_to", change_ts)
    )
    untouched_open = open_rows.join(changing_keys, key, "left_anti")
    new_versions = real_changes.withColumn("valid_from", change_ts).withColumn(
        "valid_to", F.lit(None).cast("timestamp")
    )
    return closed_rows.unionByName(to_close).unionByName(untouched_open).unionByName(
        new_versions
    )


def scd2_init(updates: DataFrame, key: str, change_ts: Column) -> DataFrame:
    return updates.withColumn("valid_from", change_ts).withColumn(
        "valid_to", F.lit(None).cast("timestamp")
    )
