"""Bucketed tables: pre-shuffled storage for co-located joins.

At 100 TB the single biggest repeated cost is re-shuffling fact tables for
every key join. Bucketing pays the shuffle once at write time: both sides
stored bucketed by the join key (same bucket count) join with ZERO exchanges
— Catalyst sees the bucketing as a satisfied distribution requirement.

``spark.sql.sources.bucketing.enabled`` is on by default; bucket counts
should divide evenly into executor cores (e.g. 4096 buckets at 1000×4
cores). Requires a catalog table (`saveAsTable`) — plain `.parquet(path)`
loses bucketing metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
) -> None:
    """Persist ``df`` as a bucketed (optionally sorted) catalog table.

    Sorting within buckets additionally enables merge-join without a sort
    step and better scan locality for range predicates on the sort key.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    writer.format("parquet").saveAsTable(table)

