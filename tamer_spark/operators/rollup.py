"""Continuous aggregates: incrementally-maintained rollup tables.

The hypertable/continuous-aggregate pattern on top of the engine loop: an
append-only event source is consumed incrementally (time-window cursor);
each epoch lands a *partial* aggregate keyed by (window bucket, dims);
reads merge the partials; a compaction pass periodically folds history into
one partial so read cost stays bounded.

Why partials instead of read-modify-write: epoch partial writes are
idempotent by construction (deterministic per-epoch paths — replaying a
crashed epoch overwrites its own partial, never double-counts), which is
exactly the engine's exactly-once contract. Merge-on-read over sum/count
partials is associative, so compaction can fold any prefix of epochs at any
time without a lock.

At 100 TB: partial aggregates are tiny relative to raw events (one row per
(window, dims) per epoch), reads touch only rollup data, and compaction is
O(rollup size). The same shape backs streaming (foreachBatch writing
partials) and batch backfills.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tamer_spark.sinks import ParquetEpochSink
from tamer_spark.sinks.base import _hadoop_fs


def merge_partials(parts: DataFrame, key_cols: list[str], sum_cols: list[str]) -> DataFrame:
    """Merge-on-read over epoch partials: SUM the summable measures per key.

    Associative by construction (counts/sums only), so it is also the
    compaction fold — any prefix of epochs can be folded at any time. One
    shuffle on the (small) rollup keyspace; map-side combine makes the
    shuffle proportional to (keys × epochs), not raw events."""
    return parts.groupBy(*key_cols).agg(*[F.sum(c).alias(c) for c in sum_cols])


@dataclass
class ContinuousRollup:
    """Rollup spec: group keys + summable measures (counts/sums only —
    associative merges; averages derive as sum/count at read time)."""

    path: str
    key_cols: list[str]
    sum_cols: list[str]  # pre-aggregated partial columns to merge by SUM
    _sink: ParquetEpochSink = field(init=False)

    def __post_init__(self):
        self._sink = ParquetEpochSink(self.path)

    def write(self, partial: DataFrame, epoch: int) -> None:
        """Land one epoch's partial aggregate (idempotent per epoch)."""
        self._sink.write(partial.select(*self.key_cols, *self.sum_cols), epoch)

    def read(self, spark: SparkSession) -> DataFrame:
        """Merged rollup: sum the partials across epochs."""
        return merge_partials(self._sink.read(spark), self.key_cols, self.sum_cols)

    def compact(self, spark: SparkSession) -> None:
        """Fold all existing epoch partials into epoch 0.

        The merged partial is written straight to the sibling
        ``<path>__staging/epoch=0``, then swapped in for ``path`` (delete,
        then rename) through the path's Hadoop FileSystem, as the shard
        export does, so local, ``file:``, ``s3a:`` and ``hdfs:`` paths
        compact alike. A failure before the swap leaves every partial in
        place; a crash between the delete and the rename leaves the merged
        partial at the staging path.

        Safe under the engine's epoch numbering as long as no writer is
        concurrently emitting (run between pipeline runs / from a
        maintenance schedule). New epochs continue after the fold.
        """
        staging = self.path.rstrip("/") + "__staging"
        self.read(spark).write.mode("overwrite").parquet(os.path.join(staging, "epoch=0"))
        fs, staged = _hadoop_fs(spark, staging)
        _, target = _hadoop_fs(spark, self.path)
        fs.delete(target, True)
        if not fs.rename(staged, target):
            raise OSError(f"compact: could not rename {staging} to {self.path}")


def rollup_sink(
    rollup: ContinuousRollup,
    aggregate: Callable[[DataFrame], DataFrame],
):
    """Adapt a ContinuousRollup into an engine Sink: each raw epoch batch is
    partially aggregated, then landed as that epoch's partial."""

    class _Sink:
        def write(self, df: DataFrame, epoch: int) -> None:
            rollup.write(aggregate(df), epoch)

    return _Sink()
