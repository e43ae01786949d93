"""File / test sinks with per-epoch idempotence."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tamer_spark.functions.litfast import empty_frame


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path``: local, HDFS and S3A alike."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _epochs(spark: SparkSession, path: str) -> list[int]:
    """The N of every ``epoch=N`` directory under ``path``, ascending."""
    fs, root = _hadoop_fs(spark, path)
    names = [st.getPath().getName() for st in fs.listStatus(root)] if fs.exists(root) else []
    return sorted(int(n[6:]) for n in names if n.startswith("epoch=") and n[6:].isdecimal())


def epoch_frames(
    spark: SparkSession, path: str, schema: StructType | str | None = None, before: int | None = None
) -> DataFrame:
    """THE reader of epoch-partitioned output: every ``{path}/epoch=N`` with
    N < ``before`` (all on disk when None), ``epoch`` an int column.

    Bounded by the committed epoch (``StateStore.load().epoch``, or the
    epoch a sink is writing, for its own history) it never reads an epoch
    being written, written ahead, or left by a failed attempt. With a
    ``schema`` no inference job runs; with no epoch found the result is an
    empty frame of ``schema``.
    """
    dirs = [os.path.join(path, f"epoch={n}") for n in _epochs(spark, path) if before is None or n < before]
    if not dirs:
        empty = empty_frame(spark, schema or StructType())
        return empty.withColumn("epoch", F.lit(None).cast("int"))
    reader = spark.read.option("basePath", path)
    return (reader if schema is None else reader.schema(schema)).parquet(*dirs)


@dataclass
class ParquetEpochSink:
    """Parquet sink writing each epoch to a deterministic path with overwrite.

    Idempotence: replaying epoch N overwrites ``{path}/epoch={N}/`` in place —
    the file-sink analog of the reference's Kafka transaction (a replayed
    epoch produces the same data under the same identity instead of
    appending duplicates). Readers see the union via :func:`epoch_frames`,
    and bounded by the committed epoch see no uncommitted one: so the sink
    opts in to the engine's write-ahead with :meth:`drop_uncommitted`.

    At scale: one directory per epoch keeps commits O(batch), not O(history),
    and lets downstream consumers do partition-pruned incremental reads.
    """

    path: str

    def write(self, df: DataFrame, epoch: int) -> None:
        df.write.mode("overwrite").parquet(os.path.join(self.path, f"epoch={epoch}"))

    def read(self, spark: SparkSession, before: int | None = None) -> DataFrame:
        """Epochs < ``before`` (the committed epoch); None: all on disk."""
        return epoch_frames(spark, self.path, before=before)

    def drop_uncommitted(self, spark: SparkSession, epoch: int) -> None:
        """Delete every ``epoch=N`` with N >= ``epoch``."""
        for n in _epochs(spark, self.path):
            if n >= epoch:
                fs, p = _hadoop_fs(spark, os.path.join(self.path, f"epoch={n}"))
                fs.delete(p, True)


@dataclass
class MemorySink:
    """Test sink collecting rows per epoch; replays overwrite (idempotent)."""

    epochs: dict[int, list] = field(init=False, default_factory=dict)
    fail_on_epochs: set = field(default_factory=set)
    fail_once_on_epochs: set = field(default_factory=set)

    def write(self, df: DataFrame, epoch: int) -> None:
        if epoch in self.fail_on_epochs:
            raise RuntimeError(f"injected failure at epoch {epoch}")
        if epoch in self.fail_once_on_epochs:
            self.fail_once_on_epochs.discard(epoch)
            raise RuntimeError(f"injected one-shot failure at epoch {epoch}")
        self.epochs[epoch] = df.collect()

    @property
    def rows(self) -> list:
        return [r for e in sorted(self.epochs) for r in self.epochs[e]]

