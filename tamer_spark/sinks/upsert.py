"""Key-based upsert (merge) sink over parquet — Delta-style semantics
without a transaction-log dependency.

The ingestion pattern the reference's periodic re-scan source (#23) needs
downstream: re-ingested rows replace prior versions by key instead of
duplicating. Strategy: partition the table by a stable hash bucket of the
key, and rewrite ONLY the buckets that the incoming batch touches
(read-modify-write of affected partitions, not the whole table) — at 100 TB
the rewrite cost is proportional to the update's key spread, not table size.

For epoch idempotence (engine Sink contract): replaying a batch upserts the
same keys with the same rows — convergent by construction.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tamer_spark.sinks.base import _hadoop_fs


@dataclass
class ParquetUpsertSink:
    path: str
    key_cols: list[str]
    num_buckets: int = 32

    def _bucket(self, df: DataFrame):
        key_concat = F.concat_ws("\x00", *[F.col(c).cast("string") for c in self.key_cols])
        # stable md5-derived bucket: same key → same bucket across engines/runs
        return F.pmod(F.conv(F.substring(F.md5(key_concat), 1, 15), 16, 10).cast("long"),
                      F.lit(self.num_buckets))

    def write(self, df: DataFrame, epoch: int) -> None:
        self.upsert(df.sparkSession, df)

    def upsert(self, spark: SparkSession, updates: DataFrame) -> None:
        updates = updates.withColumn("_bucket", self._bucket(updates))
        touched = [r._bucket for r in updates.select("_bucket").distinct().collect()]
        if not touched:
            return
        fs, root = _hadoop_fs(spark, self.path)
        # through Hadoop, not os.path: a file:/s3a:/hdfs: URI is never an
        # existing local path, and treating the table as absent would
        # overwrite each touched bucket with the batch alone
        if fs.exists(root):
            existing_touched = spark.read.parquet(self.path).filter(
                F.col("_bucket").isin(touched)
            )
            merged = existing_touched.join(
                updates.select(*self.key_cols).distinct(), self.key_cols, "left_anti"
            ).unionByName(updates)
        else:
            merged = updates
        # rewrite only the touched buckets (dynamic partition overwrite)
        (
            merged.repartition(1, "_bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(self.path)
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path).drop("_bucket")
