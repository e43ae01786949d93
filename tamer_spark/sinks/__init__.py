"""Sinks. The reference writes only to Kafka (Tamer.scala:64-87); we provide
Kafka plus Parquet/memory, all honoring the per-epoch idempotence
contract required by the engine loop (see engine.py docstring)."""

from tamer_spark.sinks.base import MemorySink, ParquetEpochSink, epoch_frames
from tamer_spark.sinks.kafka import TransactionalKafkaSink
from tamer_spark.sinks.shards import (
    assign_shard,
    shard_diff,
    shard_manifest,
    verify_shards,
    write_training_shards,
)

__all__ = [
    "ParquetEpochSink",
    "MemorySink",
    "epoch_frames",
    "assign_shard",
    "shard_manifest",
    "verify_shards",
    "shard_diff",
    "write_training_shards",
    "TransactionalKafkaSink",
]

