"""tamer_spark — a PySpark-native incremental ingestion + analytics engine.

Re-expresses the capabilities of laserdisc-io/tamer (a stateful, exactly-once
Kafka ingestion framework; see /root/reference) on top of Apache Spark:

- the stateful driver loop (reference core/src/main/scala/tamer/Tamer.scala)
  becomes :mod:`tamer_spark.engine` — a checkpointed micro-batch loop with
  idempotent epoch commits,
- the JDBC / S3 / REST / OCI sources become :mod:`tamer_spark.sources`,
- the serdes become :mod:`tamer_spark.serde`,
- and the relational / LLM-data-pipeline surface (dedup, similarity search,
  text analysis, multimodal, tokenization) lives in
  :mod:`tamer_spark.operators` and :mod:`tamer_spark.functions`, all
  expressed as Catalyst-friendly DataFrame plans designed for 100 TB scale.

The public API a reference (tamer) user needs is importable from the top
level::

    from tamer_spark import Pipeline, JdbcTumblingSource, ParquetEpochSink
    Pipeline(source, sink, checkpoint_dir).run(spark)
"""

from tamer_spark.engine import BatchMetrics, Pipeline, RetryPolicy, pin, unpin
from tamer_spark.errors import StateForkError, TamerError
from tamer_spark.session import get_spark
from tamer_spark.state import StateStore, fingerprint

__all__ = [
    "TamerError",
    "StateForkError",
    "get_spark",
    "Pipeline",
    "RetryPolicy",
    "BatchMetrics",
    "pin",
    "unpin",
    "StateStore",
    "fingerprint",
    # submodule re-exports (lazy would complicate pickling; keep explicit)
    "JdbcTumblingSource",
    "ObjectCursorSource",
    "PaginatedRestSource",
    "LocalFSLister",
    "S3Lister",
    "BasicAuth",
    "BearerAuth",
    "ParquetEpochSink",
    "MemorySink",
]
__version__ = "0.1.0"

from tamer_spark.sinks import MemorySink, ParquetEpochSink  # noqa: E402
from tamer_spark.sources import (  # noqa: E402
    BasicAuth,
    BearerAuth,
    JdbcTumblingSource,
    LocalFSLister,
    ObjectCursorSource,
    PaginatedRestSource,
)
from tamer_spark.sources.objectstore import S3Lister  # noqa: E402
