"""SparkSession factory with scale-oriented defaults.

Single place that encodes the 100 TB posture: AQE (runtime re-planning +
skew-join splitting + partition coalescing), Arrow for any Python exchange,
and UTC session time so results are reproducible across engines/oracles.

On a real cluster only ``master`` and the shuffle-partition count change
(shuffle partitions ≈ 2-3× total cores; at 1000 executors × 4 cores we'd set
~10k and let AQE coalesce down). Locally the driver harness gives us
``local[$SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and plan re-optimization — mandatory at 100 TB where static
    # estimates are always wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / toPandas exchange (vectorized, zero-copy-ish).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic wall-clock semantics: the duckdb oracle reads parquet
    # timestamps as naive/UTC, so Spark must too.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast threshold: dims (region/nation/customer/supplier/part at
    # typical star-schema ratios) should broadcast; 64 MB is a sane executor
    # budget. AQE also converts to broadcast at runtime on actual sizes.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # 128 MB parquet split — default, stated explicitly because it's the
    # knob that controls task count on a 100 TB scan (~800k tasks).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The one-parse SQL fragments (functions/text.sql_string and the
    # operators' selectExpr regexes) encode backslashes assuming the default
    # escaped-literal parsing; getOrCreate can adopt a pre-existing foreign
    # session, so pin the conf instead of assuming it (r15, ADVICE r14):
    # under escapedStringLiterals=true every fragment regex would silently
    # parse with doubled backslashes and diverge from the pure-Python
    # references and the DuckDB oracles.
    "spark.sql.parser.escapedStringLiterals": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "tamer_spark", master: str | None = None, **conf: str) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``).
    Extra ``conf`` entries override the defaults.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    # Shuffle partitions derive from the session's core count instead of a
    # constant tuned for local[32] (the driver also runs the bench at lower
    # core counts to measure scaling — a hard-coded 32 misshapes those
    # runs). Resolution order: $SPARK_GRAFT_SHUFFLE_PARTITIONS (explicit
    # override — on a real cluster set ~2-3x total executor cores, e.g.
    # ~10k at 1000 executors x 4 cores, and let AQE coalesce down), else
    # $SPARK_GRAFT_CPUS, else the machine's core count. At the driver's
    # local[32] this resolves to 32 — numerically identical to the
    # previous constant, so the bench series is unaffected there.
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if not shuffle_parts:
        try:
            shuffle_parts = str(max(1, int(cpus)))
        except ValueError:  # cpus == "*" or malformed — use physical cores
            shuffle_parts = str(os.cpu_count() or 8)
    merged = {**_DEFAULTS, "spark.sql.shuffle.partitions": shuffle_parts, **conf}
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
