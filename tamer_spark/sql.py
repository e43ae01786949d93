"""SQL-first surface: register the warehouse tables for Spark SQL.

The DataFrame registry queries are plan-construction style; this module is
the other half of §2B — users who write SQL strings get the identical
Catalyst planning (the SQL parser feeds the same optimizer). ``register_
tables`` exposes the testdata star schema as temp views; the SQL-authored
gate queries in queries.py then go through ``spark.sql`` end to end.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Create temp views over the parquet tables (events normalized to µs)."""
    from tamer_spark.queries import _t

    for t in TABLES:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)

