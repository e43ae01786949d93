"""Confluent wire-format framing as Catalyst binary expressions.

The reference frames registry-backed Avro payloads as
``magic 0x0 | 4-byte big-endian schema id | payload``
(core/src/main/scala/tamer/Serde.scala:32-33,47-59,70-76). Spark's
``to_avro``/``from_avro`` emit/consume *bare* Avro, so Kafka interop with
Confluent-tooling consumers needs this byte surgery — done JVM-side with
``concat``/``substring`` on BINARY columns (codegen'd, no Python in the hot
path; safe at any scale).

Value serialization itself:

- JSON (schemaless, Serde maybeSchema=None path): ``F.to_json(struct)`` /
  ``F.from_json`` — always available.
- Avro: ``pyspark.sql.avro.functions.to_avro/from_avro`` when the
  spark-avro package is on the JVM classpath (the Python module always
  imports; a missing jar fails at the first call), else the pure-Python
  codec in :mod:`tamer_spark.serde.avro`.
"""

from __future__ import annotations

import struct as _struct

from pyspark.sql import Column
from pyspark.sql import functions as F

MAGIC = b"\x00"


def frame_confluent(payload: Column, schema_id: int) -> Column:
    """payload BINARY → magic + id(be32) + payload (Serde.scala:47-52)."""
    header = MAGIC + _struct.pack(">I", schema_id)
    return F.concat(F.lit(header), payload)


def unframe_confluent(framed: Column) -> Column:
    """Strip the 5-byte header; returns the bare payload (Serde.scala:70-76).

    ``F.substring`` takes the Column directly (works on BINARY, 1-based) —
    no string-reflection of the Column into ``F.expr``, so computed inputs
    (e.g. a ``concat`` result) frame/unframe correctly.
    """
    return F.substring(framed, 6, 2147483647)


def extract_schema_id(framed: Column) -> Column:
    """Big-endian int32 schema id from bytes 2-5 (hex → base-10, codegen'd)."""
    return F.conv(F.hex(F.substring(framed, 2, 4)), 16, 10).cast("int")

