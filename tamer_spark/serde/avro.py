"""Minimal pure-Python Avro binary codec.

Neither the spark-avro connector nor a Python avro library is available in
this environment, so the Avro leg of the serde (reference
core/src/main/scala/tamer/Codec.scala — vulcan/avro4s binary Avro) is
implemented directly against the public Avro 1.x binary-encoding spec:

- int/long: zigzag varint; float/double: little-endian IEEE;
- string/bytes: length varint + payload; boolean: 1 byte; null: empty;
- record: fields in schema order; union: branch-index varint + value;
- array/map: block count + items + zero terminator (single block emitted);
- logical types (timestamp-millis etc.) ride on their base types.

Covers every shape the reference serializes (flat records of primitives,
nullable unions, lists, maps — Codec.scala:35-81, FIXTURES.md §5/§7).
Golden-byte tests in tests/test_avro.py pin the encoding against
spec-derived examples, so this is not merely self-consistent.

DataFrame integration: ``encode_df`` runs the codec in an Arrow-batched
``mapInPandas`` stage and (optionally) applies Confluent framing
(``magic 0x0 | 4-byte big-endian schema id | payload``, Serde.scala:47-52)
with a caller-supplied schema id — the produce half of Serde.scala:31-92
without JVM connector dependencies. Throughput note: this is the Python
fallback path; with spark-avro on the classpath prefer
``pyspark.sql.avro.functions.to_avro`` (JVM, codegen).
"""

from __future__ import annotations

import io
import json
import struct
from typing import Any


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_varint(out: io.BytesIO, n: int) -> None:
    n &= 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def read_varint(data: memoryview, pos: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def write_long(out: io.BytesIO, n: int) -> None:
    write_varint(out, _zigzag(n))


def read_long(data: memoryview, pos: int) -> tuple[int, int]:
    raw, pos = read_varint(data, pos)
    return _unzigzag(raw), pos


class AvroCodec:
    """Encode/decode Python values per an Avro schema (dict or JSON str)."""

    def __init__(self, schema: dict | list | str):
        self.schema = json.loads(schema) if isinstance(schema, str) else schema

    # -- encode -------------------------------------------------------------

    def encode(self, value: Any) -> bytes:
        out = io.BytesIO()
        self._write(self.schema, value, out)
        return out.getvalue()

    def _write(self, schema, value, out: io.BytesIO) -> None:
        stype = schema["type"] if isinstance(schema, dict) else schema
        if isinstance(schema, list):  # union: branch index + value
            for i, branch in enumerate(schema):
                if self._matches(branch, value):
                    write_long(out, i)
                    self._write(branch, value, out)
                    return
            raise ValueError(f"value {value!r} matches no union branch {schema}")
        if stype == "null":
            return
        if stype == "boolean":
            out.write(b"\x01" if value else b"\x00")
        elif stype in ("int", "long"):
            write_long(out, int(value))
        elif stype == "float":
            out.write(struct.pack("<f", float(value)))
        elif stype == "double":
            out.write(struct.pack("<d", float(value)))
        elif stype == "string":
            raw = str(value).encode("utf-8")
            write_long(out, len(raw))
            out.write(raw)
        elif stype == "bytes":
            write_long(out, len(value))
            out.write(bytes(value))
        elif stype == "record":
            for f in schema["fields"]:
                self._write(f["type"], value[f["name"]], out)
        elif stype == "array":
            items = list(value)
            if items:
                write_long(out, len(items))
                for it in items:
                    self._write(schema["items"], it, out)
            write_long(out, 0)
        elif stype == "map":
            entries = dict(value)
            if entries:
                write_long(out, len(entries))
                for k, v in entries.items():
                    raw = k.encode("utf-8")
                    write_long(out, len(raw))
                    out.write(raw)
                    self._write(schema["values"], v, out)
            write_long(out, 0)
        elif stype == "enum":
            write_long(out, schema["symbols"].index(value))
        else:
            raise NotImplementedError(f"avro type {stype!r}")

    @staticmethod
    def _matches(branch, value) -> bool:
        btype = branch["type"] if isinstance(branch, dict) else branch
        if btype == "null":
            return value is None
        if value is None:
            return False
        if btype == "boolean":
            return isinstance(value, bool)
        if btype in ("int", "long"):
            return isinstance(value, int) and not isinstance(value, bool)
        if btype in ("float", "double"):
            return isinstance(value, (int, float)) and not isinstance(value, bool)
        if btype == "string":
            return isinstance(value, str)
        if btype == "bytes":
            return isinstance(value, (bytes, bytearray))
        if btype == "record":
            return isinstance(value, dict)
        if btype == "array":
            return isinstance(value, (list, tuple))
        if btype == "map":
            return isinstance(value, dict)
        return True

    # -- decode -------------------------------------------------------------

    def decode(self, data: bytes) -> Any:
        value, _ = self._read(self.schema, memoryview(data), 0)
        return value

    def _read(self, schema, data: memoryview, pos: int) -> tuple[Any, int]:
        stype = schema["type"] if isinstance(schema, dict) else schema
        if isinstance(schema, list):
            idx, pos = read_long(data, pos)
            return self._read(schema[idx], data, pos)
        if stype == "null":
            return None, pos
        if stype == "boolean":
            return data[pos] == 1, pos + 1
        if stype in ("int", "long"):
            return read_long(data, pos)
        if stype == "float":
            return struct.unpack("<f", data[pos : pos + 4])[0], pos + 4
        if stype == "double":
            return struct.unpack("<d", data[pos : pos + 8])[0], pos + 8
        if stype == "string":
            n, pos = read_long(data, pos)
            return bytes(data[pos : pos + n]).decode("utf-8"), pos + n
        if stype == "bytes":
            n, pos = read_long(data, pos)
            return bytes(data[pos : pos + n]), pos + n
        if stype == "record":
            rec = {}
            for f in schema["fields"]:
                rec[f["name"]], pos = self._read(f["type"], data, pos)
            return rec, pos
        if stype == "array":
            items = []
            while True:
                n, pos = read_long(data, pos)
                if n == 0:
                    return items, pos
                if n < 0:  # block with byte-size prefix
                    _, pos = read_long(data, pos)
                    n = -n
                for _ in range(n):
                    it, pos = self._read(schema["items"], data, pos)
                    items.append(it)
        if stype == "map":
            entries = {}
            while True:
                n, pos = read_long(data, pos)
                if n == 0:
                    return entries, pos
                if n < 0:
                    _, pos = read_long(data, pos)
                    n = -n
                for _ in range(n):
                    klen, pos = read_long(data, pos)
                    k = bytes(data[pos : pos + klen]).decode("utf-8")
                    pos += klen
                    entries[k], pos = self._read(schema["values"], data, pos)
        if stype == "enum":
            idx, pos = read_long(data, pos)
            return schema["symbols"][idx], pos
        raise NotImplementedError(f"avro type {stype!r}")


def encode_df(df, value_cols: list[str], schema: dict | str, schema_id: int | None = None):
    """DataFrame rows → Avro-encoded (optionally Confluent-framed) bytes.

    Arrow-batched mapInPandas; output: all original columns replaced by one
    ``value BINARY`` column plus pass-through of non-value columns is NOT
    done — select what you need upstream, typically (key, *value_cols).
    """
    import pandas as pd

    codec = AvroCodec(schema)
    header = b"" if schema_id is None else b"\x00" + struct.pack(">I", schema_id)

    def enc(batches):
        for pdf in batches:
            payloads = [
                header + codec.encode({c: row[c] for c in value_cols})
                for _, row in pdf.iterrows()
            ]
            yield pd.DataFrame({"value": payloads})

    return df.select(*value_cols).mapInPandas(enc, "value binary")

