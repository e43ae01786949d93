"""Avro binary codec: golden bytes from the public spec, round-trip
properties, and the framed DataFrame encode path."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tamer_spark.serde.avro import AvroCodec, encode_df


# --- golden bytes straight from the Avro spec's encoding examples ----------

def test_golden_long_zigzag_varints():
    c = AvroCodec("\"long\"")
    # spec table: 0→00, -1→01, 1→02, -2→03, 2→04, -64→7f, 64→80 01
    assert c.encode(0) == b"\x00"
    assert c.encode(-1) == b"\x01"
    assert c.encode(1) == b"\x02"
    assert c.encode(-2) == b"\x03"
    assert c.encode(2) == b"\x04"
    assert c.encode(-64) == b"\x7f"
    assert c.encode(64) == b"\x80\x01"


def test_golden_string_and_record():
    # spec example: "foo" → 06 66 6f 6f
    assert AvroCodec('"string"').encode("foo") == b"\x06foo"
    # spec example record {"a": 27, "b": "foo"} → 36 06 66 6f 6f
    schema = {
        "type": "record",
        "name": "test",
        "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}],
    }
    assert AvroCodec(schema).encode({"a": 27, "b": "foo"}) == b"\x36\x06foo"


def test_golden_array_of_longs():
    # spec example: [3, 27] → 04 06 36 00
    assert AvroCodec({"type": "array", "items": "long"}).encode([3, 27]) == b"\x04\x06\x36\x00"


def test_nullable_union():
    c = AvroCodec(["null", "string"])
    assert c.encode(None) == b"\x00"           # branch 0
    assert c.encode("hi") == b"\x02\x04hi"     # branch 1 + string
    assert c.decode(c.encode(None)) is None
    assert c.decode(c.encode("hi")) == "hi"


# --- round-trip properties --------------------------------------------------

_SCHEMA = {
    "type": "record",
    "name": "User",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "desc", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
    ],
}


@settings(max_examples=150, deadline=None)
@given(
    id_=st.integers(min_value=-(2**62), max_value=2**62),
    name=st.text(max_size=30),
    desc=st.none() | st.text(max_size=20),
    score=st.floats(allow_nan=False, allow_infinity=False),
    flag=st.booleans(),
    tags=st.lists(st.text(max_size=8), max_size=4),
    props=st.dictionaries(st.text(max_size=6), st.integers(min_value=-1000, max_value=1000), max_size=4),
)
def test_roundtrip_property(id_, name, desc, score, flag, tags, props):
    c = AvroCodec(_SCHEMA)
    rec = {"id": id_, "name": name, "desc": desc, "score": score, "flag": flag, "tags": tags, "props": props}
    assert c.decode(c.encode(rec)) == rec


# --- framed DataFrame path ---------------------------------------------------

def test_encode_df_with_confluent_framing(spark):
    import struct

    schema = {
        "type": "record",
        "name": "Row",
        "fields": [{"name": "id", "type": "long"}, {"name": "name", "type": "string"}],
    }
    sid = 7
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    framed = [bytes(r.value) for r in encode_df(df, ["id", "name"], schema, schema_id=sid).collect()]
    # magic 0x0 | 4-byte big-endian schema id | payload
    assert all(v[:1] == b"\x00" and struct.unpack(">I", v[1:5])[0] == sid for v in framed)
    codec = AvroCodec(schema)
    assert sorted(codec.decode(v[5:])["id"] for v in framed) == [1, 2]


def test_jvm_to_avro_parity_with_python_codec(spark):
    """Golden-byte parity: spark-avro's to_avro must emit the same Avro
    binary as the pure-Python codec (both implement the Avro 1.x binary
    spec). Skips when the spark-avro package cannot load in this
    environment — the pure-Python codec remains the exercised path.

    Load attempts on record (2026-08-13, re-attempted rounds 4, 5, 6, 9
    [2026-08-14], and 10-12 [2026-08-15, r12: repo1.maven.org DNS still unresolvable] — unchanged; r9 added the UNGATED org.apache.avro
    reference-implementation parity tests below, which cover what this
    skip was standing in for): no spark-avro_2.13 jar anywhere on
    the machine (bundled pyspark jars carry avro/avro-ipc/avro-mapred 1.12.1
    but not the spark-avro connector module), and Maven Central is
    unreachable (curl rc=6, DNS resolution failure), so neither a vendored
    jar nor ``--packages org.apache.spark:spark-avro_2.13:4.1.2`` can
    succeed; to_avro raises AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE.
    """
    import pytest
    from pyspark.sql import functions as F

    from tamer_spark.serde.avro import AvroCodec

    schema = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "a", "type": "long"}, {"name": "s", "type": "string"}],
    }
    try:
        from pyspark.sql.avro.functions import to_avro

        df = spark.createDataFrame([(3, "xy")], "a long, s string")
        jvm_bytes = df.select(
            to_avro(F.struct("a", "s"), __import__("json").dumps(schema)).alias("b")
        ).collect()[0].b
    except Exception as e:  # AnalysisException: AVRO_NOT_LOADED...
        pytest.skip(f"spark-avro package not loadable in this environment: {type(e).__name__}")
    py_bytes = AvroCodec(schema).encode({"a": 3, "s": "xy"})
    assert bytes(jvm_bytes) == py_bytes


# -- round-9: parity against the CANONICAL Java Avro implementation ---------
#
# spark-avro (the connector) remains unloadable in this sandbox, but the
# core org.apache.avro library (avro-1.12.1.jar — the reference
# implementation of the Avro binary spec, and the codec spark-avro itself
# delegates to) ships on the bundled Spark classpath. Driving it via py4j
# gives the JVM parity leg the spark-avro skip was standing in for:
# byte-identical encodings from GenericDatumWriter/BinaryEncoder vs the
# pure-Python codec, across every type the codec implements.


def _java_schema(jvm, schema: dict | list | str):
    import json as _json

    return jvm.org.apache.avro.Schema.Parser().parse(
        _json.dumps(schema) if not isinstance(schema, str) else schema
    )


def _avro_json(schema, value):
    """Python value -> the Avro JSON-encoding of the datum (spec §JSON
    Encoding): unions wrap non-null values as {"branchName": v}, bytes map
    to a string of latin-1 codepoints. The JVM side then builds the datum
    with Avro's OWN JsonDecoder — no py4j object construction, which would
    silently re-box a java.lang.Long as Integer through the Python round
    trip and break union resolution."""
    from tamer_spark.serde.avro import AvroCodec

    stype = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):
        for branch in schema:
            if AvroCodec._matches(branch, value):
                btype = branch if isinstance(branch, str) else branch["type"]
                if btype == "null":
                    return None
                name = btype if isinstance(branch, str) else branch.get("name", btype)
                return {name: _avro_json(branch, value)}
        raise ValueError(f"no union branch for {value!r}")
    if stype == "bytes":
        return bytes(value).decode("latin-1")
    if stype == "record":
        return {f["name"]: _avro_json(f["type"], value[f["name"]]) for f in schema["fields"]}
    if stype == "array":
        return [_avro_json(schema["items"], v) for v in value]
    if stype == "map":
        return {k: _avro_json(schema["values"], v) for k, v in dict(value).items()}
    return value  # null/boolean/int/long/float/double/string/enum


def _java_encode(spark, schema, value) -> bytes:
    import json as _json

    jvm = spark._jvm
    jschema = _java_schema(jvm, schema)
    dec = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
        jschema, _json.dumps(_avro_json(schema, value))
    )
    datum = jvm.org.apache.avro.generic.GenericDatumReader(jschema).read(None, dec)
    baos = jvm.java.io.ByteArrayOutputStream()
    enc = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(baos, None)
    jvm.org.apache.avro.generic.GenericDatumWriter(jschema).write(datum, enc)
    enc.flush()
    return bytes(baos.toByteArray())


def test_reference_avro_long_varint_parity(spark):
    # zigzag-varint edge cases: every boundary of the 7-bit groups plus the
    # int64 extremes must byte-match the reference encoder
    from tamer_spark.serde.avro import AvroCodec

    schema = {"type": "record", "name": "L", "fields": [{"name": "v", "type": "long"}]}
    codec = AvroCodec(schema)
    for n in [0, 1, -1, 63, 64, -64, -65, 127, -128, 8191, -8192,
              2**31 - 1, -(2**31), 2**62, 2**63 - 1, -(2**63)]:
        jb = _java_encode(spark, schema, {"v": n})
        pb = codec.encode({"v": n})
        assert jb == pb, f"long {n}: jvm={jb.hex()} py={pb.hex()}"
        assert codec.decode(jb) == {"v": n}


def test_reference_avro_kitchen_sink_parity(spark):
    # one record exercising every implemented type, including both union
    # branches — encode must be byte-identical; decode of the REFERENCE
    # bytes must round-trip the original value
    from tamer_spark.serde.avro import AvroCodec

    schema = {
        "type": "record",
        "name": "Sink",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "maybe", "type": ["null", "string"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "int"}},
            {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B", "C"]}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "N",
                    "fields": [{"name": "x", "type": ["null", "long"]}],
                },
            },
        ],
    }
    for maybe, x in [(None, 7), ("text-ü", None)]:
        value = {
            "b": True, "i": -42, "l": 2**40, "f": 1.5, "d": -2.25,
            "s": "héllo", "by": b"\x00\xffraw", "maybe": maybe,
            # single-entry map: the JVM reader materializes maps as HashMap,
            # whose iteration order need not match Python dict insertion
            # order, and Avro map encoding is order-dependent — one entry
            # keeps the byte comparison meaningful
            "arr": [3, -1, 2**33], "m": {"k1": 1}, "e": "B",
            "nested": {"x": x},
        }
        codec = AvroCodec(schema)
        jb = _java_encode(spark, schema, value)
        pb = codec.encode(value)
        assert jb == pb, f"jvm={jb.hex()}\npy ={pb.hex()}"
        assert codec.decode(jb) == value
