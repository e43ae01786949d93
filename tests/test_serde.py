"""Serde: registry semantics against the in-memory registry, compat-check
rules."""

from __future__ import annotations

import pytest

from tamer_spark.errors import TamerError
from tamer_spark.serde import FakeRegistry, check_compat


def test_registry_get_or_register_and_verify():
    reg = FakeRegistry()
    schema_v1 = '{"type":"record","name":"User","fields":[{"name":"id","type":"string"}]}'
    sid = reg.get_or_register_id("users-value", schema_v1)
    assert reg.get_or_register_id("users-value", schema_v1) == sid  # stable
    reg.verify_schema(sid, schema_v1)  # self-compatible
    # compatible evolution: add a defaulted field
    schema_v2 = (
        '{"type":"record","name":"User","fields":['
        '{"name":"id","type":"string"},{"name":"age","type":"int","default":0}]}'
    )
    reg.verify_schema(sid, schema_v2)
    # incompatible: new field without default
    schema_bad = (
        '{"type":"record","name":"User","fields":['
        '{"name":"id","type":"string"},{"name":"age","type":"int"}]}'
    )
    with pytest.raises(TamerError, match="READER_FIELD_MISSING_DEFAULT_VALUE"):
        reg.verify_schema(sid, schema_bad)


def test_compat_rules():
    rec = lambda fields: {"type": "record", "name": "R", "fields": fields}
    # type promotion int → long is reader-compatible
    assert check_compat(rec([{"name": "x", "type": "long"}]), rec([{"name": "x", "type": "int"}])) == []
    # narrowing long → int is not
    assert check_compat(rec([{"name": "x", "type": "int"}]), rec([{"name": "x", "type": "long"}]))
    # reader union accepts writer member
    assert check_compat(rec([{"name": "x", "type": ["null", "string"]}]), rec([{"name": "x", "type": "string"}])) == []
