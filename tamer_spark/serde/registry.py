"""Schema-registry semantics without a registry service.

Mirrors the registry-less half of core/src/main/scala/tamer/Registry.scala.
``FakeRegistry`` (Registry.scala:152-157) assigns ids in memory:
``get_or_register_id(subject, schema)`` and ``verify_schema(id, schema)``
with real compatibility checks (Registry.scala:113-143).

There is no HTTP client for a Confluent-compatible registry: no registry
service runs beside this repo, so such a client could not be exercised.

Compatibility checking implements the core Avro reader/writer rules
structurally (field added without default / field type changed / name
mismatch ⇒ incompatible), rendering human-readable messages like
Codec.scala:41-74. The full Avro resolution matrix belongs to the `avro`
package when present; this covers the record-evolution cases the reference
exercises.
"""

from __future__ import annotations

import json

from tamer_spark.errors import TamerError


def _field_map(schema: dict) -> dict[str, dict]:
    return {f["name"]: f for f in schema.get("fields", [])}


def check_compat(reader: dict | str, writer: dict | str) -> list[str]:
    """Reader/writer compatibility errors ([] = compatible).

    Avro record-resolution rules (public spec): reader field missing from
    writer needs a default; matching fields need compatible types; record
    names must match. Messages mirror Codec.scala:65-74's rendering.
    """
    r = json.loads(reader) if isinstance(reader, str) else reader
    w = json.loads(writer) if isinstance(writer, str) else writer
    errs: list[str] = []
    if r.get("type") != w.get("type"):
        return [f"type mismatch: reader {r.get('type')} vs writer {w.get('type')}"]
    if r.get("type") == "record":
        if r.get("name") != w.get("name"):
            errs.append(f"record name mismatch: {r.get('name')} vs {w.get('name')}")
        wf = _field_map(w)
        for name, rf in _field_map(r).items():
            if name not in wf:
                if "default" not in rf:
                    errs.append(f"READER_FIELD_MISSING_DEFAULT_VALUE: {name}")
            else:
                rt, wt = rf["type"], wf[name]["type"]
                if not _types_compatible(rt, wt):
                    errs.append(f"TYPE_MISMATCH for field {name}: reader {rt} vs writer {wt}")
    return errs


_PROMOTIONS = {
    ("long", "int"),
    ("float", "int"),
    ("float", "long"),
    ("double", "int"),
    ("double", "long"),
    ("double", "float"),
    ("string", "bytes"),
    ("bytes", "string"),
}


def _types_compatible(rt, wt) -> bool:
    if rt == wt:
        return True
    if isinstance(rt, list):  # reader union accepts writer member
        return any(_types_compatible(t, wt) for t in rt)
    if isinstance(wt, list):
        return all(_types_compatible(rt, t) for t in wt)
    if isinstance(rt, str) and isinstance(wt, str):
        return (rt, wt) in _PROMOTIONS
    if isinstance(rt, dict) and isinstance(wt, dict):
        if rt.get("type") == wt.get("type") == "array":
            return _types_compatible(rt["items"], wt["items"])
        if rt.get("type") == wt.get("type") == "map":
            return _types_compatible(rt["values"], wt["values"])
        if rt.get("type") == wt.get("type") == "record":
            return not check_compat(rt, wt)
    return False


class FakeRegistry:
    """In-memory no-op-ish registry (Registry.scala:152-157) — also the test
    double: assigns ids, stores schemas, does real compat checks."""

    def __init__(self):
        self._by_subject: dict[tuple[str, str], int] = {}
        self._by_id: dict[int, str] = {}
        self._next = 1

    def get_or_register_id(self, subject: str, schema_json: str) -> int:
        key = (subject, schema_json)
        if key not in self._by_subject:
            self._by_subject[key] = self._next
            self._by_id[self._next] = schema_json
            self._next += 1
        return self._by_subject[key]

    def verify_schema(self, schema_id: int, reader_schema_json: str) -> None:
        writer = self._by_id.get(schema_id)
        if writer is None:
            raise TamerError(f"unknown schema id {schema_id}")
        errs = check_compat(reader_schema_json, writer)
        if errs:
            raise TamerError(
                f"schema id {schema_id} incompatible with reader: " + "; ".join(errs)
            )

