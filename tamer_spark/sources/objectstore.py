"""Object-store sources: time-keyed and number-keyed object cursors.

Re-expresses the reference `s3` + `oci-objectstorage` modules; each rule
has one copy, which the sources and the tests share:

- ``pages``: key listing with pagination + prefix filter
  (S3Setup.scala:79-106), resuming ``start_after`` the previous page —
  OCI's ``startAfter`` (ObjectStorageSetup.scala:79-93),
- ``next_key``: next = the key with the smallest parsed value > cursor.
  Keys parse as an instant (``S3Setup.timed``, S3Setup.scala:162-210: strip
  prefix + file extension — ZonedDateTimeFormatter.scala:28-39 and the
  dot-count heuristic at S3Setup.scala:162-170) or as ``prefix{N}``
  (example S3Generalized.scala:38-53),
- ``_load``: object fetch + line decode (S3Setup.scala:108-133: utf8 +
  splitLines) → ``spark.read.text`` + ``ObjectCursorSource.decode``.

The reference *blocks* inside ``getNextState`` until a new key appears
(S3Setup.scala:175-182); we return "no progress" instead and let the engine
loop poll — same observable sequence, no hung fiber.

At scale: listing is driver-side metadata-only (boto3 paginator / file
index); object *content* is read by executors (``spark.read.text(key)``), so
a 100 TB bucket never flows through the driver. For native streaming
ingestion of a whole prefix, prefer Structured Streaming's file source
(streaming/readers.py); this cursor exists for reference parity where
strict one-object-at-a-time ordering matters.
"""

from __future__ import annotations

import glob as _glob
import os
import re
from dataclasses import dataclass
from datetime import datetime, timezone
from functools import cached_property
from typing import Any, Callable, Iterable, Iterator, Protocol

from pyspark.sql import DataFrame, SparkSession

from tamer_spark.state import fingerprint


# ---------------------------------------------------------------------------
# pure cursor math (unit-tested like DateParsingSpec / S3Spec)
# ---------------------------------------------------------------------------

def strip_key(key: str, prefix: str) -> str:
    """Strip listing prefix and (heuristic) file extension.

    Mirrors the reference's dot-count rule (S3Setup.scala:162-170 via
    DateParsingSpec.scala:37-63): only a trailing ``.ext`` where ext has no
    spaces/digits-only ambiguity is removed, so instants containing dots
    (e.g. fractional seconds or localized formats) survive.
    """
    rest = key[len(prefix):] if key.startswith(prefix) else key
    m = re.match(r"^(.*)\.([A-Za-z][A-Za-z0-9]*)$", rest)
    return m.group(1) if m else rest


def parse_instant_from_key(key: str, prefix: str, fmt: str) -> datetime | None:
    """Parse the instant embedded in an object key; None if unparseable."""
    s = strip_key(key, prefix)
    try:
        dt = datetime.strptime(s, fmt)
    except ValueError:
        return None
    return dt.replace(tzinfo=timezone.utc) if dt.tzinfo is None else dt


def parse_number_from_key(key: str, prefix: str) -> int | None:
    s = key[len(prefix):] if key.startswith(prefix) else key
    return int(s) if s.isdecimal() else None


def next_key(
    keys: Iterable[str], cursor: Any, parse: Callable[[str], Any]
) -> tuple[str, Any] | None:
    """The key whose parsed value is the smallest one above ``cursor``, with
    that value (S3Spec.scala:36-49); the first such key on a tie, None when
    no key parses to a value above it. ``parse(key)`` is None for a key
    outside the cursor's format."""
    best = None
    for k in keys:
        v = parse(k)
        if v is not None and v > cursor and (best is None or v < best[1]):
            best = (k, v)
    return best


# ---------------------------------------------------------------------------
# listers (driver-side metadata clients)
# ---------------------------------------------------------------------------

class Lister(Protocol):
    def list_keys(self, prefix: str, start_after: str | None = None) -> list[str]: ...

    def object_uri(self, key: str) -> str: ...


@dataclass
class LocalFSLister:
    """Filesystem-backed lister (tests / local pipelines)."""

    root: str
    max_keys: int = 1000  # reference caps: 1000 keys/page (S3Setup.scala:80)

    def list_keys(self, prefix: str, start_after: str | None = None) -> list[str]:
        pattern = os.path.join(_glob.escape(self.root), _glob.escape(prefix) + "*")
        keys = sorted(
            os.path.relpath(p, self.root)
            for p in _glob.glob(pattern)
            if os.path.isfile(p)
        )
        if start_after is not None:
            keys = [k for k in keys if k > start_after]
        return keys[: self.max_keys]

    def object_uri(self, key: str) -> str:
        return os.path.join(self.root, key)


@dataclass
class S3Lister:
    """boto3-backed lister (gated import; same contract).

    One ``list_objects_v2`` page per call, with prefix + StartAfter;
    :func:`pages` pages it — the reference's zio-s3 paginate loop
    (S3Setup.scala:79-106) and OCI's startAfter listing
    (ObjectStorageSetup.scala:79-93; OCI exposes an S3-compatible endpoint,
    so the same client serves both — set ``endpoint_url``).
    """

    bucket: str
    endpoint_url: str | None = None
    max_keys: int = 1000

    @cached_property
    def _client(self):  # one client for every page this lister lists
        import boto3  # gated: not available in all environments

        return boto3.client("s3", endpoint_url=self.endpoint_url)

    def list_keys(self, prefix: str, start_after: str | None = None) -> list[str]:
        kwargs = {"Bucket": self.bucket, "Prefix": prefix, "MaxKeys": self.max_keys}
        if start_after:
            kwargs["StartAfter"] = start_after
        keys = [o["Key"] for o in self._client.list_objects_v2(**kwargs).get("Contents", [])]
        # spurious non-prefix keys are dropped (reference warns, S3Setup.scala:96-99)
        return sorted(k for k in keys if k.startswith(prefix))

    def object_uri(self, key: str) -> str:
        return f"s3a://{self.bucket}/{key}"


def pages(lister: Lister, prefix: str, start_after: str | None) -> Iterator[list[str]]:
    """Every listing page under ``prefix``, each resuming ``start_after``
    the previous page's last key, until an empty page — a lister capped at
    N keys/page (every real object store) would otherwise stall a cursor at
    key N+1 forever. A lister that ignores ``start_after`` (its page does
    not advance past it) ends the listing after that page."""
    while True:
        page = lister.list_keys(prefix, start_after=start_after)
        if not page:
            return
        yield page
        if start_after is not None and page[-1] <= start_after:
            return  # lister ignored start_after — no forward progress
        start_after = page[-1]


def _load(source: Any, spark: SparkSession, key: str) -> DataFrame:
    """Object ``key`` of ``source``'s lister as a DataFrame: its
    ``read_object`` (default ``spark.read.text``: utf8 + splitLines,
    S3Setup.scala:133) on the lister's URI, then its ``decode``."""
    uri = source.lister.object_uri(key)
    df = spark.read.text(uri) if source.read_object is None else source.read_object(spark, uri)
    return df if source.decode is None else source.decode(df)


# ---------------------------------------------------------------------------
# engine sources
# ---------------------------------------------------------------------------

@dataclass
class ObjectCursorSource:
    """One-object-per-iteration source with a time or numeric key cursor.

    ``cursor_kind``: 'instant' (state = ISO instant; keys embed a formatted
    timestamp) or 'number' (state = int). Each iteration:

    1. list keys under ``prefix`` (driver, metadata-only),
    2. find the next key after the cursor (strict order — objects are
       consumed exactly once, in key order, per FIXTURES.md §2-3),
    3. read that object's lines as a DataFrame (executors),
    4. advance the cursor; no next key → no progress (engine polls).
    """

    lister: Lister
    prefix: str
    cursor_kind: str = "instant"  # or "number"
    fmt: str = "%Y-%m-%d %H:%M:%S"
    initial_instant: datetime = datetime(1970, 1, 1, tzinfo=timezone.utc)
    initial_number: int = 0
    decode: Callable[[DataFrame], DataFrame] | None = None
    read_object: Callable[[SparkSession, str], DataFrame] | None = None
    #: True when lexicographic key order == cursor order (ISO timestamps,
    #: zero-padded numbers). Enables O(1) listing: resume from the last
    #: consumed key via ``start_after`` and stop at the first page with a
    #: candidate. False (safe default) scans every page — correct for any
    #: key format (bare numbers: 'prefix10' < 'prefix9' lexicographically,
    #: the trap tests/test_cursors.py pins) at O(total keys) per iteration.
    monotonic_keys: bool = False

    def _cursor(self) -> tuple[Any, Callable[[str], Any], Callable, Callable]:
        """What ``cursor_kind`` decides: the initial cursor as the state
        stores it, ``parse(key)`` -> cursor value, and the value's load from
        and dump to the state."""
        if self.cursor_kind == "instant":
            return (
                self.initial_instant.isoformat(),
                lambda k: parse_instant_from_key(k, self.prefix, self.fmt),
                datetime.fromisoformat,
                datetime.isoformat,
            )
        return self.initial_number, lambda k: parse_number_from_key(k, self.prefix), int, int

    def initial_state(self) -> Any:
        return {"cursor": self._cursor()[0]}

    def state_fingerprint(self) -> str:
        return fingerprint("object-cursor", self.prefix, self.cursor_kind, self.fmt, self._cursor()[0])

    def _key_for(
        self, cursor: Any, parse: Callable[[str], Any], last_key: str | None
    ) -> tuple[str, Any] | None:
        """:func:`next_key` over every listing page; with ``monotonic_keys``
        from ``last_key`` on, stopping at the first page with a hit (key
        order == cursor order: that hit is the smallest)."""
        best = None
        for page in pages(self.lister, self.prefix, last_key if self.monotonic_keys else None):
            hit = next_key(page, cursor, parse)
            if hit is not None and (best is None or hit[1] < best[1]):
                best = hit
            if best is not None and self.monotonic_keys:
                break
        return best

    def iteration(self, state: Any, spark: SparkSession) -> tuple[DataFrame | None, Any]:
        _, parse, load, dump = self._cursor()
        hit = self._key_for(load(state["cursor"]), parse, state.get("last_key"))
        if hit is None:
            return None, state  # no new object yet — poll (non-blocking)
        key, value = hit
        return _load(self, spark, key), {"cursor": dump(value), "last_key": key}


# ---------------------------------------------------------------------------
# OCI Object Storage surface (ObjectStorageSetup.scala:32-119)
# ---------------------------------------------------------------------------

def oci_s3_compat_endpoint(namespace: str, region: str) -> str:
    """OCI's S3-compatibility endpoint for a tenancy namespace (public OCI
    URL scheme) — pass as ``S3Lister.endpoint_url`` to list/read OCI buckets
    with the same client as S3."""
    return f"https://{namespace}.compat.objectstorage.{region}.oraclecloud.com"


def objects_cursor(start_after: str | None = None, current: str | None = None) -> dict:
    """The reference's ``ObjectsCursor(startAfter, current)`` state shape
    (example OciObjectStorageSimple.scala:34-44) as a JSON-serializable
    checkpoint record."""
    return {"start_after": start_after, "current": current}


@dataclass
class OciObjectStorageSource:
    """Faithful analog of the reference's OCI ``ObjectStorageSetup`` state
    machine (ObjectStorageSetup.scala:69-93), over any :class:`Lister`.

    Per iteration, exactly like the reference:

    1. list object names under ``prefix`` resuming at ``start_after(state)``
       (driver, metadata-only),
    2. the *next* object = first listed name accepted by
       ``object_name_finder`` (reference line 90),
    3. process ``object_name(state)`` — the object discovered by the
       *previous* iteration (discovery and processing are offset by one
       iteration, reference lines 69-78 vs 92),
    4. fold the next name into the state via ``state_fold``.

    The default callbacks implement the reference example's sequential
    cursor (``ObjectsCursor``): every object is processed exactly once, in
    listing order, skipping names the finder rejects. The reference's
    1-minute sleep on an idle fold is the engine's poll/backoff here.

    State identity mirrors ``stateKey = hash(namespace) + hash(bucket) +
    hash(prefix)`` (ObjectStorageSetup.scala:48-53): changing any of the
    three orphans the old checkpoint.

    Scale: listing is names-only on the driver; object bytes are read by
    executors via ``spark.read`` against the lister's URI (for OCI over the
    S3-compat endpoint: s3a + ``fs.s3a.endpoint``).
    """

    lister: Lister
    namespace: str
    bucket: str
    prefix: str = ""
    object_name_finder: Callable[[str], bool] = staticmethod(lambda _name: True)
    object_name: Callable[[Any], str | None] = staticmethod(lambda s: s["current"])
    start_after: Callable[[Any], str | None] = staticmethod(lambda s: s["start_after"])
    state_fold: Callable[[Any, str | None], Any] | None = None

    def initial_state(self) -> Any:
        return objects_cursor()

    def state_fingerprint(self) -> str:
        return (
            fingerprint("oci-namespace", self.namespace)
            + fingerprint("oci-bucket", self.bucket)
            + fingerprint("oci-prefix", self.prefix)
        )

    def _default_fold(self, state: Any, next_name: str | None) -> Any:
        # example OciObjectStorageSimple.scala:39-43: a discovered name
        # becomes both the resume point and the object to process next
        # iteration; no discovery clears `current` (idle — engine polls).
        if next_name is not None:
            return objects_cursor(start_after=next_name, current=next_name)
        return objects_cursor(start_after=state["start_after"], current=None)

    def _next_name(self, start_after: str | None) -> str | None:
        for page in pages(self.lister, self.prefix, start_after):
            for name in page:
                if self.object_name_finder(name):
                    return name
        return None

    def iteration(self, state: Any, spark: SparkSession) -> tuple[DataFrame | None, Any]:
        next_name = self._next_name(self.start_after(state))
        current = self.object_name(state)
        df = None if current is None else spark.read.text(self.lister.object_uri(current))
        fold = self.state_fold or self._default_fold
        new_state = fold(state, next_name)
        if df is None and new_state == state:
            return None, state  # idle — engine polls with backoff
        return df, new_state
