"""Pins that keep checkpoints and listing costs where they were.

A checkpoint stores the source's ``state_fingerprint()`` and a state that
began as its ``initial_state()``: a change to either orphans every
checkpoint already written, so both are pinned as literals for every source
class. The object-store sources are pinned on how many listing calls each
iteration makes and how many keys those calls return.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pytest

from tamer_spark.sources import (
    BasicAuth,
    JdbcTumblingSource,
    LocalFSLister,
    ObjectCursorSource,
    OciObjectStorageSource,
    PaginatedRestSource,
)

UTC = timezone.utc


def _decode(body):
    return [], None


SOURCES = {
    "jdbc": lambda: JdbcTumblingSource(
        url="jdbc:derby:memory:pins",
        query_template="SELECT * FROM t WHERE ts > '{from_ts}' AND ts <= '{to_ts}'",
        ts_column="ts",
        from_ts=datetime(2020, 1, 1, tzinfo=UTC),
        step=timedelta(hours=1),
    ),
    "object-instant": lambda: ObjectCursorSource(
        lister=LocalFSLister("/nonexistent"), prefix="f/p", fmt="%Y-%m-%dT%H.%M.%S"
    ),
    "object-instant-initial": lambda: ObjectCursorSource(
        lister=LocalFSLister("/nonexistent"),
        prefix="f/p",
        initial_instant=datetime(2021, 1, 1, 0, 1, 44, tzinfo=UTC),
    ),
    "object-number": lambda: ObjectCursorSource(
        lister=LocalFSLister("/nonexistent"), prefix="d/k", cursor_kind="number", initial_number=3
    ),
    "oci": lambda: OciObjectStorageSource(
        lister=LocalFSLister("/nonexistent"), namespace="ns1", bucket="bkt", prefix="data/obj-"
    ),
    "rest": lambda: PaginatedRestSource(
        base_url="http://localhost:1/items",
        page_decoder=_decode,
        schema="value int",
        fixed_page_element_count=3,
        auth=BasicAuth("u", "p"),
    ),
    "rest-periodic": lambda: PaginatedRestSource(
        base_url="http://localhost:1/items?kind=a",
        page_decoder=_decode,
        schema="value int",
        offset_parameter_name="offset",
        increment=10,
        initial_offset=20,
        periodic=True,
        now_fn=lambda: 1700000000.5,
    ),
}

PINNED = {
    "jdbc": (
        "fb7edb16669e9618",
        {"from": "2020-01-01T00:00:00+00:00", "to": "2020-01-01T01:00:00+00:00"},
    ),
    "object-instant": ("9f65397152c37a8d", {"cursor": "1970-01-01T00:00:00+00:00"}),
    "object-instant-initial": ("867f9af78d28fe6a", {"cursor": "2021-01-01T00:01:44+00:00"}),
    "object-number": ("b61d941f4ebfac7e", {"cursor": 3}),
    "oci": (
        "fdc680d8b922550b8f0210eb2aff2d66a43ff5c4db227174",
        {"start_after": None, "current": None},
    ),
    "rest": ("57d3f5ddcde8a7f8", {"offset": 0, "next_index": 0}),
    "rest-periodic": ("dcbb12e5872298e9", {"offset": 20, "period_start": 1700000000.5}),
}


@pytest.mark.parametrize("name", sorted(SOURCES))
def test_fingerprint_and_initial_state_are_pinned(name):
    src = SOURCES[name]()
    assert (src.state_fingerprint(), src.initial_state()) == PINNED[name]


@dataclass
class CountingLister(LocalFSLister):
    """Counts every listing call and the keys it returns."""

    calls: list = field(default_factory=list)

    def list_keys(self, prefix, start_after=None):
        page = super().list_keys(prefix, start_after)
        self.calls.append(len(page))
        return page


def _bucket(tmp_path):
    root = tmp_path / "bucket"
    (root / "d").mkdir(parents=True)
    for n in range(1, 8):  # zero-padded: key order == cursor order
        (root / "d" / f"k{n:04d}").write_text(f"obj{n}\n")
    (root / "d" / "kxyz.tmp").write_text("not a cursor key\n")
    return CountingLister(str(root), max_keys=2)


def _listing_per_iteration(spark, src, lister, iterations):
    """(list calls, keys listed) of each iteration, and the objects read."""
    state, out, objects = src.initial_state(), [], 0
    for _ in range(iterations):
        before = len(lister.calls)
        df, state = src.iteration(state, spark)
        objects += df is not None
        out.append((len(lister.calls) - before, sum(lister.calls[before:])))
    return out, objects


@pytest.mark.parametrize("monotonic", [False, True])
def test_object_cursor_listing_cost_is_pinned(spark, tmp_path, monotonic):
    lister = _bucket(tmp_path)
    src = ObjectCursorSource(lister, "d/k", cursor_kind="number", monotonic_keys=monotonic)
    got, objects = _listing_per_iteration(spark, src, lister, 9)
    assert objects == 7
    if monotonic:  # resumes after the last key, stops at the first hit
        assert got == [(1, 2)] * 7 + [(2, 1)] * 2
    else:  # every page, every iteration
        assert got == [(5, 8)] * 9


def test_oci_listing_cost_is_pinned(spark, tmp_path):
    lister = _bucket(tmp_path)
    src = OciObjectStorageSource(
        lister, namespace="ns1", bucket="bkt", prefix="d/k",
        object_name_finder=lambda n: not n.endswith(".tmp"),
    )
    got, objects = _listing_per_iteration(spark, src, lister, 9)
    assert objects == 7
    assert got == [(1, 2)] * 7 + [(2, 1)] * 2


class FakeS3:
    """``list_objects_v2`` over sorted keys, counting the keys of each call."""

    def __init__(self, keys):
        self.keys, self.calls = sorted(keys), []

    def list_objects_v2(self, Bucket, Prefix, MaxKeys, StartAfter=None, ContinuationToken=None):
        start = int(ContinuationToken) if ContinuationToken else 0
        if StartAfter and not ContinuationToken:
            start = sum(1 for k in self.keys if k <= StartAfter)
        page = [k for k in self.keys[start:] if k.startswith(Prefix)][:MaxKeys]
        self.calls.append(len(page))
        return {
            "Contents": [{"Key": k} for k in page],
            "IsTruncated": start + MaxKeys < len(self.keys),
            "NextContinuationToken": str(start + MaxKeys),
        }


@pytest.mark.parametrize("monotonic", [False, True])
def test_s3_listing_is_one_request_per_page(monkeypatch, monotonic):
    """``S3Lister.list_keys`` is one request; the source's pager pages it,
    so the monotonic cursor lists one page per object, not the whole rest
    of the bucket."""
    from tamer_spark.sources.objectstore import S3Lister

    s3 = FakeS3([f"d/k{n:05d}" for n in range(1, 2501)])
    monkeypatch.setattr(S3Lister, "_client", s3)
    src = ObjectCursorSource(
        S3Lister("b", max_keys=1000), "d/k", cursor_kind="number", monotonic_keys=monotonic,
        read_object=lambda spark, uri: uri,  # the "batch" is the object's URI
    )
    state, got = src.initial_state(), []
    for _ in range(3):
        before = len(s3.calls)
        uri, state = src.iteration(state, None)
        got.append((uri, len(s3.calls) - before, sum(s3.calls[before:])))
    per_object = (1, 1000) if monotonic else (4, 2500)
    assert got == [(f"s3a://b/d/k{n:05d}", *per_object) for n in (1, 2, 3)]


def test_local_lister_takes_root_and_prefix_literally(tmp_path):
    """Glob metacharacters in the root or the prefix are part of the name:
    a root ``run[1]`` lists its keys, and prefix ``p[a]`` matches
    ``p[a]1``, not ``pa1``."""
    root = tmp_path / "run[1]"
    root.mkdir()
    for name in ("part1", "part2", "p[a]1", "pa1"):
        (root / name).write_text("x\n")
    lister = LocalFSLister(str(root))
    assert lister.list_keys("part") == ["part1", "part2"]
    assert lister.list_keys("p[a]") == ["p[a]1"]
