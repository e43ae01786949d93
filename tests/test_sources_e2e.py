"""End-to-end source tests through the engine loop, mirroring the
reference's docker-compose fixtures (FIXTURES.md §2-4) without Docker:
object-cursor over a tmp dir, REST against an in-process HTTP server,
JDBC-tumbling with a parquet-backed read seam."""

from __future__ import annotations

import json
import threading
from datetime import datetime, timedelta, timezone
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql import functions as F

from tamer_spark.engine import Pipeline
from tamer_spark.sinks import MemorySink, ParquetEpochSink
from tamer_spark.sources import (
    BearerAuth,
    JdbcTumblingSource,
    LocalFSLister,
    ObjectCursorSource,
    PaginatedRestSource,
)
from tests.conftest import CacheWatch

UTC = timezone.utc


# --- object store: time-keyed (FIXTURES §2) -------------------------------

def test_object_cursor_timed_consumes_in_order(spark, tmp_path):
    root = tmp_path / "bucket"
    (root / "myFolder").mkdir(parents=True)
    for i in range(1, 6):
        (root / "myFolder" / f"myPrefix2021-01-01T00.0{i}.00.txt").write_text(
            f"line-{i}-a\nline-{i}-b\n"
        )
    src = ObjectCursorSource(
        lister=LocalFSLister(str(root)),
        prefix="myFolder/myPrefix",
        cursor_kind="instant",
        fmt="%Y-%m-%dT%H.%M.%S",
    )
    sink = MemorySink()
    pipe = Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0)
    pipe.run(spark, max_iterations=7)  # 5 objects + 2 empty polls
    values = [r.value for r in sink.rows]
    assert values == [f"line-{i}-{s}" for i in range(1, 6) for s in "ab"]
    # new object appears later → picked up, exactly once
    (root / "myFolder" / "myPrefix2021-01-01T00.06.00.txt").write_text("late\n")
    pipe2 = Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0)
    pipe2.run(spark, max_iterations=1)
    assert [r.value for r in sink.rows][-1] == "late"


def test_object_cursor_numeric(spark, tmp_path):
    root = tmp_path / "bucket2"
    (root / "myFolder2").mkdir(parents=True)
    for n in (1, 2, 10):  # lexicographic trap: 10 must come after 2
        (root / "myFolder2" / f"myPrefix{n}").write_text(f"obj{n}\n")
    src = ObjectCursorSource(
        lister=LocalFSLister(str(root)), prefix="myFolder2/myPrefix", cursor_kind="number"
    )
    sink = MemorySink()
    Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0).run(spark, max_iterations=4)
    assert [r.value for r in sink.rows] == ["obj1", "obj2", "obj10"]


def test_object_cursor_pages_past_listing_cap(spark, tmp_path):
    """With more objects than one listing page returns, the cursor must page
    via start_after instead of stalling at key max_keys+1 forever."""
    root = tmp_path / "bucket3"
    (root / "d").mkdir(parents=True)
    for n in range(1, 8):  # 7 objects, pages of 2
        (root / "d" / f"k{n}").write_text(f"obj{n}\n")
    src = ObjectCursorSource(
        lister=LocalFSLister(str(root), max_keys=2), prefix="d/k", cursor_kind="number"
    )
    sink = MemorySink()
    Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0).run(spark, max_iterations=8)
    assert [r.value for r in sink.rows] == [f"obj{n}" for n in range(1, 8)]


def test_object_cursor_monotonic_fastpath_resumes_from_last_key(spark, tmp_path):
    """Zero-padded keys: monotonic_keys=True lists from the last consumed key
    (O(1) per iteration) and still consumes everything in order."""
    root = tmp_path / "bucket4"
    (root / "d").mkdir(parents=True)
    listed_args = []

    class SpyLister(LocalFSLister):
        def list_keys(self, prefix, start_after=None):
            listed_args.append(start_after)
            return super().list_keys(prefix, start_after)

    for n in range(1, 6):
        (root / "d" / f"k{n:04d}").write_text(f"obj{n}\n")
    src = ObjectCursorSource(
        lister=SpyLister(str(root), max_keys=2),
        prefix="d/k",
        cursor_kind="number",
        monotonic_keys=True,
    )
    sink = MemorySink()
    Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0).run(spark, max_iterations=6)
    assert [r.value for r in sink.rows] == [f"obj{n}" for n in range(1, 6)]
    # after the first object, every listing resumes from a consumed key
    assert any(a is not None for a in listed_args)


# --- REST: growing finite pagination + rotating bearer (FIXTURES §4-5) ----

class _RestFixture(BaseHTTPRequestHandler):
    """Reference RESTServer.scala:45-88: /finite-pagination grows over time;
    /auth rotates tokens; data requests 403 on stale tokens."""

    state = {"data": list(range(1, 8)), "token_gen": 0}

    def do_GET(self):
        s = _RestFixture.state
        if self.path.startswith("/auth"):
            s["token_gen"] += 1
            self._ok(f"token-{s['token_gen']}")
            return
        auth = self.headers.get("Authorization", "")
        if auth != f"Bearer token-{s['token_gen']}":
            self.send_response(403)
            self.end_headers()
            return
        page = int(self.path.split("page=")[1])
        chunk = s["data"][page * 3 : page * 3 + 3]
        self._ok(json.dumps([{"value": v} for v in chunk]))

    def _ok(self, body: str):
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body.encode())

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture()
def rest_server():
    srv = HTTPServer(("127.0.0.1", 0), _RestFixture)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_rest_pagination_exactly_once_with_growth_and_auth(spark, tmp_path, rest_server):
    import urllib.request

    def get_token():
        with urllib.request.urlopen(f"{rest_server}/auth") as r:
            return r.read().decode()

    def decode(body):
        return [(d["value"],) for d in json.loads(body)], None

    src = PaginatedRestSource(
        base_url=f"{rest_server}/finite-pagination",
        page_decoder=decode,
        schema="value int",
        fixed_page_element_count=3,
        auth=BearerAuth(get_token),
    )
    sink = MemorySink()
    pipe = Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0)
    pipe.run(spark, max_iterations=4)  # pages 0,1 full; page 2 partial (1 elem)
    assert [r.value for r in sink.rows] == [1, 2, 3, 4, 5, 6, 7]
    # page grows by 2; token rotates (stale → refresh-on-403 path)
    _RestFixture.state["data"] = list(range(1, 10))
    _RestFixture.state["token_gen"] += 1
    pipe2 = Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0)
    pipe2.run(spark, max_iterations=2)
    # partial-page refetch dropped the seen prefix: 8,9 appended exactly once
    assert [r.value for r in sink.rows] == list(range(1, 10))


class _FlakyPages(BaseHTTPRequestHandler):
    """Pages of three values out of 1..9; page 1 answers HTTP 503 to its
    first request."""

    failed: set = set()

    def do_GET(self):
        page = int(self.path.split("page=")[1])
        if page == 1 and not _FlakyPages.failed:
            _FlakyPages.failed.add(page)
            self.send_response(503)
            self.end_headers()
            return
        self.send_response(200)
        self.end_headers()
        self.wfile.write(json.dumps([{"value": v} for v in range(1, 10)[page * 3 : page * 3 + 3]]).encode())

    def log_message(self, *a):  # quiet
        pass


def test_rest_source_retries_a_page_that_answers_503(spark, tmp_path):
    """The engine source's fetch retries a transient 5xx: the page that
    answered 503 is fetched again and the drain delivers every record
    exactly once."""
    _FlakyPages.failed.clear()
    srv = HTTPServer(("127.0.0.1", 0), _FlakyPages)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = PaginatedRestSource(
            base_url=f"http://127.0.0.1:{srv.server_port}/items",
            page_decoder=lambda body: ([(d["value"],) for d in json.loads(body)], None),
            schema="value int",
            fixed_page_element_count=3,
        )
        sink = MemorySink()
        Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0).run(spark, max_iterations=4)
        assert [r.value for r in sink.rows] == list(range(1, 10))
        assert _FlakyPages.failed == {1}
    finally:
        srv.shutdown()


# --- JDBC tumbling window over the users-style fixture (FIXTURES §1) ------

def _users_jdbc_source(spark, tmp_path, stamps, step, wrap=lambda sql, df: df):
    """JdbcTumblingSource over a parquet-backed 'users' table with one row
    per timestamp in ``stamps``; ``wrap(sql, df)`` instruments each read."""
    rows = [(f"id{i:03d}", f"user{i}", ts) for i, ts in enumerate(stamps)]
    schema = "id string, name string, modified_at timestamp"
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(str(tmp_path / "users.parquet"))

    def read_sql(spark_, sql):
        # parquet-backed stand-in for the DB: apply the window predicate that
        # the rendered SQL carries (pushdown simulation); the explicit schema
        # skips parquet's footer-inference job, as a JDBC read has none
        frm, to = sql.split("'")[1], sql.split("'")[3]
        return wrap(sql, (
            spark_.read.schema(schema).parquet(str(tmp_path / "users.parquet"))
            .filter((F.col("modified_at") > frm) & (F.col("modified_at") <= to))
        ))

    t0 = min(stamps)
    src = JdbcTumblingSource(
        url="jdbc:test",
        query_template=(
            "SELECT id, name, modified_at FROM users "
            "WHERE modified_at > '{from_ts}' AND modified_at <= '{to_ts}'"
        ),
        ts_column="modified_at",
        from_ts=t0 - timedelta(seconds=1),
        step=step,
        now_fn=lambda: max(stamps) + timedelta(days=60),
        read_sql=read_sql,
    )
    return src, rows


def test_jdbc_tumbling_ingests_every_row_exactly_once(spark, tmp_path):
    # synthesize a 200-row 'users' table spanning 40 days; the source must
    # ingest all rows across windows, exactly once (FIXTURES.md §1 invariant)
    t0 = datetime(2020, 1, 1, tzinfo=UTC)
    src, rows = _users_jdbc_source(
        spark, tmp_path, [t0 + timedelta(hours=5 * i) for i in range(200)], timedelta(days=5)
    )
    sink = MemorySink()
    pipe = Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0)
    pipe.run(spark, max_iterations=15)
    got = sorted(r.id for r in sink.rows)
    assert got == sorted(r[0] for r in rows)  # every row exactly once
    assert len(got) == 200


# two bursts 19 days apart: 2-day windows leave empty windows between them
_BURSTS = [datetime(2020, 1, 1, tzinfo=UTC) + timedelta(hours=5 * i) for i in range(20)] + [
    datetime(2020, 1, 20, tzinfo=UTC) + timedelta(hours=5 * i) for i in range(20)
]


def _drain(spark, tmp_path, src, sink, observer=None):
    last = max(_BURSTS)
    return Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0, observer=observer).run(
        spark, until=lambda s: datetime.fromisoformat(s["from"]) >= last
    )


def test_jdbc_window_query_runs_once_per_epoch_in_two_jobs(spark, tmp_path):
    """Each window's SQL executes exactly once across source pin, engine
    and sink: the source's observed pin fills the cache, the engine's pin of
    the same object is free, the sink reads cached blocks. A non-empty epoch
    is 2 Spark jobs (the pin's noop pass + the sink's collect); an empty one
    is the pin alone.

    The loop reads one epoch ahead, so epoch N+1's pin runs on the
    read-ahead thread under the job group that was current when it started
    — epoch N's — possibly after N's observer ran. Groups are therefore read
    after the drain: group N holds N's write (if it had rows), N+1's pin (if
    read ahead) and, for N = 0, epoch 0's own pin."""
    sc = spark.sparkContext
    executions = {}

    def wrap(sql, df):
        # count executions of the window's plan: partition 0 runs once per pass
        assert sql not in executions, "a window's SQL was rendered twice"
        executions[sql] = acc = sc.accumulator(0)

        def mark(i, it):
            if i == 0:
                acc.add(1)
            return it

        return spark.createDataFrame(df.rdd.mapPartitionsWithIndex(mark), df.schema)

    src, rows = _users_jdbc_source(spark, tmp_path, _BURSTS, timedelta(days=2), wrap)
    epoch_rows = []

    def group(n):
        return f"jdbc-seam-{tmp_path.name}-{n}"

    def observer(m):
        epoch_rows.append(m.rows)
        sc.setJobGroup(group(m.epoch + 1), "jdbc seam epoch")

    sink = MemorySink()
    sc.setJobGroup(group(0), "jdbc seam epoch")
    try:
        _drain(spark, tmp_path, src, sink, observer)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(r.id for r in sink.rows) == sorted(r[0] for r in rows)
    n_epochs = len(epoch_rows)
    nonempty = sum(1 for n in epoch_rows if n)
    assert nonempty >= 4 and nonempty < n_epochs, epoch_rows
    assert {sql: a.value for sql, a in executions.items()} == {sql: 1 for sql in executions}
    jobs = [len(sc.statusTracker().getJobIdsForGroup(group(e))) for e in range(n_epochs)]
    # every window here progresses the state, so every epoch after the first
    # is read ahead: epoch e + 1 exists exactly when it was
    expected = [(n > 0) + (e + 1 < n_epochs) + (e == 0) for e, n in enumerate(epoch_rows)]
    assert jobs == expected, (epoch_rows, jobs)
    assert sum(jobs) == 2 * nonempty + (n_epochs - nonempty), jobs


def test_jdbc_drain_into_write_ahead_sink_runs_each_window_once(spark, tmp_path):
    """Write-ahead keeps the one-pass epoch: draining into a
    ``ParquetEpochSink`` (writes overlap, chain runs ahead) still executes
    each window's SQL once, for 2 jobs per non-empty epoch (the source pin,
    the parquet write) and 1 per empty one, and no batch stays cached."""
    sc = spark.sparkContext
    executions = {}

    def wrap(sql, df):
        executions[sql] = acc = sc.accumulator(0)

        def mark(i, it):
            if i == 0:
                acc.add(1)
            return it

        return spark.createDataFrame(df.rdd.mapPartitionsWithIndex(mark), df.schema)

    cache = CacheWatch(spark)
    src, rows = _users_jdbc_source(spark, tmp_path, _BURSTS, timedelta(days=2), wrap)
    sink = ParquetEpochSink(str(tmp_path / "out"))
    epoch_rows = []
    group = f"jdbc-write-ahead-{tmp_path.name}"
    sc.setJobGroup(group, "jdbc write-ahead drain")
    try:
        _drain(spark, tmp_path, src, sink, observer=lambda m: epoch_rows.append(m.rows))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    committed = Pipeline(src, sink, str(tmp_path / "cp"))._store().load().epoch
    assert committed == len(epoch_rows)
    assert sorted(r.id for r in sink.read(spark, before=committed).collect()) == sorted(r[0] for r in rows)
    nonempty = sum(1 for n in epoch_rows if n)
    assert nonempty >= 4 and nonempty < len(epoch_rows), epoch_rows
    assert {sql: a.value for sql, a in executions.items()} == {sql: 1 for sql in executions}
    assert jobs == 2 * nonempty + (len(epoch_rows) - nonempty), (epoch_rows, jobs)
    leaked = cache.added()
    assert not leaked, f"run leaked caches: {leaked}"


def test_jdbc_run_with_empty_windows_leaves_no_cached_batch(spark, tmp_path):
    """The source hands every batch, empty ones too, to the engine, and
    the engine unpins each after its write: a drain that crosses empty
    windows adds no persisted RDD (pre-run snapshot — the session is
    shared)."""
    cache = CacheWatch(spark)
    src, rows = _users_jdbc_source(spark, tmp_path, _BURSTS, timedelta(days=2))
    observed = []
    sink = MemorySink()
    _drain(spark, tmp_path, src, sink, observer=lambda m: observed.append(m.rows))
    assert 0 in observed and len(sink.rows) == len(rows)
    leaked = cache.added()
    assert not leaked, f"run leaked caches: {leaked}"


# --- OCI object storage (ObjectStorageSetup.scala state machine) ----------

def test_oci_source_sequential_exactly_once(spark, tmp_path):
    from tamer_spark.sources import LocalFSLister, OciObjectStorageSource

    root = tmp_path / "oci"
    (root / "data").mkdir(parents=True)
    for n in ("a", "b", "c"):
        (root / "data" / f"obj-{n}.txt").write_text(f"payload-{n}\n")
    src = OciObjectStorageSource(
        lister=LocalFSLister(str(root)), namespace="ns1", bucket="bkt", prefix="data/obj-"
    )
    sink = MemorySink()
    # discovery and processing are offset by one iteration (reference
    # semantics): 3 objects need 4 iterations, the first only discovers.
    Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0).run(
        spark, max_iterations=5
    )
    assert [r.value for r in sink.rows] == ["payload-a", "payload-b", "payload-c"]


def test_oci_source_name_finder_skips_rejected(spark, tmp_path):
    from tamer_spark.sources import LocalFSLister, OciObjectStorageSource

    root = tmp_path / "oci2"
    (root / "d").mkdir(parents=True)
    for name in ("d/keep-1.txt", "d/skip-1.tmp", "d/keep-2.txt"):
        (root / name).write_text(name + "\n")
    src = OciObjectStorageSource(
        lister=LocalFSLister(str(root)),
        namespace="ns1",
        bucket="bkt",
        prefix="d/",
        object_name_finder=lambda n: n.endswith(".txt"),
    )
    sink = MemorySink()
    Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0).run(
        spark, max_iterations=5
    )
    assert [r.value for r in sink.rows] == ["d/keep-1.txt", "d/keep-2.txt"]


def test_oci_state_key_tracks_namespace_bucket_prefix(tmp_path):
    from tamer_spark.sources import LocalFSLister, OciObjectStorageSource

    def fp(ns, bkt, pre):
        return OciObjectStorageSource(
            lister=LocalFSLister(str(tmp_path)), namespace=ns, bucket=bkt, prefix=pre
        ).state_fingerprint()

    base = fp("ns", "b", "p")
    assert base == fp("ns", "b", "p")
    # reference stateKey = hash(ns)+hash(bucket)+hash(prefix): any change
    # orphans the old checkpoint
    assert len({base, fp("ns2", "b", "p"), fp("ns", "b2", "p"), fp("ns", "b", "p2")}) == 4


def test_oci_s3_compat_endpoint_shape():
    from tamer_spark.sources import oci_s3_compat_endpoint

    assert (
        oci_s3_compat_endpoint("mytenancy", "us-phoenix-1")
        == "https://mytenancy.compat.objectstorage.us-phoenix-1.oraclecloud.com"
    )
