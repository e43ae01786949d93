"""REST as a native Spark data source: executor-parallel batch pages and
checkpoint-resumed streaming whose offset is the pagination cursor."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from tamer_spark.sources.rest_datasource import register
from tamer_spark.streaming.readers import run_available_now_foreach_batch


class _Pages(BaseHTTPRequestHandler):
    state = {"data": list(range(100))}

    def do_GET(self):
        page = int(self.path.split("page=")[1])
        chunk = _Pages.state["data"][page * 10 : page * 10 + 10]
        self.send_response(200)
        self.end_headers()
        self.wfile.write(json.dumps([{"value": v} for v in chunk]).encode())

    def log_message(self, *a):
        pass


@pytest.fixture()
def server():
    _Pages.state["data"] = list(range(100))
    srv = HTTPServer(("127.0.0.1", 0), _Pages)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}/items"
    srv.shutdown()


def test_batch_read_parallel_pages(spark, server):
    register(spark)
    df = (
        spark.read.format("tamer_rest")
        .schema("value int")
        .option("url", server)
        .option("pages", "10")
        .load()
    )
    assert df.rdd.getNumPartitions() == 10  # one partition per page
    assert sorted(r.value for r in df.collect()) == list(range(100))


def test_stream_read_resumes_from_checkpoint(spark, server, tmp_path):
    register(spark)

    def stream():
        return (
            spark.readStream.format("tamer_rest")
            .schema("value int")
            .option("url", server)
            .option("batch_pages", "100")
            .load()
        )

    got: list[int] = []
    run_available_now_foreach_batch(
        stream(), str(tmp_path / "cp"), lambda df, e: got.extend(r.value for r in df.collect()),
        output_mode="append",
    )
    assert sorted(got) == list(range(100))

    # new pages appear; restart from the SAME checkpoint → only new data
    _Pages.state["data"] = list(range(130))
    got2: list[int] = []
    run_available_now_foreach_batch(
        stream(), str(tmp_path / "cp"), lambda df, e: got2.extend(r.value for r in df.collect()),
        output_mode="append",
    )
    assert sorted(got2) == list(range(100, 130))  # exactly-once across restarts


class _FlakyPages(_Pages):
    """``_Pages`` whose page 3 answers HTTP 503 to its first request."""

    failed: set = set()

    def do_GET(self):
        if "page=3" in self.path and not _FlakyPages.failed:
            _FlakyPages.failed.add(3)
            self.send_response(503)
            self.end_headers()
            return
        super().do_GET()


def test_batch_read_retries_a_page_that_answers_503(spark):
    """Executor page fetches go through the engine source's fetch: a
    transient 5xx is retried instead of failing the read."""
    _Pages.state["data"] = list(range(100))
    _FlakyPages.failed.clear()
    srv = HTTPServer(("127.0.0.1", 0), _FlakyPages)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        register(spark)
        df = (
            spark.read.format("tamer_rest")
            .schema("value int")
            .option("url", f"http://127.0.0.1:{srv.server_port}/items")
            .option("pages", "10")
            .load()
        )
        assert sorted(r.value for r in df.collect()) == list(range(100))
        assert _FlakyPages.failed == {3}
    finally:
        srv.shutdown()
