"""Observation-based data-plane metrics and REST fetch retry policy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tamer_spark.errors import TamerError
from tamer_spark.metrics import ingest_quality_metrics, observed
from tamer_spark.sources.rest import Authentication, fetch_with_auth_retry


def test_observed_counts_rows_and_nulls(spark):
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "c")], "id int, v string")
    odf, obs = observed(df)
    assert odf.count() == 3
    m = obs.get
    assert m["rows"] == 3 and m["nulls_v"] == 1 and m["nulls_id"] == 0


def test_ingest_quality_metrics_ts_bounds(spark):
    from datetime import datetime

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (2, datetime(2024, 1, 5))], "id int, ts timestamp"
    )
    odf, obs = ingest_quality_metrics(df, ts_col="ts")
    odf.count()
    m = obs.get
    assert m["min_ts"] == datetime(2024, 1, 1) and m["max_ts"] == datetime(2024, 1, 5)


class _FlakyServer:
    """http_get-level double via monkeypatched urllib is overkill — test the
    retry loop through a local server that 503s twice then succeeds."""


def test_fetch_retries_5xx(tmp_path):
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    hits = {"n": 0}

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            hits["n"] += 1
            if hits["n"] <= 2:
                self.send_response(503)
                self.end_headers()
                return
            self.send_response(200)
            self.end_headers()
            self.wfile.write(json.dumps([1]).encode())

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    body = fetch_with_auth_retry(
        f"http://127.0.0.1:{srv.server_port}/x?page=0", Authentication(), retries=3, backoff_base_s=0.01
    )
    assert body == "[1]" and hits["n"] == 3
    srv.shutdown()


def test_fetch_retries_a_connection_error_after_an_auth_refresh(monkeypatch):
    """The re-request after a 401 refresh goes through the same retry
    policy: 401, then a connection error, then 200 returns the body."""
    from tamer_spark.sources import rest

    replies = iter([(401, "denied"), OSError("connection reset"), (200, "ok")])
    refreshes = []

    def http_get(url, auth, timeout):
        reply = next(replies)
        if isinstance(reply, Exception):
            raise reply
        return reply

    class Auth(Authentication):
        def refresh(self):
            refreshes.append(1)

    monkeypatch.setattr(rest, "http_get", http_get)
    assert fetch_with_auth_retry("http://x/p", Auth(), retries=3, backoff_base_s=0.0) == "ok"
    assert refreshes == [1]


def test_fetch_4xx_fails_fast(tmp_path):
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    hits = {"n": 0}

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            hits["n"] += 1
            self.send_response(400)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    with pytest.raises(TamerError, match="HTTP 400"):
        fetch_with_auth_retry(
            f"http://127.0.0.1:{srv.server_port}/x", Authentication(), retries=3, backoff_base_s=0.01
        )
    assert hits["n"] == 1  # client errors do not retry
    srv.shutdown()
