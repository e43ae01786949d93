"""Registrable-domain extraction + per-domain rollup
(functions/text.registrable_domain_col, operators/dedup.domain_doc_counts —
the CCNet per-domain aggregation key). Pins every heuristic branch, the
three-engine differential over the gate's derivation space, the singleton
rules, and the map-only plan posture."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from tamer_spark.functions.text import (
    IPV4_HOST_RE,
    TWO_LEVEL_SUFFIXES,
    URL_ANY_PORT_RE,
    URL_HOSTPORT_RE,
    URL_SCHEME_RE,
    URL_WWW_RE,
    registrable_domain_col,
)
from tamer_spark.operators.dedup import domain_doc_counts


def registrable_domain_py(url: str) -> str:
    """Pure-Python reference of registrable_domain_col (stdlib re only —
    the third engine), built from the same constants."""
    s = re.sub(URL_SCHEME_RE, "", url)
    m = re.match(URL_HOSTPORT_RE, s)
    hostport = (m.group(0) if m else "").lower()
    host = re.sub(URL_ANY_PORT_RE, "", re.sub(URL_WWW_RE, "", hostport))
    if re.match(IPV4_HOST_RE, host):
        return host
    labels = host.split(".")
    if len(labels) >= 3 and ".".join(labels[-2:]) in TWO_LEVEL_SUFFIXES:
        return ".".join(labels[-3:])
    if len(labels) >= 2:
        return ".".join(labels[-2:])
    return host


def _dom(spark, urls: list[str]) -> list[str]:
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    return [r.d for r in df.select(registrable_domain_col(F.col("u")).alias("d")).collect()]


def test_subdomains_collapse_to_one_publisher(spark):
    got = _dom(spark, [
        "https://WWW.News.Example.COM/a",
        "http://blog.example.com/b",
        "http://shop.cdn.example.com:8080/c",
        "https://example.com/d",
    ])
    assert got == ["example.com"] * 4


def test_two_level_suffix_takes_three_labels(spark):
    got = _dom(spark, [
        "http://shop.acme.co.uk/x",
        "http://www.acme.co.uk/y",
        "http://acme.co.uk/z",
        "http://other.co.uk/w",
    ])
    assert got[:3] == ["acme.co.uk"] * 3
    assert got[3] == "other.co.uk"  # different publisher stays distinct


def test_ipv4_host_returned_whole(spark):
    # 'last two labels' of an IP are meaningless — never group 10.1.0.1
    # with 20.2.0.1 under '0.1'
    got = _dom(spark, ["http://10.1.0.1/p", "HTTP://10.2.0.1:9000/q"])
    assert got == ["10.1.0.1", "10.2.0.1"]


def test_single_label_and_any_port(spark):
    got = _dom(spark, ["http://localhost/z", "http://localhost:8080/z"])
    assert got == ["localhost", "localhost"]


def test_hostless_and_null(spark):
    df = spark.createDataFrame([("/rel/path?x=1",), (None,)], "u string")
    got = df.select(registrable_domain_col(F.col("u")).alias("d")).collect()
    assert got[0].d == "" and got[1].d is None


def test_differential_spark_matches_python_reference(spark):
    """Spark chain == pure-Python reference over the gate's full derived
    domain-URL space (doc_id 0..139 covers every (mod 7, mod 20, mod 5)
    combo)."""
    from tamer_spark.queries import _derived_domain_url_col

    rows = (
        spark.range(140)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", _derived_domain_url_col().alias("url"))
        .select("url", registrable_domain_col(F.col("url")).alias("d"))
        .collect()
    )
    assert len(rows) == 140
    for r in rows:
        assert r.d == registrable_domain_py(r.url), (r.url, r.d)


def test_hypothesis_fuzz_spark_matches_python(spark):
    """Adversarial URL-shaped strings (dot runs, empty labels, stray
    ports, digits-only hosts that straddle the IPv4 guard, userinfo-ish
    '@'): the Spark chain and the pure-Python reference must agree on
    every input — the same mirrored-step contract as the canonicalizer
    fuzz."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    alphabet = st.sampled_from(list("ab09.:/wxyz-@"))
    urlish = st.text(alphabet=alphabet, min_size=0, max_size=24).map(
        lambda t: "http://" + t
    )

    @given(st.lists(urlish, min_size=1, max_size=30, unique=True))
    @settings(max_examples=15, deadline=None)
    def check(urls):
        got = _dom(spark, urls)
        for u, d in zip(urls, got):
            assert d == registrable_domain_py(u), (u, d)

    check()


def test_domain_doc_counts_singleton_rules(spark):
    """NULL urls AND host-less relative refs are nulldomain singletons —
    neither merged into one group nor dropped (the url_dedup_counts
    two-trap rule applied to the domain key)."""
    df = spark.createDataFrame(
        [
            (1, "http://a.example.com/x"),
            (2, "http://b.example.com/y"),
            (3, None),
            (4, "/relative/only"),
            (5, "http://other.net/z"),
        ],
        "doc_id long, url string",
    )
    out = {r.content_hash: r for r in domain_doc_counts(df).collect()}
    ex = hashlib.md5(b"example.com").hexdigest()
    on = hashlib.md5(b"other.net").hexdigest()
    assert out[ex].keep_id == 1 and out[ex].dup_count == 2
    assert out[on].keep_id == 5 and out[on].dup_count == 1
    assert out["nulldomain-3"].dup_count == 1 and out["nulldomain-4"].dup_count == 1
    assert len(out) == 4


def test_rollup_plan_single_shuffle_no_text_scan(spark):
    """Identical posture to url dedup: one digest shuffle, doc_id-only
    scan — the text column never read for a domain verdict."""
    from tamer_spark.plans import plan_shape, read_schema_columns
    from tamer_spark.queries import domain_rollup_docs_q

    df = domain_rollup_docs_q(spark, "/root/testdata/sf0.001")
    assert plan_shape(df).shuffles == 1
    scans = read_schema_columns(df)
    assert scans and all(s <= {"doc_id"} for s in scans), scans
