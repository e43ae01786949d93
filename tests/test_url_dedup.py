"""URL canonicalization (functions/text.canonicalize_url_sql) and URL-level
dedup (operators/dedup.url_dedup_counts) — the CCNet/RefinedWeb first-stage
dedup key. Handcrafted behavior pins for every canonicalization step, a
three-way differential (Spark = pure-Python reference; the DuckDB leg runs
in the dedup_exact gate's 'url' variant), and the plan posture."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from tamer_spark.functions.text import (
    URL_DEFAULT_PORT_RE,
    URL_FRAGMENT_RE,
    URL_HOSTPORT_RE,
    URL_PATH_RE,
    URL_QUERY_RE,
    URL_SCHEME_RE,
    URL_TRACKING_PARAM_RE,
    URL_TRAILING_SLASH_RE,
    URL_WWW_RE,
    canonicalize_url_sql,
)


def canonicalize_url_py(url: str) -> str:
    """Pure-Python reference of canonicalize_url_sql (stdlib re only — a
    third engine besides Spark and DuckDB), built from the same constants."""
    s = re.sub(URL_SCHEME_RE, "", url)
    m = re.match(URL_HOSTPORT_RE, s)
    hostport_raw = m.group(0) if m else ""
    host = re.sub(URL_DEFAULT_PORT_RE, "", re.sub(URL_WWW_RE, "", hostport_raw.lower()))
    rest = re.sub(URL_FRAGMENT_RE, "", s[len(hostport_raw):])
    pm = re.match(URL_PATH_RE, rest)
    path = re.sub(URL_TRAILING_SLASH_RE, "", pm.group(0) if pm else "")
    qm = re.match(URL_QUERY_RE, rest)
    kept = sorted(
        p
        for p in (qm.group(1) if qm else "").split("&")
        if p and not re.match(URL_TRACKING_PARAM_RE, p)
    )
    return host + path + ("?" + "&".join(kept) if kept else "")


def _canon(spark, urls: list[str]) -> list[str]:
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    return [r.c for r in df.select(F.expr(canonicalize_url_sql("u")).alias("c")).collect()]


def test_scheme_www_port_fragment_stripped(spark):
    got = _canon(spark, [
        "http://www.example.com/a",
        "HTTPS://WWW.EXAMPLE.COM:443/a",
        "https://example.com:80/a#frag",
        "ftp+ssh://example.com/a",
    ])
    assert got == ["example.com/a"] * 4


def test_host_lowercased_path_case_kept(spark):
    # the host is case-insensitive by spec; the path is NOT — /Docs and
    # /docs are distinct resources and must stay distinct
    got = _canon(spark, ["http://ExAmPle.COM/Docs/X", "http://example.com/docs/x"])
    assert got[0] == "example.com/Docs/X"
    assert got[0] != got[1]


def test_tracking_params_dropped_survivors_sorted(spark):
    got = _canon(spark, [
        "http://e.com/p?utm_source=a&id=5&lang=en&utm_campaign=b",
        "http://e.com/p?lang=en&gclid=xyz&id=5",
        "http://e.com/p?fbclid=1&msclkid=2&ref_src=x&id=5&lang=en",
        "http://e.com/p?id=5&lang=en",
    ])
    assert got == ["e.com/p?id=5&lang=en"] * 4


def test_bare_ref_is_content_not_tracking(spark):
    # r11 ADVICE: 'ref' is a common content param (?ref=<branch> on code
    # hosts) — it must SURVIVE canonicalization so distinct resources keep
    # distinct dedup keys; only ref_src (the social-share tracker) drops
    got = _canon(spark, [
        "http://e.com/repo/file?ref=main",
        "http://e.com/repo/file?ref=dev",
        "http://e.com/repo/file?ref=main&ref_src=twsrc",
    ])
    assert got[0] == "e.com/repo/file?ref=main"
    assert got[1] == "e.com/repo/file?ref=dev"
    assert got[0] != got[1]  # distinct branches stay distinct resources
    assert got[2] == got[0]  # ref_src still stripped


def test_all_params_tracking_means_no_query(spark):
    got = _canon(spark, ["http://e.com/p?utm_source=a&utm_medium=b", "http://e.com/p"])
    assert got == ["e.com/p", "e.com/p"]


def test_trailing_slash_and_empty_path(spark):
    got = _canon(spark, [
        "http://e.com/a/b/",
        "http://e.com/a/b",
        "http://e.com/",
        "http://e.com",
    ])
    assert got[0] == got[1] == "e.com/a/b"
    assert got[2] == got[3] == "e.com"


def test_fragment_dropped_before_query_parse(spark):
    # a fragment after the query must not leak into the last param
    got = _canon(spark, ["http://e.com/p?id=5&lang=en#sec-2", "http://e.com/p?lang=en&id=5"])
    assert got == ["e.com/p?id=5&lang=en"] * 2


def test_non_tracking_ref_like_params_kept(spark):
    # 'referrer=' is NOT in the tracking list (anchored match) — kept
    got = _canon(spark, ["http://e.com/p?referrer=x&id=1"])
    assert got == ["e.com/p?id=1&referrer=x"]


def test_differential_spark_matches_python_reference(spark):
    """Spark chain == pure-Python re reference over the gate's full derived
    six-dimension URL space (doc_id 0..479 covers every residue combo of
    2/3/4/5/6/8 and the 160-cycle canonical key)."""
    from tamer_spark.queries import _derived_url_col

    df = (
        spark.range(480)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", _derived_url_col().alias("url"))
        .select("doc_id", "url", F.expr(canonicalize_url_sql("url")).alias("c"))
    )
    rows = df.collect()
    assert len(rows) == 480
    for r in rows:
        assert r.c == canonicalize_url_py(r.url), (r.url, r.c)
    # the pinned collapse property: canonical key is a function of
    # doc_id % 160 and NOTHING else
    by_mod = {}
    for r in rows:
        by_mod.setdefault(r.doc_id % 160, set()).add(r.c)
    assert all(len(v) == 1 for v in by_mod.values())
    assert len({next(iter(v)) for v in by_mod.values()}) == 160


def test_url_dedup_counts_groups_and_keeps_min(spark):
    from tamer_spark.operators.dedup import url_dedup_counts

    df = spark.createDataFrame(
        [
            (1, "http://www.a.com/x?utm_source=z"),
            (2, "HTTPS://A.COM:443/x/"),
            (7, "http://a.com/x"),
            (9, "http://b.com/x"),
        ],
        "doc_id long, url string",
    )
    out = {r.content_hash: r for r in url_dedup_counts(df).collect()}
    a_hash = hashlib.md5(b"a.com/x").hexdigest()
    b_hash = hashlib.md5(b"b.com/x").hexdigest()
    assert set(out) == {a_hash, b_hash}
    assert out[a_hash].keep_id == 1 and out[a_hash].dup_count == 3
    assert out[b_hash].keep_id == 9 and out[b_hash].dup_count == 1


def test_url_dedup_plan_single_shuffle_no_text_scan(spark):
    """The whole point of URL-first dedup at 100 TB: one digest shuffle and
    the text column NEVER read."""
    from tamer_spark.plans import explain_str, plan_shape, read_schema_columns
    from tamer_spark.queries import url_dedup_docs_q

    df = url_dedup_docs_q(spark, "/root/testdata/sf0.001")
    assert plan_shape(df).shuffles == 1, explain_str(df)
    scans = read_schema_columns(df)
    assert scans and all(s <= {"doc_id"} for s in scans), scans


def test_null_urls_singleton_not_merged_not_dropped(spark):
    """Review fix (two traps): NULL urls must neither collapse into one
    NULL-key dup group (one survivor per corpus of url-less docs) NOR be
    excluded from the output (the keep_id semi-join pattern would then
    drop every url-less doc). Each becomes its own singleton group."""
    from tamer_spark.operators.dedup import url_dedup_counts

    df = spark.createDataFrame(
        [(1, "http://a.com/x"), (2, None), (3, None), (4, "http://a.com/x/")],
        "doc_id long, url string",
    )
    out = {r.content_hash: r for r in url_dedup_counts(df).collect()}
    assert len(out) == 3  # one url group + two NULL singletons
    a_hash = hashlib.md5(b"a.com/x").hexdigest()
    assert out[a_hash].keep_id == 1 and out[a_hash].dup_count == 2
    assert out["nullurl-2"].keep_id == 2 and out["nullurl-2"].dup_count == 1
    assert out["nullurl-3"].keep_id == 3 and out["nullurl-3"].dup_count == 1
    # the semi-join keep pattern retains every url-less doc
    keeps = {r.keep_id for r in out.values()}
    assert {2, 3} <= keeps


def test_lowercase_length_change_does_not_eat_path_slash(spark):
    """Review fix: lower('İ') is 2 chars — slicing rest-of-URL with the
    LOWERED hostport length swallowed the path's '/', merging distinct
    resources. The slice now uses the raw length (all three engines)."""
    urls = ["http://İ.com/a", "http://İ.coma", "http://İ.com/ab"]
    got = _canon(spark, urls)
    # the path separator survives, so host/path keep their boundary
    assert got[0].endswith("/a") and got[2].endswith("/ab")
    assert len(set(got)) == 3  # three distinct resources stay distinct
    for u, c in zip(urls, got):
        assert c == canonicalize_url_py(u)


def test_url_incremental_epoch_loop_matches_batch(spark):
    """The CURATION.md §0 incremental recipe, driven end to end: canonical
    url keys folded through dedup_exact_incremental against an advancing
    index keep EXACTLY the docs one full-corpus url_dedup_counts keeps.
    Derived six-dimension URL space (canonical key = doc_id % 160); epochs
    split so dups occur both WITHIN a batch (ids 160-199 dup ids 0-39
    inside epoch 1) and ACROSS batches (epoch 2/3 keys re-hit the index).
    Ids increase over time, so first-occurrence-wins agrees between the
    two formulations — the same invariant the text-tier epoch tests pin."""
    from tamer_spark.operators.dedup import url_dedup_counts
    from tamer_spark.operators.dedup_incremental import (
        append_keys,
        dedup_exact_incremental,
    )
    from tamer_spark.queries import _derived_url_col

    full = (
        spark.range(480)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", _derived_url_col().alias("url"))
    )
    want = sorted(r.keep_id for r in url_dedup_counts(full).collect())

    bounds = [(0, 200), (200, 400), (400, 480)]
    idx = spark.createDataFrame([], "content_hash string")
    survivors: list[int] = []
    for lo, hi in bounds:
        batch = full.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).select(
            "doc_id", "url", F.expr(canonicalize_url_sql("url")).alias("curl")
        )
        s = dedup_exact_incremental(batch, idx, text_col="curl")
        survivors.extend(r.doc_id for r in s.collect())
        idx = append_keys(idx, s.select("content_hash"))
    assert sorted(survivors) == want


def test_url_incremental_null_urls_bypass_fold(spark):
    """NULL-url docs never enter the epoch fold (md5(NULL) is a NULL key:
    the in-batch window would collapse ALL url-less docs to one survivor —
    the exact trap the batch operator's nullurl-singleton rule exists for).
    The recipe splits them out per epoch and keeps every one, matching
    url_dedup_counts' singleton semantics on the full corpus."""
    from tamer_spark.operators.dedup import url_dedup_counts
    from tamer_spark.operators.dedup_incremental import (
        append_keys,
        dedup_exact_incremental,
    )

    rows = [
        (1, "http://a.com/x"),
        (2, None),
        (3, "http://www.a.com/x/"),   # dup of 1 after canonicalization
        (4, None),
        (5, "http://b.com/y"),
        (6, "HTTPS://A.COM:443/x"),   # dup of 1, later epoch
        (7, None),
    ]
    full = spark.createDataFrame(rows, "doc_id long, url string")
    want = sorted(r.keep_id for r in url_dedup_counts(full).collect())

    idx = spark.createDataFrame([], "content_hash string")
    survivors: list[int] = []
    for lo, hi in [(1, 5), (5, 8)]:
        batch = full.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        nulls = batch.filter(F.col("url").isNull())
        survivors.extend(r.doc_id for r in nulls.collect())  # always kept
        withkey = batch.filter(F.col("url").isNotNull()).select(
            "doc_id", F.expr(canonicalize_url_sql("url")).alias("curl")
        )
        s = dedup_exact_incremental(withkey, idx, text_col="curl")
        survivors.extend(r.doc_id for r in s.collect())
        idx = append_keys(idx, s.select("content_hash"))
    assert sorted(survivors) == want == [1, 2, 4, 5, 7]


def test_hypothesis_fuzz_spark_matches_python(spark):
    """Adversarial URL-shaped strings (multiple '?'/'#', empty params,
    repeated separators, userinfo-ish '@', stray ports): the Spark chain
    and the pure-Python reference must agree on every input — they are
    mirrored step-for-step, so any divergence is a real regex-semantics
    drift between engines."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    alphabet = st.sampled_from(list("abXY019./?#&=:@_-~%+"))
    urlish = st.text(alphabet=alphabet, min_size=0, max_size=40).map(
        lambda t: "http://" + t
    )

    @given(st.lists(urlish, min_size=1, max_size=30, unique=True))
    @settings(max_examples=15, deadline=None)
    def check(urls):
        got = _canon(spark, urls)
        for u, c in zip(urls, got):
            assert c == canonicalize_url_py(u), u

    check()
