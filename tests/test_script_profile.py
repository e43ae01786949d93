"""Unicode-script profiling (functions/text.py script_count_cols /
dominant_script_sql) — the multilingual routing signal."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.functions.text import (
    SCRIPT_PATTERNS,
    dominant_script_sql,
    script_count_cols,
)


def _profile(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    counts = df.select(*script_count_cols(F.col("text")))
    return counts.selectExpr("*", f"{dominant_script_sql()} AS script_pred").collect()[0]


def test_counts_per_script_and_dominant(spark):
    r = _profile(spark, "hello Привет 你好 こんにちは مرحبا 안녕")
    assert r.n_latin == 5
    assert r.n_cyrillic == 6
    assert r.n_cjk == 7  # 2 Han + 5 hiragana
    assert r.n_arabic == 5
    assert r.n_hangul == 2
    assert r.script_pred == "cjk"


def test_dominant_tiebreak_alphabetical_and_none(spark):
    # latin 2 vs cyrillic 2 -> alphabetical-first wins (cyrillic < latin)
    r = _profile(spark, "ab Пр 123")
    assert (r.n_latin, r.n_cyrillic) == (2, 2)
    assert r.script_pred == "cyrillic"
    # digits/punct only -> no script chars at all
    assert _profile(spark, "123 .,;!").script_pred == "none"


def test_latin_extended_counts_and_duckdb_parity(spark):
    """The literal-range patterns are the Java-regex/RE2 common subset:
    identical pattern strings must count identically in DuckDB."""
    import duckdb

    text = "café señor Đorđe Привет 你好 ａ"  # Ext letters in, fullwidth 'ａ' out
    r = _profile(spark, text)
    con = duckdb.connect()
    for name, pat in sorted(SCRIPT_PATTERNS.items()):
        want = con.execute(
            "SELECT len(regexp_extract_all(?, ?))", [text, pat]
        ).fetchone()[0]
        assert getattr(r, f"n_{name}") == want, name
    assert r.n_latin == 14  # é ñ Đ đ all inside C0-24F; fullwidth ａ excluded


def test_gate_stages_script_counts_once(spark):
    """Plan pin for the staged-counts fix: each script pattern must be
    evaluated exactly ONCE in the text_profile plan — the dominant-script
    chain references every count ~3x, and an unstaged form re-inlines the
    regexp per reference (measured +47% on the gate)."""
    from tamer_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    df = REGISTRY["text_profile"].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for name, pat in SCRIPT_PATTERNS.items():
        assert plan.count(pat) == 1, (name, plan.count(pat))
