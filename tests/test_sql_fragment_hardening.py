"""Hardening guards for the one-parse SQL fragment construction (r15,
ADVICE r14): interpolated identifiers must be plain names, the bloom
probe's working columns must not collide with caller columns, the minhash
shingle weights must stay inside BIGINT, the session pins the parser
conf the fragments assume, each expression under functions/ and operators/
has one copy (the SQL fragment) except the two Column/fragment pairs kept
for callers that pass computed Columns, and those two pairs agree.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tamer_spark.functions.ident import safe_ident


def test_safe_ident_accepts_plain_names():
    for n in ("text", "_hs", "doc_id", "A9", "_"):
        assert safe_ident(n) == n


@pytest.mark.parametrize(
    "bad", ["a.b", "a b", "a-b", "`a`", "a'b", "", "1a", "a;drop"]
)
def test_safe_ident_rejects_quotable_names(bad):
    with pytest.raises(ValueError, match="not a plain SQL identifier"):
        safe_ident(bad)


def test_normalize_text_sql_validates_name():
    from tamer_spark.operators.dedup import normalize_text_sql

    assert "lower(text)" in normalize_text_sql("text")
    with pytest.raises(ValueError):
        normalize_text_sql("body.text")


def test_minhash_rejects_overflowing_shingle_weights(spark):
    # SHINGLE_BASE**5 is 65 bits: at n=6 the weight literal would parse as
    # DECIMAL(38,0) and silently switch the wrapping BIGINT arithmetic —
    # the guard must fail loudly instead
    from tamer_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    with pytest.raises(ValueError, match="exceeds\\s+int64"):
        minhash_signatures(df, n=6)
    # supported range still works (n=5 weight = base**4, 52 bits)
    assert minhash_signatures(df, n=5).count() == 1


def test_bloom_might_contain_rejects_working_column_clash(spark):
    from tamer_spark.operators.bloom import bloom_might_contain, bloom_words_df

    base = spark.createDataFrame([("x",), ("y",)], "v string")
    words = bloom_words_df(base, "v", m_bits=1 << 10, k=3)
    ok = bloom_might_contain(base, "v", words)
    assert ok.filter("bloom_hit").count() == 2

    clash = base.selectExpr("v", "1 AS _bp0")
    with pytest.raises(ValueError, match="working columns"):
        bloom_might_contain(clash, "v", words)
    with pytest.raises(ValueError, match="working columns"):
        bloom_might_contain(base.selectExpr("v", "true AS bloom_hit"), "v", words)
    with pytest.raises(ValueError, match="not a plain SQL identifier"):
        bloom_might_contain(base, "v", words, out="a.b")


def test_session_pins_escaped_string_literals(spark):
    # the SQL fragments encode backslashes assuming the default
    # parser mode; the session must pin it so a foreign getOrCreate
    # session cannot silently flip fragment regex semantics
    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"


# Column/fragment pairs that stay: callers hash or normalize computed
# Columns, and bench.py calls normalize_text(Column).
_KEPT_PAIRS = {"stable_hash64", "normalize_text"}


def _twin_pairs() -> set[str]:
    """Stems X with both a Column builder (X, _X, X_col or _X_col) and a
    SQL fragment (X_sql or _X_sql) defined at the top level of one module
    under functions/ or operators/."""
    pkg = Path(__file__).resolve().parent.parent / "tamer_spark"
    pairs = set()
    for mod in sorted([*pkg.glob("functions/*.py"), *pkg.glob("operators/*.py")]):
        names = {
            n.name.lstrip("_")
            for n in ast.parse(mod.read_text()).body
            if isinstance(n, ast.FunctionDef)
        }
        for name in names:
            if name.endswith("_sql"):
                stem = name[: -len("_sql")]
                if stem in names or f"{stem}_col" in names:
                    pairs.add(stem)
    return pairs


def test_each_expression_has_one_copy():
    assert _twin_pairs() == _KEPT_PAIRS


_EDGE_TEXTS = [
    None, "", " ", "\t", "\n", "a\tb\nc", "  Mixed   CASE\r\n text ",
    "İSTANBUL Straße", "naïve café", "日本語 テキスト", "emoji 🙂  ok", "nb\u00a0sp",
]


def _assert_pair_agrees(spark, column_form, sql_form):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(_EDGE_TEXTS)], "i int, t string")
    col = df.select("i", column_form(F.col("t")).alias("v"))
    sql = df.selectExpr("i", f"{sql_form('t')} AS v")
    assert sorted(map(tuple, col.collect())) == sorted(map(tuple, sql.collect()))
    qc, qs = col._jdf.queryExecution(), sql._jdf.queryExecution()
    assert qc.analyzed().sameResult(qs.analyzed())


def test_stable_hash64_column_and_fragment_agree(spark):
    from tamer_spark.functions.hashing import stable_hash64, stable_hash64_sql

    _assert_pair_agrees(spark, stable_hash64, stable_hash64_sql)


def test_normalize_text_column_and_fragment_agree(spark):
    from tamer_spark.operators.dedup import normalize_text, normalize_text_sql

    _assert_pair_agrees(spark, normalize_text, normalize_text_sql)
