"""Markup stripping (functions/text.strip_markup_col) — the WET-extraction
stage. Handcrafted behavior pins (the regex chain's sharp edges) plus the
plan posture: map-only, zero shuffles, no Python UDF."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.functions.text import strip_markup_col


def _strip(spark, texts: list[str]) -> list[str]:
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    return [r.s for r in df.select(strip_markup_col(F.col("t")).alias("s")).collect()]


def test_basic_tag_strip_and_block_newlines(spark):
    got = _strip(spark, [
        "<html><body><h1>Title</h1><p>one two.</p><p>three four.</p></body></html>",
        "a<br/>b<br>c",
    ])
    assert got[0] == "Title\none two.\nthree four."
    assert got[1] == "a\nb\nc"


def test_script_style_comments_dropped_wholesale(spark):
    got = _strip(spark, [
        "keep <script type='x'>var a = '</p>'; if (a<b) {}</script>this",
        "x<style>p {color: red}</style>y",
        "before<!-- a comment\nwith <b>tags</b> inside -->after",
    ])
    assert got[0] == "keep this"
    # block rules drop the WHOLE element, tags included — no space appears
    # (only tags surviving to the generic rule become spaces)
    assert got[1] == "xy"
    assert got[2] == "beforeafter"


def test_entity_decode_order_amp_last(spark):
    """&amp; decodes LAST: a double-escaped '&amp;lt;b&amp;gt;' must resolve
    ONE level (to literal '&lt;b&gt;'), never all the way to '<b>' — and a
    decoded '&lt;slow&gt;' is CONTENT, not markup to re-strip."""
    got = _strip(spark, [
        "a &amp; b &lt;slow&gt; &quot;q&quot; &#39;s&#39; n&nbsp;b",
        "&amp;lt;b&amp;gt;",
    ])
    assert got[0] == 'a & b <slow> "q" \'s\' n b'
    assert got[1] == "&lt;b&gt;"


def test_tag_soup_limits_are_the_documented_ones(spark):
    got = _strip(spark, [
        "text with an unclosed <div class='x and no closer",
        "attr gt ends <a title='a>b'>early</a> tag",
        "",
        "   \n \n  ",
    ])
    # unclosed tag survives as text (no '>' to terminate the tag pattern)
    assert got[0] == "text with an unclosed <div class='x and no closer"
    # '>' inside an attribute ends the tag early — 'b'' survives
    assert got[1] == "attr gt ends b'>early tag"
    assert got[2] == ""
    assert got[3] == ""


def test_whitespace_canonicalization(spark):
    got = _strip(spark, ["a   b\t c \n  d\n\n\ne  <p></p>  f"])
    assert got[0] == "a b c\nd\ne\nf"


def test_plan_is_map_only(spark):
    from tamer_spark.plans import plan_shape
    from tamer_spark.queries import strip_markup_docs_q
    from tests.conftest import SF_DIR

    shape = plan_shape(strip_markup_docs_q(spark, SF_DIR))
    assert shape.shuffles == 0, shape
    assert not shape.count("BatchEvalPython", "ArrowEvalPython"), shape


def test_registry_variant_matches_standalone(spark):
    from tamer_spark.queries import REGISTRY, strip_markup_docs_q
    from tests.conftest import SF_DIR

    union_rows = {
        (r.k, r.txt, r.a, r.b)
        for r in REGISTRY["text_cleaning_docs"].spark(spark, SF_DIR)
        .filter(F.col("variant") == "markup").collect()
    }
    standalone = {
        (r.doc_id, r.text_stripped, r.n_removed, r.n_lines)
        for r in strip_markup_docs_q(spark, SF_DIR).collect()
    }
    assert union_rows == standalone
