"""C4-style corpus cleaning (Raffel et al., "Exploring the Limits of
Transfer Learning with a Unified Text-to-Text Transformer", arXiv
1910.10683 §2.2 — public literature) as distributed DataFrame passes:

- **line-level filtering** (`c4_line_filter`): keep only lines that end in
  terminal punctuation, have at least 3 words, and don't mention
  "javascript"; drop whole documents that contain "lorem ipsum", a curly
  brace, any configured badword, or fewer than 5 sentences after cleaning.
- **cross-document span dedup** (`c4_span_dedup`): C4's signature dedup —
  "we removed all but one of any three-sentence span occurring more than
  once in the data set"; every later occurrence's sentences are removed
  and the document is re-assembled from the survivors.

These are TRANSFORM operators (they rewrite the text), complementing the
Gopher rules (operators/gopher.py), which only score/drop documents.

Pinned definitions (the repo's cross-engine determinism convention —
exact, never "roughly the paper"):

- lines = raw text split on '\\n', each trimmed of spaces, empties
  dropped (same convention as gopher_signals);
- a line's word count = space-split segments of nonzero length; terminal
  punctuation = one of ``. ! ? "``; the javascript test is a lowercase
  substring match;
- cleaned text = kept lines joined with '\\n';
- sentences = the CLEANED text split on the regex class ``[.!?]``, each
  trimmed of spaces, empties dropped; n_sentences for the 5-sentence rule
  is the count of ``.``/``!``/``?`` characters in the cleaned text (a
  terminator count, NOT a linguistic segmenter — documented deviation;
  the paper does not specify its segmenter);
- a span = three CONSECUTIVE sentences joined with chr(31) (unit
  separator — it cannot appear in the joined parts because it is STRIPPED
  from the text before sentence splitting, so a stray 0x1F in web text
  can never make two different sentence sequences collide into one span
  value); the kept occurrence of a span value is the one with the
  globally smallest ``(doc_id, start_index)`` struct — lexicographic
  struct MIN in both engines, a total order with no packed-integer
  range limits on either component;
- a sentence is removed iff ANY duplicated-span occurrence covering it is
  a non-first occurrence; the deduped text re-joins survivors with '. '
  (terminators are not reconstructed per-sentence — pinned).

Shuffle profile at 100 TB: line filtering and document verdicts are
entirely map-only (array HOFs over the line split — scan-bound, codegen).
Span dedup shuffles the span stream once — (span, (doc_id, start) struct)
with map-side partial MIN aggregation, payload ≈ 3 × the text, the
same cost class as the n-gram dedup family — then the drop set (a bounded
(doc_id, sentence_idx) key set, never text) joins back and the rebuild is
one ordered groupBy(doc_id). The global-first rule is a partial-aggregable
MIN, deliberately NOT a row_number window: a hot span value (boilerplate
repeated millions of times) would funnel into a single window task, while
MIN combines map-side (measured 3.8-5.3x faster on the hot-span probe).
No driver-side state of any kind.

No analog in the reference engine (tamer has no text operators); part of
the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tamer_spark.functions.text import sql_string, trim_nonempty_sql as _trim_nonempty_sql

__all__ = ["c4_line_filter", "c4_span_dedup"]

_TERMINALS = (".", "!", "?", '"')
_SPAN_SEP = "\x1f"


def _count_occurrences_sql(col: str, sym: str) -> str:
    return f"length({col}) - length(replace({col}, {sql_string(sym)}, ''))"


def c4_line_filter(docs: DataFrame, min_sentences: int = 5, badwords: tuple = ()) -> DataFrame:
    """C4 §2.2 line filter + document verdict, one map-only pass.

    Returns (doc_id, text_clean, n_lines, n_lines_kept, n_sentences, keep):
    ``text_clean`` is the kept lines re-joined with newlines, ``keep`` = 1
    iff the CLEANED document still has >= ``min_sentences`` terminator
    characters and the ORIGINAL text contains none of 'lorem ipsum', '{'
    or ``badwords`` (all lowercase substring matches — C4's badword list
    is a parameter here, empty by default; ship your own).
    """
    # one-parse SQL construction (r14): same trees, a handful of selectExpr
    # parses instead of ~420 py4j round-trips (see operators/pq.py rationale)
    raw = docs.selectExpr("doc_id", "text AS _raw")
    lines = _trim_nonempty_sql("split(_raw, '\\n')")
    ok_term = " OR ".join(f"endswith(x, {sql_string(t)})" for t in _TERMINALS)
    ok_words = "size(filter(split(x, ' '), w -> length(w) > 0)) >= 3"
    line_ok = f"({ok_term}) AND ({ok_words}) AND (NOT contains(lower(x), 'javascript'))"
    staged = raw.selectExpr(
        "doc_id",
        "_raw",
        f"{lines} AS _lines",
        f"filter({lines}, x -> {line_ok}) AS _kept",
    )
    doc_markers = ("lorem ipsum", "{") + tuple(badwords)
    doc_ok = " AND ".join(f"NOT contains(lower(_raw), {sql_string(m)})" for m in doc_markers)
    n_sent = " + ".join(
        f"({_count_occurrences_sql('text_clean', s)})" for s in (".", "!", "?")
    )
    out = staged.selectExpr(
        "doc_id",
        "array_join(_kept, '\\n') AS text_clean",
        "CAST(size(_lines) AS BIGINT) AS n_lines",
        "CAST(size(_kept) AS BIGINT) AS n_lines_kept",
        f"({doc_ok}) AS _doc_ok",
    ).selectExpr(
        "doc_id",
        "text_clean",
        "n_lines",
        "n_lines_kept",
        f"CAST({n_sent} AS BIGINT) AS n_sentences",
        "_doc_ok",
    )
    return out.selectExpr(
        "doc_id",
        "text_clean",
        "n_lines",
        "n_lines_kept",
        "n_sentences",
        f"CAST((n_sentences >= {min_sentences}) AND _doc_ok AS BIGINT) AS keep",
    )


def c4_span_dedup(docs: DataFrame) -> DataFrame:
    """C4's cross-document three-sentence-span dedup, keep-global-first.

    Returns (doc_id, text_dedup, n_sentences, n_dropped): every occurrence
    of a three-consecutive-sentence span other than the globally first
    (smallest ``(doc_id, start)``) has its sentences removed; the
    document is re-assembled from the survivors, joined with '. '.
    Documents with fewer than three sentences pass through untouched
    (they produce no spans). Idempotent: a second pass finds no duplicated
    spans among survivors of the first.
    """
    sep = sql_string(_SPAN_SEP)
    # strip the span separator from the text BEFORE splitting — a stray
    # 0x1F in web text must never alias two different sentence runs
    ss = _trim_nonempty_sql(f"split(replace(text, {sep}, ''), '[.!?]')")
    sarr = docs.selectExpr("doc_id", f"{ss} AS _ss")
    # the sentence array feeds the span stream AND the rebuild — stage it
    # (multiply-referenced, CollapseProject keeps it materialized)
    sents = sarr.select(
        "doc_id", F.posexplode("_ss").alias("idx", "s")
    )
    spans_arr = (
        "CASE WHEN size(_ss) >= 3"
        " THEN transform(sequence(0, size(_ss) - 3),"
        " i -> named_struct('start', i, 'sp',"
        f" array_join(slice(_ss, i + 1, 3), {sep})))"
        " ELSE CAST(array() AS array<struct<start:int,sp:string>>) END"
    )
    spans = (
        sarr.selectExpr("doc_id", f"{spans_arr} AS _sps")
        .select("doc_id", F.explode("_sps").alias("o"))
        .selectExpr("doc_id", "o.start AS start", "o.sp AS sp")
    )
    # global first occurrence per span value: a partial-aggregable MIN over
    # the (doc_id, start) struct (lexicographic — no packed-integer range
    # limits) — NOT a row_number window, which would funnel a hot
    # boilerplate span into one task
    occ = spans.selectExpr("*", "struct(doc_id, start) AS _key")
    firsts = occ.groupBy("sp").agg(F.min("_key").alias("_first"))
    dropped_idx = (
        occ.join(firsts, "sp")
        .filter("_key != _first")
        .selectExpr(
            "doc_id",
            "explode(sequence(start, start + 2)) AS idx",
        )
        .distinct()
    )
    kept = sents.join(dropped_idx, ["doc_id", "idx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(idx, s))),"
            " r -> r.s), '. ')"
        ).alias("text_dedup"),
        F.expr("CAST(count(1) AS BIGINT)").alias("n_kept"),
    )
    base = sarr.selectExpr("doc_id", "CAST(size(_ss) AS BIGINT) AS n_sentences")
    return base.join(rebuilt, "doc_id", "left").selectExpr(
        "doc_id",
        "coalesce(text_dedup, '') AS text_dedup",
        "n_sentences",
        "CAST(n_sentences - coalesce(n_kept, 0) AS BIGINT) AS n_dropped",
    )
