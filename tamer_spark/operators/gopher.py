"""Gopher-style document quality rules — the FULL §A1.1 set — as one
distributed DataFrame pass.

Implements the repetition + composition filters of Rae et al., "Scaling
Language Models: Methods, Analysis & Insights from Training Gopher"
(arXiv 2112.11446, §A1.1 — public literature):

- word-count bounds, mean word length bounds, symbol-to-word ratio
  (counting '#', the Unicode ellipsis '…', AND the ASCII '...' the paper
  names), alphabetic-word fraction, and the paper's "must contain at least
  2 of {the, be, to, of, and, that, have, with}" stop-word rule (the
  generic distinct-stopword count over functions/text.py STOPWORDS is
  still reported alongside);
- the most-frequent-{2,3,4}-gram character fractions (thresholds
  0.20/0.18/0.16) and the duplicated-{5..10}-gram character fractions
  (0.15/0.14/0.13/0.12/0.11/0.10);
- line/paragraph repetition and composition: duplicate-line and
  duplicate-paragraph fractions (0.30) and character fractions (0.20),
  the fraction of lines ending in an ellipsis (0.30), and the fraction of
  lines starting with a bullet (0.90).

These are the standard pre-LM curation gates between cheap per-doc stats
(functions/text.py) and expensive model-based scoring (operators/lm.py).

Definitions are pinned EXACTLY (the repo's cross-engine determinism
convention) rather than paraphrased from the paper where the paper is
loose; in particular:

- top-n-gram char fraction = top_count * (len(top_gram) - (n-1)) /
  total_chars — the characters covered by every occurrence of the doc's
  most frequent word n-gram (spaces excluded; total_chars counts word
  chars only), champion chosen by (count DESC, gram ASC) — a total order,
  so the selection cannot drift between engines;
- dup-n-gram char fraction = (word chars at word positions covered by ANY
  occurrence of an n-gram whose in-doc count is >= 2, overlaps counted
  once) / total_chars — the character-mask definition, realized as a
  distinct-(doc, word-index) set rather than a per-doc mask array;
- lines = the raw (un-normalized, case-preserved) text split on '\\n',
  each trimmed of spaces, empties dropped; paragraphs = the same split on
  '\\n\\n'. duplicate elements/chars follow the occurrences-beyond-first
  convention: n - distinct(n) elements, sum(len) - sum(len over distinct)
  chars; char fractions divide by the total chars of the kept
  lines/paragraphs (pinned — the paper does not say which denominator);
- every keep rule is strict ('signal < threshold' keeps, '>= ' drops),
  matching the round-4 convention for the top-bigram rule; bound rules
  (word count, mean word length) are inclusive as in round 4;
- all ratios are IEEE divisions of exact integers.

Shuffle profile at 100 TB: every composition signal and ALL line/paragraph
signals are map-only over staged arrays (scan-bound, codegen — duplicate
detection within a document is size(arr) - size(array_distinct(arr)), no
explode). The n-gram repetition family shuffles once on (doc_id, n, gram)
with map-side partial counts — rows ≈ |enabled n| × words per doc, payload
≈ the text itself — then the champion window re-uses the same key and the
dup-coverage leg re-shuffles the bounded (doc_id, n, word_index) set. No
driver-side state of any kind; per-doc cost is linear in document length
for every signal (never the O(words²) per-row-HOF formulation).

No analog in the reference engine (tamer has no text operators); part of
the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tamer_spark.functions.text import STOPWORDS, sql_string, trim_nonempty_sql

__all__ = ["gopher_signals", "STOP_GOPHER", "TOP_NGRAMS_DEFAULT", "DUP_NGRAMS_DEFAULT"]

# Gopher §A1.1: "contains at least two of the following English words"
STOP_GOPHER = ["the", "be", "to", "of", "and", "that", "have", "with"]

# (n, keep-threshold) pairs, §A1.1 table values
TOP_NGRAMS_DEFAULT = ((2, 0.20), (3, 0.18), (4, 0.16))
DUP_NGRAMS_DEFAULT = ((5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10))

_BULLETS = ("•", "-", "*")


# r14: every column below is rendered as ONE SQL string handed to a single
# F.expr/selectExpr parse instead of a chain of per-op py4j Column calls —
# gopher_signals' plan CONSTRUCTION was measured at ~5.5k driver→JVM
# round-trips ≈ 1.6 s per call at sf0.1 against 0.15 s of execution (the
# litfast principle applied to whole expressions). The parsed trees are the
# same expressions op for op; stage structure (selects, joins, windows,
# aggregations — and therefore the physical plan) is unchanged.


def _arr_chars(col: str) -> str:
    """Exact character count of a string array (spaces excluded)."""
    return f"aggregate({col}, CAST(0 AS BIGINT), (a, x) -> a + length(x))"


def _frac(num: str, den: str) -> str:
    return f"CASE WHEN {den} > 0 THEN {num} / {den} ELSE 0.0D END"


def _d(x: float) -> str:
    """Exact double literal (repr round-trips binary64; litfast contract)."""
    return repr(float(x)) + "D"


def _top_col(n: int) -> str:
    return "top_bigram_char_frac" if n == 2 else f"top_{n}gram_char_frac"


def gopher_signals(
    docs: DataFrame,
    min_words: int = 50,
    top_ngrams: tuple = TOP_NGRAMS_DEFAULT,
    dup_ngrams: tuple = DUP_NGRAMS_DEFAULT,
    line_signals: bool = True,
    max_dup_line_frac: float = 0.30,
    max_dup_para_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_char_frac: float = 0.20,
    max_ellipsis_line_ratio: float = 0.30,
    max_bullet_line_ratio: float = 0.90,
) -> DataFrame:
    """Per-document Gopher §A1.1 quality signals + the combined ``keep``.

    One row per input document. Always returns (doc_id, n_words,
    mean_word_len, symbol_word_ratio, alpha_word_frac, n_stopwords,
    n_gopher_stopwords); each ``(n, thr)`` in ``top_ngrams`` adds a
    ``top_{n}gram_char_frac`` column (n=2 keeps the historical name
    ``top_bigram_char_frac``), each in ``dup_ngrams`` adds
    ``dup_{n}gram_char_frac``, and ``line_signals=True`` adds the
    line/paragraph family (counts + ratios). ``keep`` = 1 iff every
    ENABLED rule passes (thresholds default to the paper's values); the
    stop-word rule uses the paper's 8-word set (``n_gopher_stopwords >=
    2``). Disabling a signal family removes both its columns
    and its keep terms (the round-4 subset is ``top_ngrams=((2, 0.2),),
    dup_ngrams=(), line_signals=False``).
    """
    raw = docs.select(F.col("doc_id"), F.col("text").alias("_raw"))
    # normalize_text (operators/dedup.py) rendered as SQL — same expression
    base = raw.selectExpr(
        "doc_id", "_raw", "trim(regexp_replace(lower(_raw), '\\\\s+', ' ')) AS _t"
    )
    # staged word array: multiply-referenced, so CollapseProject keeps it
    # materialized (the dedup.py inlining-trap discipline)
    ws = base.selectExpr(
        "doc_id", "_raw", "_t", "filter(split(_t, ' '), x -> length(x) > 0) AS _ws"
    )

    def occurrences(sym: str) -> str:
        removed = f"(length(_t) - length(replace(_t, {sql_string(sym)}, '')))"
        return f"{removed} / {len(sym)}" if len(sym) > 1 else removed

    # §A1.1 symbols: '#' or '...' — the Unicode ellipsis counts too (ADVICE
    # r4: the ASCII form was missing; each non-overlapping '...' is ONE symbol)
    symbols = f"{occurrences('#')} + {occurrences('…')} + {occurrences('...')}"

    line_cols = []
    if line_signals:
        # functions/text.trim_nonempty_sql (the pinned
        # list_filter(list_transform(...)) staging convention). The arrays
        # are STAGED as columns like _ws (multiply-referenced, CollapseProject
        # keeps them materialized; within-Project subexpression elimination
        # already computed them once at runtime — staging also keeps the
        # ANALYZED tree small, which is the plan-construction cost)
        ws = ws.selectExpr(
            "*",
            trim_nonempty_sql("split(_raw, '\\\\n')") + " AS _lines",
            trim_nonempty_sql("split(_raw, '\\\\n\\\\n')") + " AS _paras",
        )
        is_ellipsis = "x -> endswith(x, '...') OR endswith(x, '…')"
        is_bullet = "x -> " + " OR ".join(f"startswith(x, {sql_string(b)})" for b in _BULLETS)
        line_cols = [
            "CAST(size(_lines) AS BIGINT) AS n_lines",
            "CAST(size(_paras) AS BIGINT) AS n_paragraphs",
            "CAST(size(_lines) - size(array_distinct(_lines)) AS BIGINT) AS n_dup_lines",
            "CAST(size(_paras) - size(array_distinct(_paras)) AS BIGINT) AS n_dup_paragraphs",
            f"{_arr_chars('_lines')} - {_arr_chars('array_distinct(_lines)')} AS dup_line_chars",
            f"{_arr_chars('_paras')} - {_arr_chars('array_distinct(_paras)')} AS dup_para_chars",
            f"CAST(size(filter(_lines, {is_ellipsis})) AS BIGINT) AS n_ellipsis_lines",
            f"CAST(size(filter(_lines, {is_bullet})) AS BIGINT) AS n_bullet_lines",
            f"{_arr_chars('_lines')} AS _line_chars",
            f"{_arr_chars('_paras')} AS _para_chars",
        ]

    stop_arr = "array(" + ", ".join(sql_string(w) for w in STOPWORDS) + ")"
    gopher_arr = "array(" + ", ".join(sql_string(w) for w in STOP_GOPHER) + ")"
    sig = ws.selectExpr(
        "doc_id",
        "_ws",
        "CAST(size(_ws) AS BIGINT) AS n_words",
        f"{_arr_chars('_ws')} AS total_chars",
        f"CAST({symbols} AS BIGINT) AS _symbols",
        f"CAST(size(array_intersect(_ws, {stop_arr})) AS BIGINT) AS n_stopwords",
        f"CAST(size(array_intersect(_ws, {gopher_arr})) AS BIGINT) AS n_gopher_stopwords",
        *line_cols,
    ).selectExpr(
        "*",
        f"{_frac('total_chars', 'n_words')} AS mean_word_len",
        f"{_frac('_symbols', 'n_words')} AS symbol_word_ratio",
    )
    # alpha fraction needs _ws again — separate select so the staged array
    # is still a plain reference (CollapseProject discipline as above)
    sig = sig.selectExpr(
        "*",
        "CASE WHEN n_words > 0 THEN size(filter(_ws, x -> x RLIKE '[a-z]')) / n_words"
        " ELSE 0.0D END AS alpha_word_frac",
    )

    # ---- n-gram repetition family: ONE (doc_id, n, gram) shuffle for all
    # enabled n, champion window + dup-coverage legs share the counts ----
    ns_top = [n for n, _ in top_ngrams]
    ns_dup = [n for n, _ in dup_ngrams]
    all_ns = sorted(set(ns_top) | set(ns_dup))
    out = sig
    if all_ns:
        wn = sig.selectExpr(
            "doc_id", "_ws",
            f"explode(array({', '.join(str(n) for n in all_ns)})) AS n",
        )
        # grams with their 0-based start position; a doc shorter than n
        # contributes none. slice is 1-based, length n.
        grams = wn.selectExpr(
            "doc_id",
            "n",
            "CASE WHEN size(_ws) >= n THEN"
            " transform(sequence(0, size(_ws) - n),"
            " i -> named_struct('pos', i, 'g', array_join(slice(_ws, i + 1, n), ' ')))"
            " ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, g: STRING>>) END AS _gs",
        )
        occ = grams.selectExpr("doc_id", "n", "explode(_gs) AS s").selectExpr(
            "doc_id", "n", "s.pos AS pos", "s.g AS g"
        )
        # ONE shuffle of the gram stream: counts for every n, plus the
        # occurrence-position lists (dup ns only — the conditional collect
        # keeps top-only ns payload-free) so the dup-coverage leg never
        # re-explodes or re-shuffles the 9x-text occurrence stream
        dup_in = (
            f"n IN ({', '.join(str(n) for n in ns_dup)})" if ns_dup else "false"
        )
        cnts = occ.groupBy("doc_id", "n", "g").agg(
            F.expr("count(1)").alias("c"),
            F.expr(f"collect_list(CASE WHEN {dup_in} THEN pos END)").alias("ps"),
        )
        if ns_top:
            top_in = f"n IN ({', '.join(str(n) for n in ns_top)})"
            top = (
                cnts.filter(top_in)
                .withColumn(
                    "_rn",
                    F.expr("row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g)"),
                )
                .filter("_rn = 1")
                .selectExpr(
                    "doc_id", "n", "CAST(c * (length(g) - (n - 1)) AS BIGINT) AS topchars"
                )
            )
            topw = top.groupBy("doc_id").agg(
                *[
                    F.expr(f"max(CASE WHEN n = {n} THEN topchars END)").alias(f"_top{n}")
                    for n in ns_top
                ]
            )
            out = out.join(topw, "doc_id", "left")
        if ns_dup:
            # word positions covered by any duplicated n-gram, overlaps
            # counted once (the character-mask definition, set form) —
            # re-derived from the carried position lists, grams-side
            # cardinality (already grouped), never the raw occurrence stream
            cov = (
                cnts.filter(f"{dup_in} AND c >= 2")
                .selectExpr("doc_id", "n", "explode(ps) AS pos")
                .selectExpr(
                    "doc_id", "n", "explode(sequence(pos, pos + n - 1)) AS widx"
                )
                .distinct()
            )
            wl = sig.select(
                "doc_id", F.posexplode("_ws").alias("widx", "_w")
            ).selectExpr("doc_id", "widx", "CAST(length(_w) AS BIGINT) AS wlen")
            covc = cov.join(wl, ["doc_id", "widx"]).groupBy("doc_id", "n").agg(
                F.expr("sum(wlen)").alias("cov")
            )
            covw = covc.groupBy("doc_id").agg(
                *[
                    F.expr(f"max(CASE WHEN n = {n} THEN cov END)").alias(f"_cov{n}")
                    for n in ns_dup
                ]
            )
            out = out.join(covw, "doc_id", "left")
    frac_cols = [
        f"{_frac(f'coalesce(_top{n}, 0)', 'total_chars')} AS {_top_col(n)}"
        for n in ns_top
    ] + [
        f"{_frac(f'coalesce(_cov{n}, 0)', 'total_chars')} AS dup_{n}gram_char_frac"
        for n in ns_dup
    ]
    if frac_cols:
        out = out.selectExpr("*", *frac_cols)

    rules = [
        f"n_words BETWEEN {min_words} AND 100000",
        "mean_word_len >= 3.0D",
        "mean_word_len <= 10.0D",
        "symbol_word_ratio < 0.1D",
        "alpha_word_frac > 0.8D",
        "n_gopher_stopwords >= 2",
        *[f"{_top_col(n)} < {_d(thr)}" for n, thr in top_ngrams],
        *[f"dup_{n}gram_char_frac < {_d(thr)}" for n, thr in dup_ngrams],
    ]
    ratio_cols = []
    if line_signals:
        ratio_cols = [
            f"{_frac('n_dup_lines', 'n_lines')} AS dup_line_frac",
            f"{_frac('dup_line_chars', '_line_chars')} AS dup_line_char_frac",
            f"{_frac('n_dup_paragraphs', 'n_paragraphs')} AS dup_para_frac",
            f"{_frac('dup_para_chars', '_para_chars')} AS dup_para_char_frac",
            f"{_frac('n_ellipsis_lines', 'n_lines')} AS ellipsis_line_ratio",
            f"{_frac('n_bullet_lines', 'n_lines')} AS bullet_line_ratio",
        ]
        out = out.selectExpr("*", *ratio_cols)
        rules += [
            f"dup_line_frac < {_d(max_dup_line_frac)}",
            f"dup_line_char_frac < {_d(max_dup_line_char_frac)}",
            f"dup_para_frac < {_d(max_dup_para_frac)}",
            f"dup_para_char_frac < {_d(max_dup_para_char_frac)}",
            f"ellipsis_line_ratio < {_d(max_ellipsis_line_ratio)}",
            f"bullet_line_ratio < {_d(max_bullet_line_ratio)}",
        ]
    keep = " AND ".join(f"({r})" for r in rules)
    out = out.selectExpr("*", f"CAST(({keep}) AS BIGINT) AS keep")

    cols = [
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_word_ratio",
        "alpha_word_frac",
        "n_stopwords",
        "n_gopher_stopwords",
        *[_top_col(n) for n in ns_top],
        *[f"dup_{n}gram_char_frac" for n in ns_dup],
    ]
    if line_signals:
        cols += [
            "n_lines",
            "n_paragraphs",
            "n_dup_lines",
            "n_dup_paragraphs",
            "dup_line_chars",
            "dup_para_chars",
            "n_ellipsis_lines",
            "n_bullet_lines",
            "dup_line_frac",
            "dup_line_char_frac",
            "dup_para_frac",
            "dup_para_char_frac",
            "ellipsis_line_ratio",
            "bullet_line_ratio",
        ]
    # selectExpr, not select: plain-name projection serializes the whole
    # list in one RPC instead of one Column conversion per name
    return out.selectExpr(*cols, "keep")
