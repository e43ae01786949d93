"""Broadcast bloom-filter prefilters — JVM-side bit arithmetic, no UDFs.

The 100 TB decontamination problem: the benchmark side's shingle set can
grow past broadcast range (billions of n-grams across eval suites), at
which point the exact semi-join degrades to a corpus-scale SortMergeJoin
shuffle. A bloom filter over the benchmark hashes stays KB-MB at any
benchmark size, broadcasts as a plan literal, and drops ~(1 - fp_rate) of
the corpus MAP-SIDE before any exchange; the exact join then verifies only
the survivors, so false positives never reach the result — output is
bit-identical to the plain anti-join at a fraction of the shuffle.

Both the build and the probe hash with the SAME Spark-side expression
(``xxhash64(lit(i), col)``), so there is no cross-implementation hash to
keep in sync: the filter is built by a Spark job (positions explode →
per-word ``bit_or`` aggregate, so shuffle AND any collect are bounded by
the word count ``m_bits/64``, never the input) and probed by
whole-stage-codegen bit tests (``shiftrightunsigned`` with a column shift
amount via F.expr — the SQL form accepts non-literal shifts). One form:
the filter is a words frame whose column name encodes its sizing (see
``bloom_words_df``). The probe reads the word count off that name and
picks its strategy by it: a small filter is collected once into a plan
literal, an index-scale one stays distributed and is probed by broadcast
hash joins (r11).
No analog in the reference engine (tamer has no text/retrieval
operators); part of the training-data-pipeline extension surface.

"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _word_col(m_bits: int, k: int) -> str:
    """The word column's name carries (m_bits, k): ``word_m{m_bits}k{k}``.
    A mismatched build/probe or a mixed-modulus merge then fails LOUDLY
    at plan time (unresolved column / explicit ValueError) instead of
    silently answering with the wrong bit positions, and the probe reads
    its modulus, hash count and word count (``m_bits/64``) off the name
    without running a job. The encoding survives parquet round-trips,
    which a Python-side attribute would not.
    """
    return f"word_m{m_bits}k{k}"


def _parse_word_col(words: DataFrame) -> tuple[str, int, int]:
    import re

    for c in words.columns:
        m = re.fullmatch(r"word_m(\d+)k(\d+)", c)
        if m:
            return c, int(m.group(1)), int(m.group(2))
    raise ValueError(
        f"not a bloom words frame (columns {words.columns}): expected a "
        "'word_m{m_bits}k{k}' column from bloom_words_df"
    )


def bloom_words_df(df: DataFrame, col: str, m_bits: int = 1 << 14, k: int = 5) -> DataFrame:
    """Bloom build: ``(w, word_m{m_bits}k{k})`` rows, the one form of the
    filter.

    Per-value probe positions fold into their word via a ``bit_or``
    aggregate (map-side combine), so the shuffle is bounded by the word
    count ``m_bits/64``, never by the input. Persist it as parquet
    (m_bits/64 rows ≈ 16 B each), merge epochs with ``bloom_merge_df``,
    probe with ``bloom_might_contain``. Only a filter of at most
    ``_LITERAL_WORDS_MAX`` words is ever collected (into the probe's plan
    literal); a larger one stays JVM-side end to end (a multi-MB filter
    routed through a driver-side Python list costs tens of seconds PER
    ACTION in local-relation re-serialization, measured r11). Absent ``w``
    rows are implicit zero words. The word column name encodes (m_bits, k)
    so build/probe/merge mismatches fail loudly (see ``_word_col``).
    """
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    # one-parse SQL construction (r14): single selectExpr parses instead of
    # one py4j round-trip per probe term (see operators/pq.py rationale)
    probes = _sql_probes(col, m_bits, k)
    return (
        df.selectExpr(f"explode(array({probes})) AS pos")
        .selectExpr(
            "CAST(pos DIV 64 AS BIGINT) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS bit",
        )
        .groupBy("w")
        .agg(F.expr(f"bit_or(bit) AS {_word_col(m_bits, k)}"))
    )


def _sql_probes(col: str, m_bits: int, k: int) -> str:
    """Comma-joined probe-position fragments ``pmod(xxhash64(i, col), m)``
    for i in 0..k-1 — the shared build/probe hash expressions."""
    return ", ".join(
        f"pmod(xxhash64({i}, {col}), {m_bits})" for i in range(k)
    )


def bloom_merge_df(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two distributed blooms of the SAME (m_bits, k): bit_or per
    word index. Bloom union is exact, so an index sidecar advances one
    O(m_bits/64)-row merge per epoch — history is never rebuilt. Frames
    built at different (m_bits, k) carry different word column names and
    are rejected — a silent mixed-modulus merge would corrupt the filter
    into false NEGATIVES (kept duplicates), the failure direction blooms
    must never have."""
    wc_a, *_ = _parse_word_col(a)
    wc_b, *_ = _parse_word_col(b)
    if wc_a != wc_b:
        raise ValueError(
            f"bloom_merge_df: word columns differ ({wc_a} vs {wc_b}): "
            "same (m_bits, k) required"
        )
    return a.unionByName(b).groupBy("w").agg(F.bit_or(wc_a).alias(wc_a))


# Filters up to this many int64 words (8 KB) probe as a plan literal; past
# it, routing the words through the plan costs tens of seconds per action
# (measured r11: a 2M-word local relation re-serializes on EVERY job), so
# larger filters stay distributed and probe by broadcast joins.
_LITERAL_WORDS_MAX = 1024


def bloom_might_contain(
    df: DataFrame,
    col: str,
    words: DataFrame,
    out: str = "bloom_hit",
) -> DataFrame:
    """Attach boolean ``out``: bloom membership test of ``col`` against a
    ``bloom_words_df`` frame, probed at the (m_bits, k) its word column
    encodes.

    All-JVM. The strategy follows the word count ``m_bits/64``:

    - at most ``_LITERAL_WORDS_MAX`` words: the words are collected once
      (absent ``w`` rows zero-filled) into a foldable plan-literal array;
      each probe is xxhash64 + pmod + element_at + variable-amount
      shiftrightunsigned. The collect is one job at construction time.
    - more: k broadcast hash joins on the word index — map-side lookups,
      no shuffle of ``df``, no driver round-trip of the words. Missing
      ``w`` rows are zero words (left join + coalesce).

    Guaranteed no false negatives (build and probe share the hash exprs).
    """
    from tamer_spark.functions.ident import safe_ident

    safe_ident(col, "col"), safe_ident(out, "out")
    wc, m_bits, k = _parse_word_col(words)
    # the one-parse selectExpr('*', ...) construction (r14) appends working
    # columns instead of withColumn-replacing — a caller column named like
    # one of them (or like ``out``) would become ambiguous and the final
    # drop would remove the caller's column too; fail loudly instead
    # (r15, ADVICE r14)
    reserved = {out, "_bw", *(f"_bp{i}" for i in range(k)),
                *(f"_w{i}" for i in range(k)), *(f"_wd{i}" for i in range(k))}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"bloom_might_contain: input already has column(s) {sorted(clash)} "
            "which collide with the probe's working columns or the requested "
            f"out={out!r}; rename them (or pass a different out=) first"
        )
    probe = _literal_probe if m_bits // 64 <= _LITERAL_WORDS_MAX else _join_probe
    return probe(df, col, words, wc, m_bits, k, out)


def _join_probe(
    df: DataFrame, col: str, words: DataFrame, wc: str, m_bits: int, k: int, out: str
) -> DataFrame:
    # one-parse SQL construction (r14): all k probe positions in ONE
    # selectExpr, each word join condition and bit test one parse, the
    # final conjunction one parse — instead of one RPC per operator
    d = df.selectExpr(
        "*",
        *[f"pmod(xxhash64({i}, {col}), {m_bits}) AS _bp{i}" for i in range(k)],
    )
    drops = []
    for i in range(k):
        wi = words.selectExpr(f"w AS _w{i}", f"{wc} AS _wd{i}")
        d = d.join(
            F.broadcast(wi),
            F.expr(f"CAST(_bp{i} DIV 64 AS BIGINT) = _w{i}"),
            "left",
        )
        drops += [f"_bp{i}", f"_w{i}", f"_wd{i}"]
    cond = " AND ".join(
        f"((shiftrightunsigned(coalesce(_wd{i}, CAST(0 AS BIGINT)),"
        f" CAST(_bp{i} % 64 AS INT)) & 1) = 1)"
        for i in range(k)
    )
    return d.selectExpr("*", f"({cond}) AS {out}").drop(*drops)


def _literal_probe(
    df: DataFrame, col: str, words: DataFrame, wc: str, m_bits: int, k: int, out: str
) -> DataFrame:
    from tamer_spark.functions.litfast import sql_longs

    bits = [0] * (m_bits // 64)
    for r in words.collect():
        bits[r.w] = r[wc]
    # one-parse SQL construction (r14): the word literal, the k probe
    # positions and the conjunction land in two selectExpr parses
    d = df.selectExpr(
        "*",
        f"{sql_longs(bits)} AS _bw",
        *[f"pmod(xxhash64({i}, {col}), {m_bits}) AS _bp{i}" for i in range(k)],
    )
    cond = " AND ".join(
        f"((shiftrightunsigned(element_at(_bw, CAST(_bp{i} DIV 64 AS INT) + 1),"
        f" CAST(_bp{i} % 64 AS INT)) & 1) = 1)"
        for i in range(k)
    )
    return d.selectExpr("*", f"({cond}) AS {out}").drop(
        "_bw", *[f"_bp{i}" for i in range(k)]
    )


def decontaminate_with_bloom(
    corpus_shingled: DataFrame,
    bench_shingles: DataFrame,
    corpus_docs: DataFrame,
    m_bits: int = 1 << 14,
    k: int = 5,
) -> DataFrame:
    """Drop corpus docs sharing any shingle with the benchmark set,
    bloom-prefiltered: bit-identical to the plain exact anti-join, but the
    exact (non-broadcast at scale) verify join sees only bloom survivors.

    Returns the surviving ``corpus_docs`` ids.
    """
    words = bloom_words_df(bench_shingles, "s", m_bits=m_bits, k=k)
    candidates = bloom_might_contain(corpus_shingled, "s", words).filter(
        F.col("bloom_hit")
    )
    tainted = (
        candidates.join(bench_shingles, "s")  # exact verify, survivors only
        .select("doc_id")
        .distinct()
    )
    return corpus_docs.join(tainted, "doc_id", "left_anti").select("doc_id")
