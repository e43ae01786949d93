"""Deduplication operators for large-scale corpus curation.

Exact, MinHash+LSH, SimHash and n-gram-Jaccard dedup, all as pure DataFrame
plans (no Python UDFs — whole-stage codegen end to end) with deterministic
cross-engine semantics (md5-derived hashing, see functions/hashing.py).

Scale design (the part that matters at 100 TB):

- ``dedup_exact``: one hash-shuffle on a 16-byte digest — the minimum
  possible; map-side partial aggregation halves shuffle volume.
- ``minhash_lsh_pairs``: the classic shingle→signature→band pipeline. Cost is
  O(docs × k) for signatures (one shuffle on (doc, explode(shingles)) — or
  none if computed with ``aggregate`` per row, which we do), then a
  *bucket join* that only shuffles (band_id, band_signature) — never the
  O(n²) cross product. Skewed buckets (boilerplate docs) are the classic
  hazard: cap bucket size (``max_bucket``) and let AQE skew-split the join.
- ``ngram_jaccard_pairs``: exact verification join on shared shingles;
  intended for *candidate pairs* (post-LSH) or small corpora — the plan
  computes pair intersections via a shingle-equijoin + count, not arrays in
  memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tamer_spark.functions.hashing import (
    MERSENNE_P,
    minhash_coefficients,
    stable_hash64,
)


def normalize_text(text: Column) -> Column:
    """lowercase + collapse whitespace + strip — canonical form for dedup."""
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def normalize_text_sql(col: str) -> str:
    """SQL fragment twin of ``normalize_text`` (one-parse construction, r14).

    ``col`` must be a plain column NAME (validated): every operator call
    site passes one, and validating here — the chokepoint all text-fragment
    paths flow through — catches names that need quoting before they can
    misparse inside a larger fragment (r15, ADVICE r14).
    """
    from tamer_spark.functions.ident import safe_ident

    return f"trim(regexp_replace(lower({safe_ident(col, 'text_col')}), '\\\\s+', ' '))"


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group.

    Single shuffle on md5(text); returns (id, group hash, group size).
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def dedup_exact_normalized(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup after text normalization (case/whitespace-insensitive)."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def url_dedup_counts(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level exact dedup — the FIRST dedup stage of a web-crawl pipeline
    (CCNet dedups by URL before content; RefinedWeb §3.2 drops re-crawled
    URLs before any text processing, because it needs no text read at all).

    Canonicalization (functions/text.canonicalize_url_sql: scheme/www/
    default-port/fragment/trailing-slash stripped, tracking params dropped,
    survivors sorted) is a map-only Catalyst chain at scan rate; the only
    shuffle is the groupBy on md5(canonical) — 16 bytes/row with map-side
    combine, identical cost shape to dedup_exact but over the URL column
    only (the text column is never scanned — at 100 TB that is the entire
    point of running this stage first).
    Returns (content_hash, keep_id, dup_count).

    Rows with a NULL url form SINGLETON groups (key ``nullurl-<id>``, not
    an md5): URL-level dedup is undefined without a URL, so nothing may
    merge them — but they must still appear as their own keep_id, because
    the standard consumption pattern is a keep_id semi-join (see
    examples/llm_curation_pipeline.py) and an output that simply dropped
    NULL-url rows would silently delete every url-less document from the
    corpus. Both traps (merge-all under one NULL key; drop-all via
    exclusion) are pinned in tests/test_url_dedup.py.
    """
    from tamer_spark.functions.text import canonicalize_url_sql

    # one-parse SQL construction (r14): the whole canonicalize+key chain
    # is a single selectExpr parse (see operators/pq.py rationale)
    key = (
        f"coalesce(md5({canonicalize_url_sql(url_col)}), "
        f"concat('nullurl-', CAST({id_col} AS STRING)))"
    )
    return (
        df.selectExpr(id_col, f"{key} AS content_hash")
        .groupBy("content_hash")
        .agg(
            F.expr(f"min({id_col}) AS keep_id"),
            F.expr("count(1) AS dup_count"),
        )
    )


def domain_doc_counts(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Per-REGISTRABLE-DOMAIN document rollup, dedup-shaped: one row per
    domain with the min-id representative and the doc count — the grouping
    step under CCNet's per-domain quality aggregation and RefinedWeb §3.1's
    domain-blocklist filtering (a domain-level verdict needs a domain-level
    key; the bare host over-splits a publisher into its subdomains).

    Same cost shape as url_dedup_counts: the registrable-domain extraction
    (functions/text.registrable_domain_col — PSL-heuristic, limits
    documented there) is a map-only Catalyst chain, and the only shuffle
    is the groupBy on md5(domain) with map-side combine; the text column
    is never scanned. Returns (content_hash, keep_id, dup_count).

    NULL urls AND empty-host urls (relative references — no host, so no
    domain) form SINGLETON groups (key ``nulldomain-<id>``): a domain
    verdict is undefined without a domain, and the two failure modes the
    url_dedup_counts NULL rule pins (merge-all under one key; drop-all via
    exclusion) apply here identically."""
    from tamer_spark.functions.text import registrable_domain_col

    dom = registrable_domain_col(F.col(url_col))
    key = F.coalesce(
        F.when(F.length(dom) > 0, F.md5(dom)),
        F.concat(F.lit("nulldomain-"), F.col(id_col).cast("string")),
    )
    return (
        df.select(F.col(id_col), key.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def sentence_dedup_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", min_len: int = 1
) -> DataFrame:
    """Corpus-wide repeated-sentence counts — the CCNet/Gopher LINE-level
    dedup signal (boilerplate sentences repeat across millions of pages while
    their documents stay unique, so document-level dedup never sees them).

    Splits on '. ', hashes each non-empty sentence, one md5-digest shuffle
    with map-side combine (same cost shape as dedup_exact: ~24 B/sentence).
    Returns (content_hash, keep_id, dup_count); downstream strips or drops
    sentences whose dup_count exceeds a cap, keeping the first occurrence.
    """
    s = df.select(
        F.col(id_col).alias("doc_id"),
        # _outer: avoids the inferred size>0 filter re-running the split
        # regex below the project; the length guard drops any null row
        F.explode_outer(F.split(F.col(text_col), "\\. ")).alias("s"),
    ).filter(F.length("s") >= min_len)
    return (
        s.groupBy(F.md5(F.col("s")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def dedup_lines_in_doc(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """WITHIN-document duplicate-line removal, keep-first (the
    RefinedWeb/FineWeb line-dedup cleaning step — boilerplate navigation
    and cookie banners repeat inside a single page; public literature:
    Penedo et al., arXiv 2306.01116). Complements sentence_dedup_counts
    (ACROSS-document repetition) and the gopher line *signals* (which only
    measure): this one rewrites the text.

    Pinned semantics (cross-engine): lines = text split on '\\n', trimmed
    of spaces, empties dropped; a line survives iff it is the FIRST
    occurrence of its exact value in the document — expressed as
    position-of-first-match == own-index in BOTH engines, so the result
    never depends on either engine's distinct-ordering behavior; survivors
    re-join with '\\n'. Entirely map-only: the first-occurrence filter is
    an array HOF over the staged line array — no shuffle, no explode, at
    any corpus size (per-doc cost is O(lines²) string compares on short
    arrays; documents are pages, not books — the quadratic term is bounded
    by page line counts, and the compare is pointer-width for interned
    duplicates).

    Returns (doc_id, text_clean, n_lines, n_dropped).
    """
    staged = _staged_line_arrays(df, text_col, id_col, "\n")
    firsts = "filter(_lines, (x, i) -> array_position(_lines, x) = i + 1)"
    return staged.selectExpr(
        "doc_id",
        f"array_join({firsts}, '\\n') AS text_clean",
        "CAST(size(_lines) AS BIGINT) AS n_lines",
        f"CAST(size(_lines) - size({firsts}) AS BIGINT) AS n_dropped",
    )


def _doc_lines(
    df: DataFrame, text_col: str, id_col: str, split_pattern: str = "\n"
) -> DataFrame:
    """(doc_id, n_lines, idx, line, h): the corpus line stream under the
    pinned corpus-wide line convention (split on ``split_pattern``,
    space-trimmed, empties dropped — the same trim_nonempty_sql every line
    operator shares), with ``h`` = md5(line) so downstream shuffles move a
    16-byte digest key, not arbitrary-width line text, and ``idx`` the
    line's position among the SURVIVING (nonempty) units — the rebuild
    order. ``split_pattern`` is a Java regex: '\\n' gives line units (the
    gate-pinned default), '\\n{2,}' gives Dolma-style paragraph units."""
    return _staged_line_arrays(df, text_col, id_col, split_pattern).select(
        "doc_id",
        # each exploded row carries its doc's line total so the rebuild agg
        # never needs a second doc_id regroup of the stream for totals
        F.size("_lines").cast("long").alias("n_lines"),
        F.posexplode_outer("_lines").alias("idx", "line"),
    ).withColumn("h", F.md5("line"))


def _staged_line_arrays(
    df: DataFrame, text_col: str, id_col: str, split_pattern: str
) -> DataFrame:
    """(doc_id, _lines): THE corpus line/paragraph-unit convention (split
    on ``split_pattern``, space-trimmed, empties dropped) in exactly one
    place — _doc_lines (the exploded stream) and dedup_lines_in_doc both
    derive from this, so they cannot drift on what a 'line' is."""
    from tamer_spark.functions.text import sql_string, trim_nonempty_sql

    return df.selectExpr(
        f"{id_col} AS doc_id",
        trim_nonempty_sql(f"split({text_col}, {sql_string(split_pattern)})") + " AS _lines",
    )


def boilerplate_lines(
    df: DataFrame,
    min_doc_freq: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_pattern: str = "\n",
) -> DataFrame:
    """Lines appearing in ≥ ``min_doc_freq`` DISTINCT documents:
    ``(h, line, doc_freq)`` — the cross-document boilerplate set (cookie
    banners, nav menus, footers: Dolma, Soldaini et al. 2024 §4.1
    paragraph-level dedup; RefinedWeb, Penedo et al. 2023 §3.2 — a line
    shared by thousands of pages is template, not content, in ANY of
    them). Doc frequency counts documents, never occurrences — a line
    repeated inside one page (the dedup_lines_in_doc case) contributes 1.

    Plan: explode the line stream, one grouped count-distinct over
    (h, line) → doc_freq, threshold filter. The output is
    corpus_lines/min_doc_freq at most and tiny for real thresholds —
    persist it once per corpus snapshot and broadcast it against every
    future epoch (the incremental posture: stripping NEW batches against
    a FROZEN boilerplate set is a broadcast probe, no corpus re-scan).

    The ``line IS NOT NULL`` filter is load-bearing (review fix): the
    line stream keeps line-less documents as (line NULL) placeholder rows
    for the rebuild's sake, and without the filter a corpus with ≥ K
    empty/whitespace-only docs would emit a phantom (h=NULL, line=NULL)
    'boilerplate' row into every persisted snapshot. The inline path of
    :func:`dedup_lines_across_docs` applies the SAME filter — the two
    freq computations must never drift (pinned together in
    tests/test_line_dedup.py)."""
    if min_doc_freq < 2:
        raise ValueError(
            f"boilerplate_lines: min_doc_freq must be >= 2, got {min_doc_freq}"
        )
    return (
        _doc_lines(df, text_col, id_col, split_pattern)
        .filter(F.col("line").isNotNull())
        .groupBy("h", "line")
        .agg(F.count_distinct("doc_id").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_doc_freq)
    )


def dedup_lines_across_docs(
    df: DataFrame,
    min_doc_freq: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    boilerplate: DataFrame | None = None,
    split_pattern: str = "\n",
    join_sep: str = "\n",
) -> DataFrame:
    """ACROSS-document boilerplate-line removal: every occurrence of a line
    whose document frequency is ≥ ``min_doc_freq`` is dropped from every
    document (remove-ALL, not keep-first — the complement of
    ``c4_span_dedup``: a span duplicated once is content someone copied,
    kept at its first home; a line in ≥K documents is template chrome that
    is content in NONE of them). Within-doc repeats of a below-threshold
    line survive untouched — that's ``dedup_lines_in_doc``'s job.

    Pinned semantics (cross-engine): the corpus line convention (split on
    '\\n', trim, drop empties), doc_freq = COUNT(DISTINCT doc) per exact
    line value, survivors re-join with '\\n' in original order; a doc whose
    every line is boilerplate yields ``text_clean = ''`` (the row stays —
    dropping documents is a downstream verdict, same contract as the C4
    cleaner). Returns (doc_id, text_clean, n_lines, n_dropped).

    Shuffle profile at 100 TB (plan-pinned): the POST-THRESHOLD
    boilerplate set is tiny, so Catalyst broadcasts it back onto the
    un-shuffled probe stream (BroadcastHashJoin LeftOuter — the full line
    stream never exchanges on ``h``); the only line-stream shuffles are
    the count-distinct's (h, doc_id) dedup + (h) freq aggregate and the
    ONE doc_id regroup that rebuilds the text. Nothing doc×doc; a
    permissive threshold that outgrows the broadcast limit degrades to an
    AQE sort-merge join, not a failure. Steady-state epochs skip the freq
    pass entirely: pass a persisted ``boilerplate`` frame (from
    :func:`boilerplate_lines` over the historical corpus) and the batch
    pays only its own map-side probe + rebuild.

    Paragraph mode (Dolma's actual unit): ``split_pattern='\\n{2,}'`` +
    ``join_sep='\\n\\n'`` — units become blank-line-separated paragraphs,
    everything else identical. A frozen ``boilerplate`` frame must have
    been built with the SAME split_pattern."""
    lines = _doc_lines(df, text_col, id_col, split_pattern)
    if boilerplate is None:
        if min_doc_freq < 2:
            raise ValueError(
                f"dedup_lines_across_docs: min_doc_freq must be >= 2, got {min_doc_freq}"
            )
        freq = (
            # same contract as boilerplate_lines (grouped by h alone so the
            # shuffle carries the 16-byte key, not line text): the NOT NULL
            # filter keeps line-less placeholder rows out of the freq count
            # — without it, ≥K empty docs form a (h=NULL) group that the
            # non-null-safe join below would SILENTLY never match, leaving
            # the bug latent until a null-safe join refactor detonates it
            lines.filter(F.col("line").isNotNull())
            .groupBy("h")
            .agg(F.count_distinct("doc_id").alias("doc_freq"))
            .filter(F.col("doc_freq") >= min_doc_freq)
            .select("h", F.lit(True).alias("_bp"))
        )
        tagged = lines.join(freq, "h", "left")
    else:
        tagged = lines.join(
            F.broadcast(
                boilerplate.select("h").dropDuplicates(["h"]).withColumn(
                    "_bp", F.lit(True)
                )
            ),
            "h",
            "left",
        )
    # a LEFT join tag, never an anti-join: an all-boilerplate doc must
    # still reach the rebuild (text_clean = '') — anti would erase it from
    # the output entirely. posexplode_outer keeps line-less docs in the
    # stream as (idx NULL, line NULL); both ride to the ONE doc_id regroup
    # (every exploded row carries n_lines, so totals need no extra pass).
    kept_struct = F.when(
        F.col("_bp").isNull() & F.col("line").isNotNull(),
        F.struct("idx", "line"),
    )
    # NULL-text contract (review fix): F.size(NULL) is NULL, so a NULL-text
    # doc carries n_lines NULL — its text_clean must be NULL too (split of
    # NULL is NULL in all three engines; dedup_lines_in_doc and the gate
    # oracle agree), not the '' that array_join over an empty collect_list
    # would manufacture. '' remains reserved for real all-boilerplate /
    # line-less docs (n_lines 0 or more).
    return tagged.groupBy("doc_id").agg(
        F.when(
            F.max("n_lines").isNotNull(),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line"],
                ),
                join_sep,
            ),
        ).alias("text_clean"),
        F.max("n_lines").alias("n_lines"),
        (F.max("n_lines") - F.count(kept_struct)).cast("long").alias("n_dropped"),
    )


def shingle_string_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, s) rows of raw n-word shingle strings.

    posexplode + window ``lead`` (linear; the row-local array formulation
    with ``element_at`` re-inlines the word-split per access — O(words²),
    measured 12s vs 2s at sf0.1). Documents shorter
    than n words yield their whole normalized text as one shingle. Rows are
    NOT deduplicated — ``.dropDuplicates([id_col, "s"])`` for set semantics.
    """
    norm = df.selectExpr(
        f"{id_col} AS doc_id", f"split({normalize_text_sql(text_col)}, ' ') AS ws"
    )
    short = norm.filter(f"size(ws) < {n}").selectExpr(
        "doc_id", "concat_ws(' ', ws) AS s"
    )
    # _outer: the explicit size>=n filter above already implies non-empty,
    # but plain posexplode would infer ANOTHER size>0 filter, re-evaluating
    # the split a third time per row on pushdown
    wp = norm.filter(f"size(ws) >= {n}").selectExpr(
        "doc_id", "posexplode_outer(ws) AS (pos, w)"
    )
    over = "OVER (PARTITION BY doc_id ORDER BY pos ASC)"
    parts = ["w"] + [f"lead(w, {j}) {over}" for j in range(1, n)]
    sh = (
        wp.selectExpr(
            "doc_id",
            f"{parts[-1]} AS _last",
            f"concat_ws(' ', {', '.join(parts)}) AS s",
        )
        # concat_ws skips NULLs, which would fabricate short tail shingles —
        # drop positions where the window ran past the document end
        .filter("_last IS NOT NULL")
        .drop("_last")
    )
    return sh.unionByName(short)


# polynomial combiner base for shingle hashes: B^2 * P < 2^62 keeps the
# 3-term combination inside int64 (B = 2^13 - 1)
SHINGLE_BASE = 8191


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature (k permutation-mins over shingle hashes).

    MAP-ONLY: signatures are per-document, so no exchange is needed at all.
    Three staged selects materialize, in order, the word array, the per-word
    hash array (one md5 per word), and the shingle-hash array (polynomial
    combination of adjacent word hashes — pure arithmetic); the final select
    takes k ``array_min`` permutation scans over the materialized shingle
    array. Each stage's alias is multiply-referenced downstream, which is
    exactly what stops CollapseProject from re-inlining it (same staging
    rule as text_profile / similarity.lsh_bucket_sql).

    History: an earlier row-local attempt that referenced the *expression*
    (not a materialized column) re-inlined the md5 array per access —
    measured 5× slower than the explode+window+partial-agg shape this
    replaced. Staged through columns, the row-local form is ~10× FASTER than
    that shape at sf0.1 (0.09s vs 0.9s) with zero shuffle (was docs×k ints),
    because the shuffle, sort, and k-aggregate machinery all disappear.

    Semantics identical to that exploded form (same word hash, same
    polynomial, same short-doc fold) — pinned by the driver oracle.

    One-parse SQL construction (r14): whole columns render as single
    selectExpr parses (see operators/pq.py rationale); trees identical
    modulo lambda-variable names.
    """
    from tamer_spark.functions.hashing import stable_hash64_sql

    coeffs = minhash_coefficients(k, seed)
    p, base = MERSENNE_P, SHINGLE_BASE
    s1 = df.selectExpr(
        f"{id_col} AS doc_id",
        f"split({normalize_text_sql(text_col)}, ' ') AS _ws",
    )
    s2 = s1.selectExpr(
        "doc_id", f"transform(_ws, w -> {stable_hash64_sql('w')} % {p}) AS _hs"
    )
    # shingle hash = (h[i]*B^(n-1) + ... + h[i+n-1]) % P over each window of n
    # The weights render as SQL literals; past int64 Spark would silently
    # parse them as DECIMAL(38,0) and switch the wrapping-BIGINT arithmetic
    # to decimal (different signatures, different type) where the old F.lit
    # path failed loudly — so fail loudly here instead, and pin the literal
    # type with the L suffix (r15, ADVICE r14).
    if base ** (n - 1) > 2**63 - 1:
        raise ValueError(
            f"minhash_signatures: base**(n-1) = {base}**{n - 1} exceeds "
            "int64 — shingle weights must stay BIGINT (supported n range "
            f"for base={base} ends at n={int((63 / (base.bit_length()))) + 1})"
        )
    shingle_at = " + ".join(
        f"element_at(_hs, i + {j}) * {base ** (n - 1 - j)}L" for j in range(n)
    )
    long_sh = f"transform(sequence(1, size(_hs) - {n - 1}), i -> ({shingle_at}) % {p})"
    # docs shorter than n words fold ALL word hashes into one value
    short_sh = (
        f"array(aggregate(_hs, CAST(0 AS BIGINT), "
        f"(acc, h) -> (acc * {base} + h) % {p}))"
    )
    s3 = s2.selectExpr(
        "doc_id",
        f"CASE WHEN size(_hs) < {n} THEN {short_sh} ELSE {long_sh} END AS _sh",
    )
    sig = ", ".join(
        f"array_min(transform(_sh, h -> ({a} * h + {b}) % {p}))" for a, b in coeffs
    )
    return s3.selectExpr("doc_id", f"array({sig}) AS signature")


def _release_on_gc(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie a cached intermediate's lifetime to the returned plan.

    The pair-finding plans persist their signature stage (it feeds 3 plan
    branches); a bare ``persist()`` would accumulate cache across repeated
    calls in a long-lived driver because Spark's CacheManager never GCs.
    A weakref finalizer unpersists the intermediate the moment the caller
    drops the result DataFrame (refcount-immediate in CPython) — callers
    that keep the result keep the cache, callers that move on release it,
    and nobody has to remember a handle.

    CAVEAT — chained derivation: ``pairs(df).filter(...).count()`` drops
    the wrapper before the action runs, firing the finalizer early; the
    query stays CORRECT (the plan recomputes the signature stage) but
    loses the compute-once benefit. Callers who derive further plans
    should hold the result in a variable for the duration, or call the
    ``(pairs, cached)`` form (minhash_lsh_pairs_with_cache,
    shingle_pair_stats) and unpersist the cached frame themselves.
    """
    import weakref

    def release(cs=cached):
        for c in cs:
            try:
                c.unpersist()
            except Exception:  # noqa: BLE001 — session already stopped at shutdown
                pass

    weakref.finalize(result, release)
    return result


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    seed: int = 42,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    k minhashes split into ``bands`` bands of k/bands rows; docs sharing any
    full band signature become a candidate pair. Returns distinct
    (doc_a < doc_b) pairs with the number of agreeing bands.

    Shuffle profile: explode to (band_id, band_sig, doc) — rows = docs×bands —
    then a self-join *within buckets only*. ``max_bucket`` drops degenerate
    buckets (e.g. empty-text boilerplate) that would otherwise create a
    quadratic hotspot; dropped buckets are real duplicate clusters and are
    caught by dedup_exact far more cheaply.
    """
    pairs, sigs = minhash_lsh_pairs_with_cache(
        df, text_col, id_col, k, bands, n, seed, max_bucket
    )
    return _release_on_gc(pairs, sigs)


def minhash_lsh_pairs_with_cache(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    seed: int = 42,
    max_bucket: int | None = 1000,
) -> tuple[DataFrame, DataFrame]:
    """``minhash_lsh_pairs`` returning ``(pairs, cached_signatures)`` so a
    caller that derives further plans from the pairs (e.g. connected-component
    clustering) can hold the signature cache alive until ITS final result is
    dropped — wire it with ``_release_on_gc(final_result, cached_signatures)``.
    """
    # the signature table is referenced by the bucket-size filter AND both
    # self-join sides; cache it so the (expensive) signature stage computes
    # once per execution instead of 3-4× (2.6× cold speedup at sf0.1)
    sigs = minhash_signatures(df, text_col, id_col, k, n, seed).persist()
    return lsh_bucket_pairs(lsh_bands(sigs, k, bands), max_bucket), sigs


def lsh_bands(sigs: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc_id, band_id, band_sig) for every doc × band of a
    ``minhash_signatures`` frame — THE banding expression: ``bands`` bands
    of k/bands rows, each a '-'-joined string signature. The pair finder,
    the incremental index build and both incremental probes call it, so
    their band keys are bit-identical (the no-false-negative guarantee of
    the index probes depends on it). Map-only."""
    if k % bands:
        raise ValueError("k must divide into equal bands")
    r = k // bands
    # _outer: plain posexplode infers a size>0 filter whose pushdown
    # re-inlines the band transform (Catalyst trap, see queries.py
    # minhash_signatures_q); band arrays are always length `bands`
    band_arr = (
        f"transform(sequence(0, {bands - 1}), b -> "
        f"concat_ws('-', transform(slice(signature, b * {r} + 1, {r}), "
        f"x -> CAST(x AS STRING))))"
    )
    return sigs.selectExpr(
        "doc_id", f"posexplode_outer({band_arr}) AS (band_id, band_sig)"
    )


def lsh_bucket_pairs(banded: DataFrame, max_bucket: int | None) -> DataFrame:
    """(doc_a < doc_b, matching_bands) for every pair of docs sharing a
    band bucket of ``banded`` (``lsh_bands`` rows) — the one capped bucket
    self-join. Buckets of more than ``max_bucket`` docs are dropped first
    (None = uncapped)."""
    if max_bucket is not None:
        # None = uncapped (the similarity-module convention). Guarded
        # explicitly: `count <= NULL` is NULL, so an unguarded filter would
        # silently drop EVERY bucket and return zero pairs — the silent-
        # empty mode-contract trap (r12; same class as the r11 salted_join
        # fix), pinned in tests/test_dedup_incremental.py.
        # The cap is a WINDOW count over partitionBy(band) (r14, the cc
        # discipline — guide §2.4 same-keyed ops share one exchange), not
        # the former groupBy + join-back: the count rides the same band
        # exchange the self-join below needs anyway, dropping a join
        # operator and the dual agg branch (A/B at sf0.1, cold like the
        # bench entry: per-round median ratio ~0.9, pairs identical).
        banded = (
            banded.selectExpr(
                "*",
                "count(1) OVER (PARTITION BY band_id, band_sig) AS _bc",
            )
            .filter(f"_bc <= {max_bucket}")
            .drop("_bc")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            F.expr(
                "a.band_id = b.band_id AND a.band_sig = b.band_sig "
                "AND a.doc_id < b.doc_id"
            ),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.expr("count(1) AS matching_bands"))
    )


def shingle_pair_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """THE shared shingle-pair machinery under both exact set measures:
    (doc_a, doc_b, inter, size_a, size_b) for every candidate pair sharing
    ≥ 1 distinct n-gram, plus the persisted exploded frame (caller releases
    it — the _release_on_gc contract). ONE copy: Jaccard and containment
    are one measure expression apart, and two drifting copies of the
    dedup/join/tie conventions is exactly the operator↔oracle bit-equality
    risk the sign_rows unification killed for the LSH planes.

    Plan: explode distinct shingles → self-equijoin on shingle (the
    post-LSH verification stage — at 100 TB feed it candidates, never the
    raw corpus) → pair counts partial-aggregated on (doc_a, doc_b) →
    per-doc set sizes joined back."""
    exploded = (
        shingle_string_rows(df, text_col, id_col, n)
        .dropDuplicates(["doc_id", "s"])
        .withColumnRenamed("s", "sh")
        .persist()
    )
    sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("size_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b"), exploded


def jaccard_measure(stats: DataFrame, threshold: float) -> DataFrame:
    """Resemblance over a shingle_pair_stats frame: |A∩B| / |A∪B| with the
    exact integer cross-multiplied threshold (float-free compare; the
    reported score divides two exact ints — deterministic double)."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10_000)
    union_sz = F.col("size_a") + F.col("size_b") - F.col("inter")
    return (
        stats.withColumn("union_sz", union_sz)
        .filter(F.col("inter") * frac.denominator >= F.lit(frac.numerator) * F.col("union_sz"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "union_sz",
            (F.col("inter").cast("double") / F.col("union_sz")).alias("jaccard"),
        )
    )


def containment_measure(stats: DataFrame, threshold: float) -> DataFrame:
    """One-sided Jaccard over a shingle_pair_stats frame (Broder 1997 §3):
    per unordered pair the MAX direction, inter / min(|A|, |B|)."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10_000)
    return (
        stats.withColumn("min_size", F.least(F.col("size_a"), F.col("size_b")))
        .filter(F.col("inter") * frac.denominator >= F.lit(frac.numerator) * F.col("min_size"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "min_size",
            (F.col("inter").cast("double") / F.col("min_size")).alias("containment"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle —
    shingle_pair_stats + the resemblance measure."""
    stats, exploded = shingle_pair_stats(df, text_col, id_col, n)
    pairs = jaccard_measure(stats, threshold)
    return _release_on_gc(pairs, exploded)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """SimHash document signatures (bit-majority vote over word hashes).

    For each bit position: +1 if the word's stable hash has the bit set else
    −1; sign of the sum sets the signature bit. MAP-ONLY, like
    minhash_signatures: the per-word hash array is materialized once in its
    own select (one md5 per word; multiply-referenced alias, so
    CollapseProject keeps it), then each bit's vote is an ``aggregate`` scan
    over that array — no exchange, signatures at parquet-scan rate.
    Returns (doc_id, simhash int64).
    """
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_ws"),
    ).select(
        "doc_id", F.transform("_ws", lambda w: stable_hash64(w)).alias("_hs")
    )

    def vote(i: int) -> Column:
        return F.aggregate(
            F.col("_hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(1 << i)) > 0, 1).otherwise(-1),
        )

    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.when(vote(i) > 0, F.lit(1 << i)).otherwise(0)
    return hashed.select("doc_id", out.alias("simhash"))


def template_dedup_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Template-collapse exact dedup: group by the masked fingerprint
    (functions/text.template_fingerprint_col — emails/urls/hex/digits
    masked), so machine-generated pages that differ only in volatile
    tokens dedup as one template family. The tier between 'normalized'
    (verbatim after whitespace) and MinHash (fuzzy): catches the
    mail-merge/receipt/listing spam that MinHash also catches but at
    exact-dedup cost — ONE 16 B md5 digest shuffle with map-side combine,
    masking rides the scan map-only.

    NULL text forms SINGLETON groups (key ``nulltmpl-<id>``) — the
    url_dedup_counts contract: a missing value must neither merge
    everything under one NULL key nor vanish from the keep_id semi-join.
    Returns (content_hash, keep_id, dup_count).
    """
    from tamer_spark.functions.text import template_fingerprint_col

    key = F.coalesce(
        F.md5(template_fingerprint_col(F.col(text_col))),
        F.concat(F.lit("nulltmpl-"), F.col(id_col).cast("string")),
    )
    return (
        df.select(key.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).cast("long").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )
