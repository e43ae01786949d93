"""Text-analysis column expressions for LLM-data pipelines.

All pure JVM-side Catalyst expressions (no Python UDFs): quality stats,
token counting, winnowing fingerprints, cleaning and PII scrubbing. Each
has an exact DuckDB-SQL equivalent (see tamer_spark/oracle.py) so the
correctness gate hash-matches.

Scale notes: every expression here is embarrassingly parallel, runs inside
whole-stage codegen, and needs only the ``text`` column (parquet column
pruning applies). At 100 TB these are scan-bound map operations — the ideal
shape.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker lists for the n-gram/stopword heuristic.
# Chosen to be regex-literal-safe and identical in the SQL oracle.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],  # pinyin-ish markers
}

# GPT-2-ish token pattern restricted to the RE2 ∩ Java-regex common subset:
# word pieces, numbers, or single non-space symbols.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def words(text: Column) -> Column:
    """Whitespace tokenization; [] for empty/blank input (both engines)."""
    return F.split(F.trim(text), "\\s+")


def word_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(F.size(words(text)))


def token_count_col(text: Column) -> Column:
    """BPE-ish token count: matches of TOKEN_PATTERN."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0))


def _count_marker(text: Column, w: str) -> Column:
    # count of whole-word occurrences; pad with spaces so boundaries are cheap
    return F.size(F.regexp_extract_all(F.concat(F.lit(" "), text, F.lit(" ")), F.lit(f"[^A-Za-z]{w}[^A-Za-z]"), 0))


def text_stats_cols(text: Column) -> list[Column]:
    """Quality-score feature columns; exact-arithmetic (int counts + ratios
    of exact ints → bit-identical across engines)."""
    n_chars = F.length(text)
    n_words = word_count(text)
    n_digits = F.size(F.regexp_extract_all(text, F.lit("[0-9]"), 0))
    n_punct = F.size(F.regexp_extract_all(text, F.lit("[!-/:-@\\[-`{-~]"), 0))
    n_spaces = F.size(F.regexp_extract_all(text, F.lit(" "), 0))
    n_stop = None
    for w in STOPWORDS:
        c = _count_marker(text, w)
        n_stop = c if n_stop is None else n_stop + c
    return [
        n_chars.cast("long").alias("n_chars_calc"),
        n_words.cast("long").alias("n_words"),
        n_digits.cast("long").alias("n_digits"),
        n_punct.cast("long").alias("n_punct"),
        # ratios: exact-int numerator/denominator → deterministic doubles
        (n_digits.cast("double") / F.greatest(n_chars, F.lit(1))).alias("digit_ratio"),
        (n_punct.cast("double") / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (n_spaces.cast("double") / F.greatest(n_chars, F.lit(1))).alias("space_ratio"),
        (n_stop.cast("double") / F.greatest(n_words, F.lit(1))).alias("stopword_ratio"),
        (n_chars.cast("double") / F.greatest(n_words, F.lit(1))).alias("avg_word_len"),
    ]


# Markup stripping — the WET-extraction stage every web-corpus pipeline
# runs FIRST (C4/CCNet/RefinedWeb all consume tag-stripped text; Raffel et
# al. 2020 §2.2, Penedo et al. 2023 — public literature). This is the
# tag-soup HEURISTIC those pipelines use at scale, not an HTML parser:
# comments and script/style blocks are dropped wholesale (non-greedy to
# the first closer), block-level boundaries become newlines so the line
# structure downstream line filters need survives, every remaining tag
# becomes a space, then the six core entities decode and whitespace
# canonicalizes. Known tag-soup limits (documented, shared with the
# production heuristics): an unclosed `<div` with no `>` survives as
# text; a literal `</script>` inside a JS string still closes the block;
# attributes containing `>` end the tag early. Patterns are pinned to the
# Java-regex/RE2 common subset (inline (?is) flags, non-greedy `.*?`,
# character classes — no lookarounds, no backreferences); entity decode
# runs AFTER tag stripping (decoded `&lt;b&gt;` is CONTENT, not markup)
# and `&amp;` decodes LAST so double-escapes resolve one level only.
MARKUP_COMMENT_RE = r"(?s)<!--.*?-->"
MARKUP_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
MARKUP_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
MARKUP_BLOCK_RE = r"(?i)<(?:br\s*/?|/p|/div|/li|/h[1-6]|/tr|/ul|/ol|/table|/blockquote)>"
MARKUP_TAG_RE = r"<[^>]*>"
# order is load-bearing: &amp; last (see module comment)
MARKUP_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)
MARKUP_WS_NL_RE = r"\s*\n\s*"  # any ws run containing a newline → one \n
MARKUP_WS_H_RE = r"[ \t\x0B\f\r]+"  # horizontal runs → one space
MARKUP_TRIM_RE = r"^\s+|\s+$"


def strip_markup_col(text: Column) -> Column:
    """Tag-soup markup stripping as one map-only regexp chain (constants
    above; the DuckDB oracle replays the identical chain). Runs at
    parquet-scan rate — zero shuffles, whole-stage codegen."""
    s = F.regexp_replace(text, MARKUP_COMMENT_RE, "")
    s = F.regexp_replace(s, MARKUP_SCRIPT_RE, "")
    s = F.regexp_replace(s, MARKUP_STYLE_RE, "")
    s = F.regexp_replace(s, MARKUP_BLOCK_RE, "\n")
    s = F.regexp_replace(s, MARKUP_TAG_RE, " ")
    for ent, ch in MARKUP_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.regexp_replace(s, MARKUP_WS_NL_RE, "\n")
    s = F.regexp_replace(s, MARKUP_WS_H_RE, " ")
    return F.regexp_replace(s, MARKUP_TRIM_RE, "")


# PII scrubbing (anonymization) — the FineWeb-style redaction stage
# (Penedo et al. 2024 anonymize emails/IPs before release; public
# literature). Patterns are pinned to the syntax BOTH regex engines (Java
# in Spark, RE2 in the DuckDB oracle) interpret identically: character
# classes, bounded repetition, non-capturing groups, \b word boundaries —
# no lookarounds, no backreferences.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"


def scrub_pii_col(text: Column) -> Column:
    """Redact emails then IPv4 literals (that order is pinned — an email's
    host part can contain digit runs an IP pattern would otherwise bite).
    Map-only; the replacement tokens are greppable sentinels."""
    return F.regexp_replace(
        F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>"), PII_IPV4_RE, "<IP>"
    )


def pii_count_cols(text: Column) -> list[Column]:
    """Per-pattern match counts over the ORIGINAL text (n_emails, n_ips) —
    audit columns answering "how many PII-shaped tokens did this document
    carry", NOT a count of redaction events in the scrubbed output: an
    IPv4-shaped run inside an email address is counted by the IP pattern
    here but redacted as part of the single <EMAIL> token (pinned in
    tests/test_pii.py::test_email_before_ip_order). Reconcile audits
    against these counts, not against sentinel-token greps."""
    return [
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PII_IPV4_RE), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
    ]


def trim_nonempty_sql(arr: str) -> str:
    """THE pinned line/sentence staging convention, shared by
    gopher_signals, c4_line_filter/c4_span_dedup, and the line operators of
    operators/dedup.py (each DuckDB oracle mirrors it as
    ``list_filter(list_transform(x, x -> trim(x)), x -> len(x) > 0)``):
    trim each element of a string array — SPACES only, matching both
    engines' default trim — and drop empties. One definition so the
    operators' pinned semantics can never silently diverge."""
    return f"filter(transform({arr}, x -> trim(x)), x -> length(x) > 0)"


def winnow_fingerprints(df, k: int = 4, w: int = 5):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm) over word ``k``-grams.

    Hash every k-gram, slide a window of ``w`` consecutive hashes, keep
    each window's minimum: the selected set is GUARANTEED to share a
    fingerprint with any other document sharing a run of at least
    w + k - 1 words (the winnowing coverage theorem), while keeping only
    ~2/(w+1) of the k-gram hashes — tunable density with a provable
    detection floor, unlike plain 1-in-p hash sampling. Degenerate docs
    follow the shingle-family convention: fewer than k words → one hash
    of the whole text; fewer than w windows → the single global minimum
    (always >= 1 fingerprint per doc).

    MAP-ONLY, and STAGED through materialized columns (the
    minhash_signatures rule: a multi-referenced expensive array must be a
    column alias, or CollapseProject re-inlines one md5-per-gram
    evaluation into every reference). Values are stable_hash64, so the
    selection replays identically in any engine. Returns
    (doc_id, fingerprints array<long>).

    No analog in the reference engine; training-data extension surface.
    """
    from tamer_spark.functions.hashing import stable_hash64
    from tamer_spark.operators.dedup import normalize_text

    s1 = df.select(
        "doc_id",
        F.split(normalize_text(F.col("text")), " ").alias("_ws"),
    )
    s2 = s1.select(
        "doc_id",
        F.when(
            F.size("_ws") - (k - 1) <= 0,
            F.array(stable_hash64(F.array_join("_ws", " "))),
        )
        .otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size("_ws") - k),
                lambda i: stable_hash64(F.array_join(F.slice("_ws", i + 1, k), " ")),
            )
        )
        .alias("_kh"),
    )
    return s2.select(
        "doc_id",
        F.when(
            F.size("_kh") - (w - 1) <= 0,
            F.array(F.array_min("_kh")),
        )
        .otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("_kh") - (w - 1)),
                    lambda j: F.array_min(F.slice("_kh", j, w)),
                )
            )
        )
        .alias("fingerprints"),
    )


def winnow_overlap_pairs(fps, min_shared: int = 2, max_posting: int | None = 10_000):
    """Near-dup candidate pairs from winnowing fingerprints: docs sharing
    >= ``min_shared`` selected fingerprints. With the coverage theorem this
    inherits a hard guarantee plain MinHash lacks: any two docs sharing
    ``min_shared`` disjoint runs of w+k-1 words MUST appear (no
    probabilistic misses), while unrelated docs share nothing.

    Shape: explode the per-doc sets (~2/(w+1) of grams), self-join on the
    fingerprint VALUE (bucket ids only, never all pairs), count shared
    values per (id_a < id_b) pair — the minhash-banding cost class.
    ``max_posting`` caps a hot fingerprint's posting list (boilerplate
    grams) by deterministic pseudo-random retention, same contract and
    mechanism as the LSH ``max_bucket`` guard; ``None`` = exact.

    Input: the output of :func:`winnow_fingerprints`. Returns
    (id_a, id_b, n_shared).
    """
    from pyspark.sql import Window

    from tamer_spark.functions.hashing import stable_hash64

    posting = fps.select("doc_id", F.explode_outer("fingerprints").alias("fp"))
    if max_posting is not None:
        wcap = Window.partitionBy("fp").orderBy(
            stable_hash64(F.col("doc_id").cast("string")), "doc_id"
        )
        posting = (
            posting.withColumn("_r", F.row_number().over(wcap))
            .filter(F.col("_r") <= max_posting)
            .drop("_r")
        )
    a = posting.select(F.col("doc_id").alias("id_a"), "fp")
    b = posting.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# URL canonicalization — the URL-level dedup key every web-crawl pipeline
# computes BEFORE content dedup (CCNet, Wenzek et al. 2019 §2 dedup-by-URL;
# RefinedWeb, Penedo et al. 2023 §3.2 exact URL dedup against previously
# crawled pages). Steps are pinned, in this order, and every pattern sits in
# the Java-regex/RE2 common subset so the DuckDB oracle replays the chain
# byte-identically:
#   1. strip the scheme (case-insensitive via the explicit class),
#   2. lowercase host[:port] ONLY (path/query case is meaningful and kept),
#   3. strip a leading "www." and an explicit default port (:80/:443 —
#      stripped regardless of scheme: after step 1 the scheme is gone, and
#      a mismatched explicit default port is a dedup-equivalent URL anyway;
#      documented caveat: http://host:443/x and https://host/x collapse to
#      one key, distinct only on misconfigured hosts serving different
#      content per port — accepted, scheme-aware stripping would need the
#      scheme kept through step 3 in all three engines),
#   4. drop the #fragment (client-side only, never a distinct resource),
#   5. strip trailing slashes from the path,
#   6. drop tracking query params (utm_*, gclid, fbclid, msclkid, ref_src),
#      sort the survivors bytewise, rejoin with '&' (param order never
#      distinguishes resources; tracking params never do). Bare 'ref' is
#      deliberately NOT in the list (r11 ADVICE): it is a common CONTENT
#      parameter (?ref=<branch> on code hosts, ?ref=<product> on shops), so
#      treating it as tracking would merge genuinely distinct resources
#      into one dedup key and the keep_id semi-join would then silently
#      drop real documents — overcollapse is the asymmetric failure (a
#      kept tracking param only splits a dup group; a dropped content
#      param destroys data). Callers with a corpus where 'ref' IS pure
#      tracking can pre-strip it before canonicalize_url_sql.
URL_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://"
URL_HOSTPORT_RE = r"^[^/?#]*"
URL_WWW_RE = r"^www\."
URL_DEFAULT_PORT_RE = r":(80|443)$"
URL_FRAGMENT_RE = r"#.*$"
URL_PATH_RE = r"^[^?]*"
URL_QUERY_RE = r"^[^?]*\?(.*)$"
URL_TRAILING_SLASH_RE = r"/+$"
URL_TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|ref_src)="


def sql_string(s: str) -> str:
    """Single-quoted Spark SQL string literal of ``s`` (backslashes doubled
    and quotes escaped — the default escapedStringLiterals=false parser
    processes escapes, which session.py pins)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def canonicalize_url_sql(url: str) -> str:
    """Canonical dedup key for a URL column (constants/steps above), as one
    SQL fragment.

    Pure Catalyst expression chain — map-only, whole-stage codegen, zero
    shuffles; the groupBy in url-level dedup shuffles only the 16-byte
    md5 of THIS string. NULL input propagates to NULL (concat semantics,
    matching the oracle's ``||``) — url_dedup_counts excludes NULL urls
    up front, since a one-NULL-key dup group would silently merge every
    url-less document (pinned in tests/test_url_dedup.py).

    The rest-of-URL slice uses the RAW hostport's length: lowercasing can
    change a string's length (İ → i̇ is 1 → 2 chars), and slicing with
    the lowered length would swallow the path's leading '/' — collapsing
    distinct resources into one dedup key.
    """
    s = f"regexp_replace({url}, {sql_string(URL_SCHEME_RE)}, '')"
    hostport_raw = f"regexp_extract({s}, {sql_string(URL_HOSTPORT_RE)}, 0)"
    hostport = f"lower({hostport_raw})"
    host = (
        f"regexp_replace(regexp_replace({hostport}, {sql_string(URL_WWW_RE)}, ''), "
        f"{sql_string(URL_DEFAULT_PORT_RE)}, '')"
    )
    rest = (
        f"regexp_replace(substr({s}, length({hostport_raw}) + 1, length({s})), "
        f"{sql_string(URL_FRAGMENT_RE)}, '')"
    )
    path = (
        f"regexp_replace(regexp_extract({rest}, {sql_string(URL_PATH_RE)}, 0), "
        f"{sql_string(URL_TRAILING_SLASH_RE)}, '')"
    )
    kept = (
        f"filter(split(regexp_extract({rest}, {sql_string(URL_QUERY_RE)}, 1), '&'), "
        f"p -> length(p) > 0 AND NOT (p RLIKE {sql_string(URL_TRACKING_PARAM_RE)}))"
    )
    q = f"array_join(array_sort({kept}), '&')"
    return (
        f"concat({host}, {path}, "
        f"CASE WHEN {q} = '' THEN '' ELSE concat('?', {q}) END)"
    )



# Registrable-domain extraction — the CCNet/RefinedWeb PER-DOMAIN key
# (CCNet aggregates quality by domain; RefinedWeb §3.1 filters whole
# domains via blocklists: a domain-level verdict needs a domain-level
# group key, and the bare host over-splits — blog.example.com and
# www.example.com are the same publisher). Heuristic, NOT the full Public
# Suffix List (not vendorable here): the registrable domain is the last
# TWO host labels, or THREE when the last two form one of the pinned
# common two-level public suffixes below. Documented limitations: exotic
# PSL entries (city TLDs, private suffixes like github.io) resolve to
# their last two labels — fine for a GROUPING key (it under-splits only
# inside shared-hosting suffixes); IPv4 hosts are returned whole (their
# 'last two labels' are meaningless); ANY explicit port is stripped
# (unlike the dedup canonicalizer, which strips only :80/:443 — a port is
# never part of a domain verdict). Every step sits in the Java-regex/RE2
# common subset so DuckDB replays the chain exactly.
TWO_LEVEL_SUFFIXES = (
    "ac.jp", "ac.uk", "co.in", "co.jp", "co.kr", "co.nz", "co.uk", "co.za",
    "com.ar", "com.au", "com.br", "com.cn", "com.mx", "com.sg", "com.tr",
    "com.tw", "edu.au", "go.jp", "gov.au", "gov.uk", "ne.jp", "net.au",
    "or.jp", "org.au", "org.nz", "org.uk",
)
URL_ANY_PORT_RE = r":[0-9]+$"
IPV4_HOST_RE = r"^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$"


def url_host_col(url: Column) -> Column:
    """Lowercased host of a URL column, www. and ANY explicit port
    stripped — the domain family's host convention (shared by
    registrable_domain_col, its DuckDB mirror and the Python one in
    tests/test_domain.py)."""
    s = F.regexp_replace(url, URL_SCHEME_RE, "")
    hostport = F.lower(F.regexp_extract(s, URL_HOSTPORT_RE, 0))
    return F.regexp_replace(
        F.regexp_replace(hostport, URL_WWW_RE, ""), URL_ANY_PORT_RE, ""
    )


def registrable_domain_col(url: Column) -> Column:
    """Registrable domain of a URL column (constants/heuristic above).
    Pure Catalyst chain — map-only, zero shuffles; NULL url → NULL.
    Empty-host inputs (relative references) yield '' — callers that group
    must singleton them (domain_doc_counts does, the url_dedup_counts
    NULL rule)."""
    host = url_host_col(url)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(
        ".",
        F.element_at(labels, -3),
        F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    return (
        F.when(host.rlike(IPV4_HOST_RE), host)
        .when((n >= 3) & last2.isin(*TWO_LEVEL_SUFFIXES), last3)
        .when(n >= 2, last2)
        .otherwise(host)
    )



# Encoding repair (ftfy-lite; Speer 2019, "ftfy: fixes text for you" — the
# mojibake-repair pass web pipelines run on extracted text before any
# filtering, since quality scores and dedup keys computed over broken
# encodings are themselves broken). Scope here is the dominant real-world
# failure plus transport debris, each a pinned constant-driven step:
#   1. mojibake: UTF-8 bytes mis-decoded as cp1252 (latin-1 fallback for
#      the five undefined cp1252 bytes) — the table below is GENERATED from
#      the intended characters, so the broken sequences can never drift
#      from their fixes; longest sequences first (pinned order),
#   2. NBSP (U+00A0) → plain space,
#   3. zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) removed,
#   4. CRLF → LF, then stray CR → LF,
#   5. control characters removed (C0 except tab/newline, DEL, and the C1
#      range — what survives step 1's mojibake repairs is debris).
def _mojibake(ch: str) -> str:
    """The cp1252 mis-decoding of ``ch``'s UTF-8 bytes (latin-1 for the
    five bytes cp1252 leaves undefined — exactly what lenient decoders
    emit)."""
    out = []
    for b in ch.encode("utf-8"):
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


MOJIBAKE_CHARS = (
    "é", "è", "à", "ç", "ä", "ö", "ü", "ñ",
    "’", "‘", "“", "”", "—", "–", "…", "€",
)
MOJIBAKE_FIXES: tuple[tuple[str, str], ...] = tuple(
    sorted(
        ((_mojibake(c), c) for c in MOJIBAKE_CHARS),
        key=lambda p: (-len(p[0]), p[0]),
    )
)
ENC_NBSP = " "
ENC_ZERO_WIDTH_RE = r"[​‌‍﻿]"
ENC_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x80-\x9f]"
ENC_NONASCII_RE = r"[^\x00-\x7f]"


def fix_encoding_col(text: Column) -> Column:
    """Encoding repair as one map-only chain (constants/steps above; the
    DuckDB oracle replays the identical chain from the same constants).
    Scan-rate, zero shuffles, whole-stage codegen.

    Step order is load-bearing twice: mojibake BEFORE the NBSP fold (the
    mojibake of 'à' is 'Ã' + NBSP — folding NBSP first would orphan it
    forever), and mojibake BEFORE control removal (the mojibake of '”'
    carries the C1 byte U+009D — removing controls first would likewise
    orphan it). Idempotent over its own output for contiguous broken
    sequences (pinned in tests/test_encoding.py); the known non-fixpoint:
    a zero-width char INSIDE a mojibake sequence re-exposes it only after
    debris removal — ftfy handles that by looping, callers with
    adversarial input can apply the column twice."""
    s = text
    for broken, fixed in MOJIBAKE_FIXES:
        s = F.replace(s, F.lit(broken), F.lit(fixed))
    s = F.replace(s, F.lit(ENC_NBSP), F.lit(" "))
    s = F.regexp_replace(s, ENC_ZERO_WIDTH_RE, "")
    s = F.replace(s, F.lit("\r\n"), F.lit("\n"))
    s = F.replace(s, F.lit("\r"), F.lit("\n"))
    return F.regexp_replace(s, ENC_CTRL_RE, "")


# --- template fingerprinting (r12) -----------------------------------------
# Masking chain for template-collapse dedup: raw strings that differ only in
# volatile tokens (ids, emails, urls, hashes, numbers) share one fingerprint.
# Patterns pinned to the Java-regex/RE2 common subset (both engines replay
# them verbatim); ORDER IS LOAD-BEARING and pinned in tests — emails mask
# before urls (a userinfo-style '@' must not survive into the url token),
# urls before hex/digits (a url must collapse to ONE token, not to a
# digit-masked near-miss), hex runs before digits (an all-digit hash run
# must read <H>, not 0).
TEMPLATE_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
TEMPLATE_URL_RE = r"https?://[^\s]+"
TEMPLATE_HEX_RE = r"\b[0-9a-f]{8,}\b"
TEMPLATE_DIGIT_RE = r"[0-9]+"


def template_fingerprint_col(text: Column) -> Column:
    """Template fingerprint: lowercase, then mask emails → ``<E>``, urls →
    ``<U>``, hex runs (≥8) → ``<H>``, digit runs → ``0``, then the standard
    whitespace canonicalization. Two spam/boilerplate pages generated from
    the same template but with different order numbers, tracking links, and
    recipient addresses collapse to one key — the template-collapse tier of
    exact dedup (between 'normalized' and MinHash in aggressiveness).
    Map-only Catalyst chain at scan rate."""
    s = F.lower(text)
    s = F.regexp_replace(s, TEMPLATE_EMAIL_RE, "<E>")
    s = F.regexp_replace(s, TEMPLATE_URL_RE, "<U>")
    s = F.regexp_replace(s, TEMPLATE_HEX_RE, "<H>")
    s = F.regexp_replace(s, TEMPLATE_DIGIT_RE, "0")
    return F.trim(F.regexp_replace(s, r"\s+", " "))


# Unicode-script profiling: ONE pattern table drives the Spark columns AND
# the generated oracle SQL (the sign_rows single-derivation rule — a drift
# in one copy silently breaks operator↔oracle equality). Ranges are
# literal-char classes built with chr() so the identical pattern string
# works in Java regex and RE2 — the engines disagree on \\p{script} SYNTAX
# (Java \\p{IsHan} vs RE2 \\p{Han}) but both accept codepoint ranges.
# 'latin' includes Latin-1/Ext-A/B letters (C0–24F; the × ÷ signs ride
# along — a documented heuristic, they never appear in prose counts that
# matter). 'cjk' = Han + hiragana + katakana (the routing question is
# "CJK pipeline or not", not language ID — the LANG_MARKERS vote owns that).
SCRIPT_PATTERNS: dict[str, str] = {
    "arabic": f"[{chr(0x0600)}-{chr(0x06FF)}]",
    "cjk": f"[{chr(0x4E00)}-{chr(0x9FFF)}{chr(0x3040)}-{chr(0x30FF)}]",
    "cyrillic": f"[{chr(0x0400)}-{chr(0x04FF)}]",
    "hangul": f"[{chr(0xAC00)}-{chr(0xD7A3)}]",
    "latin": f"[A-Za-z{chr(0x00C0)}-{chr(0x024F)}]",
}


def dominant_script_sql() -> str:
    """SQL for the majority script over the staged ``n_<script>`` count
    columns (one ``regexp_count`` per SCRIPT_PATTERNS entry) — stage the
    counts in a prior select: the greatest + tie chain references every
    count ~3×, and deriving it from the text would pay ~15 regexp passes
    where 5 suffice (measured +47 % on the text_profile gate before this
    split). Alphabetical-first on ties (a total order — the
    LANG_MARKERS vote's convention), 'none' when no script chars at all."""
    names = sorted(SCRIPT_PATTERNS)
    g = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    whens = " ".join(f"WHEN ({g} > 0) AND (n_{n} = {g}) THEN '{n}'" for n in names)
    return f"CASE {whens} ELSE 'none' END"
