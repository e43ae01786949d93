"""Cross-document boilerplate-line removal (operators/dedup.py
boilerplate_lines + dedup_lines_across_docs — Dolma §4.1 / RefinedWeb §3.2
remove-ALL line dedup, the complement of c4_span_dedup's keep-first and of
dedup_lines_in_doc's within-page scope). Pins the doc-frequency contract,
the remove-all semantics, the all-boilerplate/'' survival rule, the frozen
boilerplate-set epoch mode, and the broadcast-probe/three-shuffle plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tamer_spark.operators.dedup import boilerplate_lines, dedup_lines_across_docs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _fixture(spark):
    return _docs(
        spark,
        [
            (1, "COOKIE BANNER\nreal content one\nfooter"),
            (2, "COOKIE BANNER\nreal content two\nfooter"),
            (3, "COOKIE BANNER\nunique text"),
            (4, "COOKIE BANNER\nCOOKIE BANNER"),  # all-boilerplate, in-doc repeat
            (5, ""),                                # line-less doc
            (6, "  footer  \nsolo line"),           # trim convention
        ],
    )


def test_doc_freq_counts_documents_not_occurrences(spark):
    # doc 4 contains the banner twice but contributes ONE to its doc_freq
    bp = {r.line: r.doc_freq for r in boilerplate_lines(_fixture(spark), 2).collect()}
    assert bp == {"COOKIE BANNER": 4, "footer": 3}


def test_threshold_boundary_inclusive(spark):
    # footer df=3: dropped at min_doc_freq=3, kept at 4 — ≥ is inclusive
    at3 = {r.line for r in boilerplate_lines(_fixture(spark), 3).collect()}
    at4 = {r.line for r in boilerplate_lines(_fixture(spark), 4).collect()}
    assert at3 == {"COOKIE BANNER", "footer"}
    assert at4 == {"COOKIE BANNER"}


def test_remove_all_occurrences_keep_order(spark):
    out = {r.doc_id: r for r in dedup_lines_across_docs(_fixture(spark), 3).collect()}
    assert out[1].text_clean == "real content one"
    assert out[2].text_clean == "real content two"
    assert out[3].text_clean == "unique text"
    assert (out[1].n_lines, out[1].n_dropped) == (3, 2)
    # trim convention: '  footer  ' is the same line as 'footer'
    assert out[6].text_clean == "solo line" and out[6].n_dropped == 1


def test_all_boilerplate_doc_survives_as_empty(spark):
    # the LEFT-tag-join rule: doc 4 loses every line yet keeps its row —
    # dropping documents is a downstream verdict, never this operator's
    out = {r.doc_id: r for r in dedup_lines_across_docs(_fixture(spark), 3).collect()}
    assert out[4].text_clean == "" and (out[4].n_lines, out[4].n_dropped) == (2, 2)
    assert out[5].text_clean == "" and (out[5].n_lines, out[5].n_dropped) == (0, 0)
    assert set(out) == {1, 2, 3, 4, 5, 6}  # nobody erased


def test_below_threshold_within_doc_repeats_survive(spark):
    # a line repeated inside ONE doc only is dedup_lines_in_doc's job —
    # this operator must leave both copies
    df = _docs(spark, [(1, "once\ntwice\ntwice"), (2, "other")])
    out = {r.doc_id: r for r in dedup_lines_across_docs(df, 2).collect()}
    assert out[1].text_clean == "once\ntwice\ntwice" and out[1].n_dropped == 0


def test_frozen_boilerplate_set_mode_matches_inline(spark):
    # the epoch posture: a persisted boilerplate_lines frame broadcast
    # against the batch gives the identical result, no freq pass
    df = _fixture(spark)
    bp = boilerplate_lines(df, 3)
    inline = {tuple(r) for r in dedup_lines_across_docs(df, 3).collect()}
    frozen = {tuple(r) for r in dedup_lines_across_docs(df, boilerplate=bp).collect()}
    assert inline == frozen


def test_min_doc_freq_validation(spark):
    with pytest.raises(ValueError):
        boilerplate_lines(_fixture(spark), 1)
    with pytest.raises(ValueError):
        dedup_lines_across_docs(_fixture(spark), 1)


def test_matches_duckdb_replay(spark):
    """Three-engine convention: the DuckDB replay (list_filter + one
    boilerplate list, the gate's oracle shape) agrees row-for-row on a
    text with planted boundary cases."""
    import duckdb

    rows = [(i, f"shared banner\ncontent {i % 7}\ntail {i}") for i in range(30)]
    df = _docs(spark, rows)
    got = sorted(
        (r.doc_id, r.text_clean, r.n_lines, r.n_dropped)
        for r in dedup_lines_across_docs(df, 3).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
        WITH llin AS (SELECT doc_id,
            list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> len(x) > 0) AS lines
          FROM documents),
        lfreq AS (SELECT line FROM (SELECT DISTINCT doc_id, unnest(lines) AS line FROM llin)
                  GROUP BY line HAVING COUNT(*) >= 3),
        lbp AS (SELECT COALESCE(list(line), []) AS bp FROM lfreq)
        SELECT doc_id,
               CASE WHEN lines IS NULL THEN NULL
                    ELSE COALESCE(array_to_string(list_filter(lines, x -> NOT list_contains(bp, x)), chr(10)), '')
               END AS text_clean,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(lines) - len(list_filter(lines, x -> NOT list_contains(bp, x))) AS BIGINT) AS n_dropped
        FROM llin CROSS JOIN lbp
        """
        ).fetchall()
    )
    assert got == want
    # 'content {i%7}' lines have df ≥ 4 (30/7) — dropped; 'tail {i}' unique — kept
    by_id = dict((d, t) for d, t, _, _ in got)
    assert by_id[0] == "tail 0"


def test_plan_probe_never_shuffles_three_exchanges(spark):
    """The 100 TB posture Catalyst actually picks (better than the naive
    shuffle-both-sides shape): the post-threshold boilerplate set is TINY,
    so it broadcasts back onto the UN-SHUFFLED probe stream
    (BroadcastHashJoin LeftOuter — the full line stream never exchanges on
    h). Exactly three shuffles: the count-distinct's (h, doc_id) dedup,
    the (h) freq agg, and the one doc_id rebuild regroup — plus no
    cartesian anywhere. If the set outgrows the broadcast threshold at a
    permissive min_doc_freq, AQE falls back to a sort-merge join at
    runtime; the declarative plan stays valid either way."""
    from tamer_spark.plans import explain_str, plan_shape, read_schema_columns
    from tamer_spark.queries import line_dedup_docs_q

    df = line_dedup_docs_q(spark, "/root/testdata/sf0.001")
    plan = explain_str(df)
    shape = plan_shape(df)
    assert not shape.count("CartesianProduct", "BroadcastNestedLoopJoin"), shape
    assert "BroadcastHashJoin LeftOuter" in plan, plan
    assert shape.shuffles == 3, shape
    scans = read_schema_columns(df)
    assert scans and all(s <= {"doc_id", "text"} for s in scans), scans


def test_no_phantom_null_boilerplate_from_empty_docs(spark):
    """Review fix: ≥K line-less docs must NOT mint a (h=NULL, line=NULL)
    'boilerplate' row — the placeholder rows exist for the rebuild, never
    for the frequency count. Pinned on BOTH freq paths (the persisted-set
    builder and the inline path) so they cannot drift."""
    df = _docs(
        spark,
        [(1, ""), (2, ""), (3, None), (4, "x\ny"), (5, "x\nz")],
    )
    bp = boilerplate_lines(df, 2).collect()
    assert [(r.line, r.doc_freq) for r in bp] == [("x", 2)]
    assert all(r.h is not None for r in bp)
    # inline path agrees: only 'x' stripped, empty/NULL docs intact
    out = {r.doc_id: r for r in dedup_lines_across_docs(df, 2).collect()}
    assert out[4].text_clean == "y" and out[5].text_clean == "z"
    assert out[1].text_clean == "" and out[2].text_clean == ""


def test_null_text_doc_contract_matches_oracle(spark):
    """Review fix: a NULL-text doc yields (NULL, NULL, NULL) — split of
    NULL is NULL in all three engines (dedup_lines_in_doc and the gate
    oracle agree); '' is reserved for real line-less/all-boilerplate docs.
    The DuckDB replay is run on the same corpus to pin the parity."""
    import duckdb

    rows = [(1, "dup\na"), (2, "dup\nb"), (3, None), (4, "")]
    df = _docs(spark, rows)
    got = sorted(
        (r.doc_id, r.text_clean, r.n_lines, r.n_dropped)
        for r in dedup_lines_across_docs(df, 2).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
        WITH llin AS (SELECT doc_id,
            list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> len(x) > 0) AS lines
          FROM documents),
        lfreq AS (SELECT line FROM (SELECT DISTINCT doc_id, unnest(lines) AS line FROM llin)
                  GROUP BY line HAVING COUNT(*) >= 2),
        lbp AS (SELECT COALESCE(list(line), []) AS bp FROM lfreq)
        SELECT doc_id,
               CASE WHEN lines IS NULL THEN NULL
                    ELSE COALESCE(array_to_string(list_filter(lines, x -> NOT list_contains(bp, x)), chr(10)), '')
               END AS text_clean,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(lines) - len(list_filter(lines, x -> NOT list_contains(bp, x))) AS BIGINT) AS n_dropped
        FROM llin CROSS JOIN lbp
        """
        ).fetchall()
    )
    assert got == want
    by_id = {d: (t, nl, nd) for d, t, nl, nd in got}
    assert by_id[3] == (None, None, None)
    assert by_id[4] == ("", 0, 0)


def test_paragraph_mode_dolma_units(spark):
    """Dolma's actual unit is the paragraph: split on blank lines, rejoin
    with a blank line — a repeated multi-line paragraph is ONE unit, and
    single newlines inside paragraphs survive untouched."""
    para = "shared disclaimer line one\nshared disclaimer line two"
    df = _docs(
        spark,
        [
            (1, f"{para}\n\nunique body a\nstill body a"),
            (2, f"{para}\n\nunique body b"),
            (3, f"intro c\n\n{para}"),
        ],
    )
    out = {
        r.doc_id: r
        for r in dedup_lines_across_docs(
            df, 3, split_pattern="\n{2,}", join_sep="\n\n"
        ).collect()
    }
    assert out[1].text_clean == "unique body a\nstill body a"
    assert out[2].text_clean == "unique body b"
    assert out[3].text_clean == "intro c"
    assert all((out[i].n_lines, out[i].n_dropped) == (2, 1) for i in (1, 2, 3))
    # line mode on the same corpus would see 'shared disclaimer line one'
    # and '...two' as separate df=3 lines — different units, same spirit
    lm = {r.doc_id: r for r in dedup_lines_across_docs(df, 3).collect()}
    assert lm[1].n_dropped == 2


def _py_reference(rows, k):
    """Pure-Python mirror of the pinned semantics, for the differential."""
    def units(t):
        # strip(' '), NOT strip(): the pinned convention is SPACE-trimmed
        # (Spark F.trim removes ASCII 0x20 only — a tab-only line is a
        # real unit in all three engines)
        return [u for u in (x.strip(" ") for x in t.split("\n")) if u]

    from collections import defaultdict

    seen = defaultdict(set)
    for i, t in rows:
        for u in units(t):
            seen[u].add(i)
    bp = {u for u, d in seen.items() if len(d) >= k}
    out = {}
    for i, t in rows:
        us = units(t)
        kept = [u for u in us if u not in bp]
        out[i] = ("\n".join(kept), len(us), len(us) - len(kept))
    return out


def test_hypothesis_fuzz_matches_python_reference(spark):
    """Adversarial multi-line texts (empty lines, whitespace-only lines,
    repeated separators, lines equal after trim): Spark == the pure-Python
    reference on every doc — any divergence is a real convention drift."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    line = st.text(alphabet=list("ab \t"), min_size=0, max_size=6)
    doc = st.lists(line, min_size=0, max_size=8).map("\n".join)

    @given(st.lists(doc, min_size=1, max_size=12))
    @settings(max_examples=12, deadline=None)
    def check(texts):
        rows = list(enumerate(texts))
        got = {
            r.doc_id: (r.text_clean, r.n_lines, r.n_dropped)
            for r in dedup_lines_across_docs(_docs(spark, rows), 2).collect()
        }
        assert got == _py_reference(rows, 2)

    check()


def test_frozen_set_epoch_loop_and_idempotence(spark):
    """The incremental workflow pin: freeze the boilerplate set on the
    epoch-0 corpus, strip every later batch against it (broadcast probe,
    no freq pass). Stripping is idempotent — a batch of already-stripped
    docs (e.g. re-sent curated survivors) loses nothing more — and a
    later batch's NEW boilerplate is untouched by design until the set is
    rebuilt (the frozen-model contract every incremental tier shares)."""
    epoch0 = _docs(
        spark,
        [(i, f"cookie banner\ncontent {i}") for i in range(6)],
    )
    frozen = boilerplate_lines(epoch0, 3)
    s0 = {r.doc_id: r for r in dedup_lines_across_docs(epoch0, boilerplate=frozen).collect()}
    assert all(s0[i].text_clean == f"content {i}" for i in range(6))
    # epoch 1: re-sent stripped docs + fresh docs carrying the old banner
    epoch1 = _docs(
        spark,
        [(100 + i, s0[i].text_clean) for i in range(3)]
        + [(200, "cookie banner\nnovel doc"), (201, "new banner\nx"), (202, "new banner\ny"), (203, "new banner\nz")],
    )
    s1 = {r.doc_id: r for r in dedup_lines_across_docs(epoch1, boilerplate=frozen).collect()}
    assert all(s1[100 + i].n_dropped == 0 for i in range(3))  # idempotent
    assert s1[200].text_clean == "novel doc"                   # old banner stripped
    assert s1[201].text_clean == "new banner\nx"               # frozen set: new
    # banner survives until the set is rebuilt — rebuild over epoch 1 catches it
    rebuilt = boilerplate_lines(epoch1, 3)
    s1b = {r.doc_id: r for r in dedup_lines_across_docs(epoch1, boilerplate=rebuilt).collect()}
    assert s1b[201].text_clean == "x"


def test_map_only_strip_equals_frozen_join_mode(spark):
    """strip_boilerplate_map_only == dedup_lines_across_docs(frozen) on a
    corpus with every boundary case (dups, all-boilerplate, line-less,
    NULL text, trim) — and its plan has ZERO shuffle exchanges: the
    one-row collect_set aggregate is broadcast, the per-doc filter is an
    array HOF. This is the streaming/steady-state shape."""
    from tamer_spark.operators.dedup import strip_boilerplate_map_only
    from tamer_spark.plans import explain_str, plan_shape

    rows = [
        (1, "COOKIE BANNER\nreal content one\nfooter"),
        (2, "COOKIE BANNER\nreal content two\nfooter"),
        (3, "COOKIE BANNER\nCOOKIE BANNER"),
        (4, ""),
        (5, None),
        (6, "  footer  \nsolo"),
    ]
    df = _docs(spark, rows)
    bp = boilerplate_lines(df, 2)
    join_mode = {tuple(r) for r in dedup_lines_across_docs(df, boilerplate=bp).collect()}
    # materialize the set first, as production does (it is a PERSISTED
    # snapshot) — otherwise the probe plan inherits the build's shuffles
    bp_frozen = spark.createDataFrame(bp.collect(), bp.schema)
    map_mode_df = strip_boilerplate_map_only(df, bp_frozen)
    # the explain-string pin below runs BEFORE collect: an executed AQE
    # plan explains as final+initial and would double-count
    shape = plan_shape(map_mode_df)
    # the batch side never shuffles: the only exchange left is the frozen
    # set's own one-row collect_set agg (tiny), broadcast to the probe
    assert shape.shuffles <= 1, shape  # the set's tiny agg only
    # probe never regroups
    assert not [p for p in shape.hash_keys if p.startswith("hashpartitioning(doc_id")], shape
    # the O(|set|)-per-line probe runs ONCE: the filtered array is staged
    # through a Generate barrier (lambdas are excluded from subexpression
    # elimination — a CollapseProject regression would inline the filter
    # into BOTH text_clean and n_dropped, doubling the hot-path cost)
    simple = explain_str(map_mode_df, mode="simple")
    assert simple.count("array_contains") == 1, simple
    assert {tuple(r) for r in map_mode_df.collect()} == join_mode


def test_map_only_strip_is_per_row_on_duplicate_ids(spark):
    """Documented divergence outside the unique-doc_id ingest contract:
    the map-only form is strictly per-ROW (streaming has no groupBy), so a
    duplicated doc_id yields one output row per input row — the join mode
    would merge them. Pinned so the docstring's caveat stays true."""
    from tamer_spark.operators.dedup import strip_boilerplate_map_only

    df = _docs(spark, [(1, "bp\nb"), (1, "bp\nc")])
    bp = spark.createDataFrame([("h", "bp", 2)], "h string, line string, doc_freq long")
    out = sorted(tuple(r) for r in strip_boilerplate_map_only(df, bp).collect())
    assert out == [(1, "b", 2, 1), (1, "c", 2, 1)]


def test_map_only_strip_streams_append_mode(spark, tmp_path):
    """The zero-shuffle form composes into the append-mode streaming
    cleaning tier (the 100 TB ingest posture: strip template chrome as
    data lands): a streamed run over the same files equals the batch run,
    no watermark, no state store."""
    from tamer_spark.operators.dedup import strip_boilerplate_map_only
    from tamer_spark.streaming import run_available_now_memory, stream_parquet

    src = tmp_path / "docs"
    rows = [
        (1, "cookie banner\ncontent one"),
        (2, "cookie banner\ncontent two"),
        (3, "cookie banner\ncookie banner"),
        (4, "solo content"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(str(src))
    static = spark.read.parquet(str(src))
    bp = boilerplate_lines(static, 3)

    batch = {tuple(r) for r in strip_boilerplate_map_only(static, bp).collect()}

    stream = stream_parquet(spark, str(src), "doc_id long, text string")
    drained = run_available_now_memory(strip_boilerplate_map_only(stream, bp), "append")
    streamed = {tuple(r) for r in drained.collect()}
    assert streamed == batch
    assert {t[1] for t in streamed} == {"content one", "content two", "", "solo content"}


def test_frozen_mode_plan_is_broadcast_probe(spark):
    from tamer_spark.plans import plan_shape

    df = _fixture(spark)
    bp = boilerplate_lines(df, 3)
    out = dedup_lines_across_docs(df, boilerplate=bp)
    assert plan_shape(out).nodes["BroadcastHashJoin"], plan_shape(out)
