"""Encoding repair (functions/text.fix_encoding_col) — the ftfy-lite
mojibake/debris pass. Pins the generated fix table, both order traps, the
documented idempotence contract, and the map-only plan posture."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.functions.text import (
    MOJIBAKE_CHARS,
    MOJIBAKE_FIXES,
    _mojibake,
    fix_encoding_col,
)


def _fix(spark, texts: list[str]) -> list[str]:
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    return [r.s for r in df.select(fix_encoding_col(F.col("t")).alias("s")).collect()]


def test_fix_table_generated_from_intended_chars():
    # the table can never drift from its targets: every entry is the cp1252
    # mis-decoding of its fix, longest-first (pinned order)
    assert {f for _, f in MOJIBAKE_FIXES} == set(MOJIBAKE_CHARS)
    for broken, fixed in MOJIBAKE_FIXES:
        assert broken == _mojibake(fixed)
        assert len(fixed) == 1 and len(broken) in (2, 3)
    lens = [len(b) for b, _ in MOJIBAKE_FIXES]
    assert lens == sorted(lens, reverse=True)
    # sequential-replace safety, the full contract (r11 ADVICE strengthened
    # the pin from prefix-only). Two corruption channels:
    #   1. one broken sequence appears INSIDE another (prefix, suffix, or
    #      interior) — an earlier replace would chew a hole in the longer
    #      pattern. Must be impossible at ANY position: full `a in b`.
    seqs = [b for b, _ in MOJIBAKE_FIXES]
    assert not any(a != b and a in b for a in seqs for b in seqs)
    #   2. a FIXED output re-creates match material for a LATER entry
    #      (i < j and fixed_i substring of broken_j): replace i's output
    #      can recombine with adjacent text into broken_j. The real table
    #      is NOT free of these — '€' (fix of 'â‚¬') and '“'/'”' are the
    #      cp1252 tail chars of the other 'â€x' sequences — but every such
    #      pair is benign-by-construction: it fires only on inputs like
    #      'â' + 'â‚¬' + '¦' (literal debris + mojibake), where the later
    #      replace performs the DOUBLE-decode repair ftfy's loop would
    #      (both engines replay the same ordered chain, so no divergence).
    #      Freeze the exact ordered hazard set so a future table addition
    #      that introduces a NEW channel-2 pair fails loudly here and must
    #      be adjudicated, not slipped in.
    hazards = {
        (fi, bj)
        for i, (_, fi) in enumerate(MOJIBAKE_FIXES)
        for j, (bj, _) in enumerate(MOJIBAKE_FIXES)
        if i < j and fi in bj
    }
    assert hazards == {
        ("€", b) for b, _ in MOJIBAKE_FIXES if b.startswith("â€") and b != "â‚¬"
    } | {("”", "â€”"), ("“", "â€“")}


def test_common_mojibake_repaired(spark):
    got = _fix(spark, [
        "caf" + _mojibake("é"),
        "se" + _mojibake("ñ") + "or",
        _mojibake("“") + "quoted" + _mojibake("”"),
        "it" + _mojibake("’") + "s 5" + _mojibake("€"),
    ])
    assert got == ["café", "señor", "“quoted”", "it’s 5€"]


def test_order_trap_nbsp_tail(spark):
    # mojibake of 'à' is 'Ã' + NBSP: must repair BEFORE the NBSP fold
    assert _mojibake("à") == "Ã\xa0"
    assert _fix(spark, ["voil" + _mojibake("à")]) == ["voilà"]


def test_order_trap_c1_byte(spark):
    # mojibake of '”' carries C1 U+009D: must repair BEFORE control removal
    assert _mojibake("”") == "â€\x9d"
    assert _fix(spark, ["x" + _mojibake("”") + "y"]) == ["x”y"]


def test_debris_removed(spark):
    got = _fix(spark, [
        "﻿bom prefix",
        "zero​width‌and‍join",
        "nbsp space",
        "bell\x07 and esc\x1b",
        "crlf\r\nand lone\rcr",
        "keep\ttab and\nnewline",
        "stray c1 \x9d gone",
    ])
    assert got == [
        "bom prefix",
        "zerowidthandjoin",
        "nbsp space",
        "bell and esc",
        "crlf\nand lone\ncr",
        "keep\ttab and\nnewline",
        "stray c1  gone",
    ]


def test_idempotent_on_own_output(spark):
    # contiguous broken sequences: fix(fix(x)) == fix(x)
    dirty = [
        "﻿caf" + _mojibake("é") + " x\r\n" + _mojibake("“") + "q" + _mojibake("”") + "\x07",
        "voil" + _mojibake("à") + " it" + _mojibake("’") + "s",
    ]
    once = _fix(spark, dirty)
    twice = _fix(spark, once)
    assert once == twice


def test_documented_non_fixpoint_zero_width_inside_mojibake(spark):
    # the known exception from the docstring: ZWSP inside a mojibake
    # sequence re-exposes it after debris removal; a second pass fixes it
    adversarial = "Ã​©"  # 'é' mojibake split by a zero-width space
    once = _fix(spark, [adversarial])
    assert once == ["Ã©"]
    assert _fix(spark, once) == ["é"]


def test_clean_ascii_text_untouched(spark):
    texts = ["plain ascii text 123", "tabs\tand\nnewlines stay"]
    assert _fix(spark, texts) == texts


def test_gate_variant_audits(spark):
    """The derivation plants per-doc damage; after repair the audits must
    reconcile: n_removed > 0 (BOM+ESC alone guarantee 2) and n_nonascii
    counts exactly the repaired chars that remain non-ASCII."""
    from tamer_spark.queries import fix_encoding_docs_q

    rows = fix_encoding_docs_q(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.n_removed >= 2, r  # every doc gets BOM + ESC at minimum
        # surviving non-ASCII == repaired chars (ä ’ … “ ” à) only
        non_ascii = [c for c in r.text_fixed if ord(c) > 0x7F]
        assert len(non_ascii) == r.n_nonascii
        assert set(non_ascii) <= {"ä", "’", "…", "“", "”", "à"}, set(non_ascii)
        # no debris survives
        assert not any(ord(c) < 0x20 and c not in "\t\n" for c in r.text_fixed)
        assert " " not in r.text_fixed and "​" not in r.text_fixed


def test_fix_encoding_plan_is_map_only(spark):
    from tamer_spark.plans import explain_str, plan_shape
    from tamer_spark.queries import fix_encoding_docs_q

    df = fix_encoding_docs_q(spark, "/root/testdata/sf0.001")
    assert plan_shape(df).shuffles == 0, explain_str(df)
