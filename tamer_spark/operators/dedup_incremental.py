"""Incremental dedup: new batches against a persisted corpus index.

Batch dedup (operators/dedup.py) re-reads the whole corpus per run. At
100 TB that is the wrong loop: a curation pipeline ingests a few TB of NEW
documents per epoch against a PB-scale historical corpus, and re-hashing
history every epoch would dominate all other work. The scalable shape is an
*index* — the historical corpus reduced to its dedup keys (16-byte content
digests for exact dedup, (band_id, band_sig) bucket keys for MinHash LSH) —
stored once, and each new batch joined against it:

- index build: one pass over history, emitting only keys (≈24 B/doc exact,
  ≈40 B × bands/doc for LSH) — 3-4 orders of magnitude smaller than the text.
- per-epoch cost: hash the NEW batch only, then one join whose shuffle
  volume is the new batch's keys. Stored bucketed on the key
  (sinks/bucketed.write_bucketed), the index side joins with ZERO exchange —
  only the small new-batch side shuffles, and the epoch cost is independent
  of corpus size.
- index update: append the surviving batch's keys (same bucketing). No
  rewrite of history, ever.

This mirrors the reference engine's incremental-ingest posture (tamer's
whole design is "fold new data into persistent state", core Tamer.scala run
loop) applied to the dedup domain; the reference itself has no dedup
operators, so the semantics here follow the batch operators in
operators/dedup.py, which the driver oracle pins.

All plans are pure DataFrame ops — no Python UDFs, whole-stage codegen end
to end, same md5-derived hashing as the batch path so an index built by one
engine is usable by the other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tamer_spark.operators.dedup import (
    lsh_bands,
    minhash_signatures,
    normalize_text,
)


def exact_index(df: DataFrame, normalize: bool = False) -> DataFrame:
    """Distinct content digests of a corpus: the exact-dedup index.

    One column ``content_hash`` (hex md5). Distinct is a single digest
    shuffle with map-side combine — the same cost shape as dedup_exact.
    Persist with ``write_bucketed(idx, "dedup_idx", ["content_hash"])`` so
    future anti-joins need no exchange on the index side.
    """
    text = normalize_text(F.col("text")) if normalize else F.col("text")
    return df.select(F.md5(text).alias("content_hash")).distinct()


def _batch_representatives(new_df: DataFrame, text_col: str, normalize: bool) -> DataFrame:
    """``new_df`` plus its ``content_hash``, one row per digest (the min
    ``doc_id``, dedup_exact's keep rule): the in-batch half of both exact
    incremental paths, one ``row_number`` window partitioned by digest."""
    text = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        new_df.withColumn("content_hash", F.md5(text))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_exact_incremental(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    normalize: bool = False,
) -> DataFrame:
    """Rows of ``new_df`` that survive exact dedup against ``index`` AND
    within the batch (min-id representative per digest, matching
    dedup_exact's keep rule).

    Plan: digest the new batch → in-batch min-id representative via a
    ``row_number`` window partitioned by digest — ONE shuffle over the
    BATCH only, and the anti-join against the index reuses that exact
    partitioning (same key), so no further batch exchange is needed. (The
    groupBy-min + self-join formulation costs three batch exchanges: the
    agg plus both sides of a (digest, id) equi-join — pinned in
    tests/test_dedup_incremental.py.) With the index bucketed on
    content_hash the index side needs zero exchange; a small index
    broadcasts instead. The anti join never widens rows (semi-join
    family), so the output is bounded by the batch.

    Returns the surviving rows of ``new_df`` (original columns) plus their
    ``content_hash`` — feed ``.select("content_hash")`` back through an
    append write to advance the index (see ``append_keys``).
    """
    survivors = _batch_representatives(new_df, text_col, normalize)
    return survivors.join(index, "content_hash", "left_anti")


def _banded_sigs(df: DataFrame, k: int, bands: int, n: int, seed: int) -> DataFrame:
    """(doc_id, band_id, band_sig) for every doc × band: the signatures of
    ``df`` through ``lsh_bands``, the banding ``minhash_lsh_pairs`` runs —
    the index build and the incremental probe must produce bit-identical
    band keys or the no-false-negative guarantee silently breaks."""
    return lsh_bands(minhash_signatures(df, "text", "doc_id", k, n, seed), k, bands)


def minhash_band_index(
    df: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Distinct (band_id, band_sig) bucket keys of a corpus: the LSH index.

    Banding via ``_banded_sigs`` (shared with the incremental probe so
    index and batch agree bit-for-bit); distinct is one shuffle of
    docs × bands short rows. Persist bucketed on (band_id, band_sig).
    """
    return (
        _banded_sigs(df, k, bands, n, seed)
        .select("band_id", "band_sig")
        .distinct()
    )


def dedup_minhash_incremental(
    new_df: DataFrame,
    index: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Rows of ``new_df`` with no LSH band collision against ``index`` —
    i.e. not a near-duplicate of anything already in the corpus.

    A doc is dropped when ANY of its band signatures appears in the index
    (the same "share any full band" candidate rule as minhash_lsh_pairs;
    being index-vs-batch there is no pair verification step — at the
    reference thresholds a single full-band match at k/bands rows per band
    is the accept rule, and a stricter pipeline can re-verify survivors'
    candidates with ngram_jaccard_pairs on the tiny collision set).

    Plan: band the new batch (map-only) → LEFT SEMI join against the index
    to find collided doc_ids → LEFT ANTI join the batch against those ids.
    Both joins shuffle only batch-derived rows (docs × bands keys, then
    doc_ids); the index side is exchange-free when bucketed. Within-batch
    near-dups are NOT collapsed here (two novel near-dup docs both survive)
    — run minhash_lsh_pairs on the surviving batch for that, which is cheap
    because the batch is epoch-sized, then append the final survivors'
    bands to the index.
    """
    banded = _banded_sigs(new_df, k, bands, n, seed)
    collided = (
        banded.join(index, ["band_id", "band_sig"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    return new_df.join(
        collided, new_df["doc_id"] == collided["doc_id"], "left_anti"
    )


def exact_bloom_index_df(
    index_or_df: DataFrame,
    col: str = "content_hash",
    m_bits: int = 1 << 27,
) -> DataFrame:
    """Bloom sidecar over an exact-dedup index's digests: ``(w,
    word_m{m_bits}k5)`` rows (the column name encodes the sizing — see
    bloom._word_col). It frees later epochs from scanning the exact index
    at all (probabilistic mode) or from shuffling more than the batch's
    bloom-positive sliver (verify mode) — see
    ``dedup_exact_incremental_bloom``, which it feeds directly.

    Persist it as parquet (m_bits/64 rows) and advance it per epoch with
    ``bloom_merge_df(words, exact_bloom_index_df(surviving_batch_keys,
    m_bits=...))`` — bloom union is exact, so the sidecar never needs
    rebuilding over history. Size ``m_bits`` at ~10-14 bits/key for
    ~1-0.1 % FP. The probe picks its strategy from the frame's word count
    (``bloom_might_contain``); at index scale it runs k broadcast hash
    joins — no shuffle of the batch, no driver transfer — and scales to
    ~1e9 index keys (the broadcast build side, ~1-10 GB, is the binding
    constraint; beyond that shard the bloom by digest prefix or fall back
    to the exact bucketed path).
    """
    from tamer_spark.operators.bloom import bloom_words_df

    return bloom_words_df(index_or_df, col, m_bits=m_bits, k=5)


def dedup_exact_incremental_bloom(
    new_df: DataFrame,
    words: DataFrame,
    m_bits: int | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Incremental exact dedup against a bloom sidecar of the index.

    The exact path (``dedup_exact_incremental``) shuffles only the batch,
    but its anti-join still SCANS the whole digest index every epoch —
    ~24 B/doc, which at a 1e12-doc corpus is a 24 TB read per epoch that
    dwarfs any real batch (measured: scripts/incremental_scale_probe.py).
    The bloom sidecar removes it:

    - ``index=None`` (probabilistic): keep only bloom-NEGATIVE rows.
      A bloom has no false negatives, so every true duplicate is
      guaranteed dropped (zero false keeps — the dedup-critical
      direction); the cost is dropping novel docs at the bloom's FP rate
      (~0.1-1 % when sized, acceptable loss for corpus curation — the
      same stance bloom.py's decontamination takes). Per-epoch cost is
      O(batch) with NO index access of any kind.
    - ``index`` given (verify): bloom-positive rows get the exact
      anti-join; output is bit-identical to ``dedup_exact_incremental``
      but the verify join's batch side is only the positive sliver
      (true dups + FP·novel). The index scan returns, so this mode buys
      shuffle reduction, not scan elimination.

    In-batch dedup (min-id representative) is identical to the exact
    path, so the two modes differ only in cross-epoch membership.

    ``words``: the ``exact_bloom_index_df`` frame; the probe reads its
    (m_bits, k) from the frame. ``m_bits`` only ASSERTS a sizing: a
    mismatch raises.
    """
    from tamer_spark.operators.bloom import _parse_word_col, bloom_might_contain

    wc, frame_m, _ = _parse_word_col(words)
    if m_bits not in (None, frame_m):
        raise ValueError(
            f"dedup_exact_incremental_bloom: words frame {wc} was not built "
            f"at m_bits={m_bits}"
        )
    batch = _batch_representatives(new_df, "text", False)
    probed = bloom_might_contain(batch, "content_hash", words)
    # column order pinned to dedup_exact_incremental's output (its key join
    # leads with content_hash) so the two paths are drop-in interchangeable
    # — including when new_df ALREADY carries a content_hash column (e.g. a
    # previous survivor frame), which must not be listed twice
    cols = ["content_hash", *[c for c in new_df.columns if c != "content_hash"]]
    negatives = probed.filter(~F.col("bloom_hit")).select(cols)
    if index is None:
        return negatives
    positives = probed.filter(F.col("bloom_hit")).drop("bloom_hit")
    verified = positives.join(index, "content_hash", "left_anti").select(cols)
    return negatives.unionByName(verified)


def append_keys(index: DataFrame, new_keys: DataFrame) -> DataFrame:
    """Advance an index by a surviving batch's keys (plan form).

    For a catalog-table index the physical form is
    ``new_keys.write.mode("append")`` with the SAME bucketing as the
    original ``write_bucketed`` call — append preserves bucket layout, so
    the zero-exchange join property survives every epoch. This helper is
    the logical equivalent for in-session composition and tests.
    """
    return index.unionByName(new_keys).distinct()
