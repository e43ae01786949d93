"""DSIR — Data Selection via Importance Resampling, as Catalyst plans.

Selects raw-corpus documents that *distributionally resemble* a small
high-quality target corpus (Xie et al., "Data Selection for Language Models
via Importance Resampling", NeurIPS 2023, arXiv 2302.03169 — public
literature). The pipeline is the paper's:

1. featurize every document into **hashed n-gram bucket counts** (word
   unigrams + bigrams hashed into ``buckets`` buckets — the paper's 10k-
   bucket hashed feature space);
2. fit two bag-of-buckets distributions — target ``p`` and raw ``q`` — and
   score each raw document by an importance weight built from the
   per-bucket ``p/q`` ratios;
3. sample ``k`` documents *proportionally to weight* (not top-k — the
   paper shows top-k over-selects near-duplicates of the target).

Two deliberate deviations, both following standing repo conventions:

* **Centered linear ratios, not log-space.** The paper's weight is
  ``sum_b c_b·(log p_b − log q_b)``; this module uses
  ``sum_b c_b·(r_b − scale)`` with ``r_b`` the add-one-smoothed ratio
  scaled to parts-per-``scale`` and floored to an integer — the
  first-order Taylor expansion of the log weight
  (``scale·log(r/scale) ≈ r − scale`` near ``r = scale``), kept integer
  for the ``operators/lm.py`` reason: a log score hinges on last-ulp
  ``ln`` agreement between libm implementations, while integer arithmetic
  is bit-identical on any engine/partitioning, so the driver's DuckDB
  oracle replays the whole pipeline including "training". The centering
  is load-bearing, not cosmetic: an UNcentered linear sum makes every
  token contribute a positive term, so document length swamps affinity —
  measured on the planted-target protocol (scripts/dsir_quality.py), the
  uncentered form ranks planted target-like docs BELOW random (top-k
  recall 0.0–0.08 vs 0.15 random) while the centered form recovers
  0.64–0.80; far from ``r = scale`` the linearization overweights very
  target-specific n-grams relative to true log, a documented bias toward
  strong evidence. Pick ``buckets`` well below the target corpus's token
  count: once ``buckets`` is comparable to it, add-one smoothing under
  unequal corpus sizes pushes even unseen buckets' ratios above ``scale``
  and the length bias returns (the sweep in scripts/dsir_quality.py
  makes this visible — recall collapses at the 4096-bucket setting on
  the ~8.5k-token sf0.01 target).
* **Priority sampling instead of Gumbel top-k.** Weighted sampling without
  replacement runs as Duffield–Lund–Thorup priority sampling ("Priority
  Sampling", IEEE Trans. Inf. Theory 2007 — public literature): priority
  ``q_i = w_i / u_i`` with ``u_i`` uniform on (0,1], keep the ``k`` largest.
  ``u_i`` here is a salted ``stable_hash64`` of the doc id mapped to
  ``{1..u_mod}`` — deterministic, content-independent, reproducible on any
  engine — and the division is integer (``w·u_mod div u``), so selection is
  exact cross-engine. Inclusion probability is ∝ weight in the DLT sense;
  change ``seed`` for an independent replicate.

Shuffle profile (the 100 TB posture, docs/SCALING.md; r14 — the
occurrence-level pipeline, no per-(doc, bucket) count materialization):

* featurize: map-only staged arrays (no exploded self-join, no shuffle) —
  one ``(doc_id, b, c=1)`` row per n-gram occurrence;
* bucket totals: ``groupBy(bucket)`` straight over the occurrence stream
  — partial-aggregates to ≤ partitions × ``buckets`` rows before the one
  bounded exchange (the CMS fixed-size-shuffle property), per corpus;
* ratio table: ``buckets`` rows, built once, **broadcast** onto the raw
  occurrences (plan-pinned) — never a shuffled join of the corpus
  against a tiny table. Beyond ~1e8 buckets, pre-partition both sides by
  bucket instead;
* weight: one partial-aggregated ``groupBy(doc_id)`` over the broadcast-
  joined occurrences — docs are row-local, so the map side collapses to
  ~one row per doc before the exchange (the former pipeline shuffled a
  docs × min(buckets, doc types) count frame TWICE — once to build it,
  once into the weight agg — for no consumer that needed it; integer
  sums regroup associatively, so results are bit-identical);
* selection: ``orderBy(priority).limit(k)`` plans as
  TakeOrderedAndProject — per-partition top-k + a k·partitions driver
  merge, never a global sort of the corpus (plan-pinned).

Overflow posture: all ratio/weight/priority arithmetic runs in
``DECIMAL(38,0)`` (Spark ``DIV`` on decimal ≡ DuckDB ``//`` on HUGEINT —
the ``operators/skew.py`` convention). Widest intermediate is
``scale · (ct_b+1) · (N_raw+buckets)`` ≤ 1e6 · N_target · N_raw ≲ 1e32 for
corpora up to ~1e13 tokens a side — inside decimal(38,0); beyond that ANSI
raises rather than silently wrapping.

No analog in the reference engine (tamer has no text operators —
/root/reference/core/src/main/scala/tamer/Tamer.scala is an ingestion
loop); part of the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from tamer_spark.functions.hashing import stable_hash64
from tamer_spark.operators.dedup import normalize_text

__all__ = [
    "hashed_ngram_buckets",
    "hashed_ngram_occurrences",
    "dsir_ratio_table",
    "dsir_importance_weights",
    "dsir_priority_sample",
    "dsir_select",
]

_DEC = "CAST({} AS DECIMAL(38,0))"


def hashed_ngram_occurrences(docs: DataFrame, buckets: int = 1024) -> DataFrame:
    """Per-OCCURRENCE hashed n-gram stream: ``(doc_id, b, c=1)`` — one row
    per word unigram+bigram instance, MAP-ONLY (no shuffle at all).

    This is the shuffle-free form both DSIR consumers actually want
    (r14, guide §2.3 "aggregate before you shuffle" — on the RIGHT key):
    the ratio table only needs per-BUCKET totals (``groupBy(b)``
    partial-aggregates occurrences to ≤ partitions·buckets rows) and the
    weight only needs a per-DOC sum of centered ratios
    (``groupBy(doc_id)`` partial-aggregates to ≤ one row per doc per
    partition — docs are row-local, so effectively one row per doc).
    Materializing per-(doc, bucket) counts first — the former pipeline —
    paid an extra docs·min(buckets, doc types) exchange that neither
    consumer needed; integer sums regroup associatively, so results are
    bit-identical either way.

    Word split is over :func:`normalize_text` (the corpus-wide convention,
    so DSIR features agree with the dedup/LM operators' token stream).
    Bigrams are built row-locally with the staged-array pattern from
    ``operators/lm.py`` — a when-guard keeps ``sequence(1, size-1)`` from
    going descending on 1-word docs, and the explode is ``_outer`` so
    InferFiltersFromGenerate can't re-inline the staged arrays into a
    pushed-down filter.
    """
    if buckets < 1:
        raise ValueError(f"hashed_ngram_occurrences: buckets must be >= 1, got {buckets}")
    words = docs.select(
        F.col("doc_id"),
        F.split(normalize_text(F.col("text")), " ").alias("_ws"),
    )
    staged = words.select(
        "doc_id",
        F.concat(
            F.col("_ws"),
            F.when(
                F.size("_ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_ws") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("_ws"), i),
                        F.element_at(F.col("_ws"), i + 1),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ).alias("_ngs"),
    )
    ng = staged.select(
        "doc_id", F.explode_outer("_ngs").alias("_ng")
    )
    return ng.select(
        "doc_id",
        F.pmod(stable_hash64(F.col("_ng")), F.lit(buckets)).alias("b"),
        F.lit(1).cast("long").alias("c"),
    )


def hashed_ngram_buckets(docs: DataFrame, buckets: int = 1024) -> DataFrame:
    """Per-document hashed n-gram features: ``(doc_id, b, c)`` — bucket id
    and count of word unigram+bigram instances hashing into it. One
    (doc, bucket) count shuffle over :func:`hashed_ngram_occurrences`.
    Kept for callers that want the counts themselves; the DSIR pipeline
    consumes the occurrence stream directly (see there for why).
    """
    return (
        hashed_ngram_occurrences(docs, buckets)
        .groupBy("doc_id", "b")
        .agg(F.sum("c").alias("c"))
    )


def dsir_ratio_table(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    buckets: int = 1024,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-bucket importance ratio ``(b, r)`` where::

        r_b = (scale · (ct_b+1) · (N_raw+buckets)) div ((cr_b+1) · (N_tgt+buckets))

    — the add-one-smoothed ``p_target/p_raw`` ratio in parts-per-``scale``,
    floored (exact integer, engine-portable). Inputs are ``(doc_id, b, c)``
    frames — :func:`hashed_ngram_occurrences` (c=1 per instance; the
    groupBy here partial-aggregates them map-side) or
    :func:`hashed_ngram_buckets` counts, identical sums either way;
    buckets absent from one corpus get the smoothed count 1. The output is
    ≤ ``buckets`` rows — broadcast it (``dsir_importance_weights`` does).
    """
    if scale < 1:
        raise ValueError(f"dsir_ratio_table: scale must be >= 1, got {scale}")
    tt = target_counts.groupBy("b").agg(F.sum("c").alias("ct"))
    rr = raw_counts.groupBy("b").agg(F.sum("c").alias("cr"))
    # grand totals: two 1-row aggregates, crossed on (tiny ⋈ tiny)
    nt = tt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
    nr = rr.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("nr"))
    joined = (
        tt.join(rr, "b", "full_outer")
        .select(
            "b",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
    )
    r = F.expr(
        f"({_DEC.format(scale)} * (ct + 1) * (nr + {buckets})) "
        f"DIV ((cr + 1) * (nt + {buckets}))"
    )
    return joined.select("b", r.cast("decimal(38,0)").alias("r"))


def dsir_importance_weights(
    doc_counts: DataFrame, ratios: DataFrame, scale: int = 1_000_000
) -> DataFrame:
    """Per-document weight ``(doc_id, weight)`` =
    ``sum_b c_b · (r_b − scale)`` as decimal(38,0) — an order-independent
    integer sum, bit-identical under any partitioning, possibly NEGATIVE
    (a doc whose n-grams are anti-target-like). The centering makes an
    uninformative bucket (``r_b ≈ scale``) contribute ~0, so the weight
    measures net affinity rather than document length (module docstring —
    the first-order-Taylor log form; the uncentered sum ranks planted
    target docs below random). ``scale`` and the featurize ``buckets`` must
    match the :func:`dsir_ratio_table` call that built ``ratios``. The
    join is LEFT so a frozen ratio table can score a LATER epoch (the
    incremental posture): a bucket the table has never seen is
    uninformative and contributes exactly 0 — an inner join would silently
    drop it, and a doc with no overlapping buckets entirely. The ratio
    table is broadcast (≤ buckets rows); the only shuffle is the
    partial-aggregated ``groupBy(doc_id)``."""
    centered = F.coalesce(
        F.col("r") - F.lit(scale).cast("decimal(38,0)"),
        F.lit(0).cast("decimal(38,0)"),
    )
    return (
        doc_counts.join(F.broadcast(ratios), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * centered)
            .cast("decimal(38,0)")
            .alias("weight")
        )
    )


def dsir_priority_sample(
    weights: DataFrame,
    k: int,
    u_mod: int = 65_536,
    seed: str = "dsir",
) -> DataFrame:
    """Duffield–Lund–Thorup priority sample of ``k`` docs ∝ weight:
    ``(doc_id, weight, sel_rank)``, rank 1-based by priority.

    ``u = (stable_hash64(seed||'-'||doc_id) mod u_mod) + 1`` stands in for
    the uniform (0,1] draw (deterministic, content-independent — the
    split/sample-membership convention of ``split_sample_docs``);
    ``priority = (greatest(weight, 1) · u_mod) div u`` — DLT needs positive
    weights, so non-positive (anti-target-like) docs are floored to weight
    1 and compete as minimum-weight items. Note the DLT property (not a
    defect): ANY item can outrank a heavier one on a lucky small ``u`` —
    inclusion probability, not rank, is what tracks weight, so a floored
    doc occasionally enters the sample (the uniform-exploration tail the
    paper's Gumbel sampling also has). ``orderBy(priority DESC, doc_id)
    .limit(k)`` plans as TakeOrderedAndProject — never a global sort. The
    (priority, doc_id) order is total, so the selected set and ranks are
    deterministic cross-engine."""
    if u_mod < 1:
        raise ValueError(f"dsir_priority_sample: u_mod must be >= 1, got {u_mod}")
    from pyspark.sql import Window

    u = (
        F.pmod(
            stable_hash64(F.concat(F.lit(f"{seed}-"), F.col("doc_id").cast("string"))),
            F.lit(u_mod),
        )
        + 1
    )
    pri = weights.select(
        "doc_id",
        "weight",
        F.expr(
            f"(greatest(weight, {_DEC.format(1)}) * {_DEC.format(u_mod)})"
        ).alias("_wu"),
        u.alias("_u"),
    ).select(
        "doc_id",
        "weight",
        F.expr("_wu DIV _u").cast("decimal(38,0)").alias("_q"),
    )
    order = [F.col("_q").desc(), F.col("doc_id").asc()]
    top = pri.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.withColumn("sel_rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "weight", "sel_rank"
    )


def dsir_select(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    buckets: int = 1024,
    scale: int = 1_000_000,
    u_mod: int = 65_536,
    seed: str = "dsir",
) -> DataFrame:
    """End-to-end DSIR: featurize both corpora, fit the bucket-ratio table,
    weight every raw doc, priority-sample ``k`` ∝ weight. Returns
    ``(doc_id, weight, sel_rank)`` for the selected docs.

    Cost shape (r14 — the occurrence-level pipeline, see
    :func:`hashed_ngram_occurrences`): featurize is MAP-ONLY; the only
    exchanges are the bounded per-bucket totals (≤ partitions·buckets
    rows per corpus), the per-doc weight partial agg (≈ one row per doc),
    the broadcast of the ≤ ``buckets``-row ratio table, and one
    TakeOrdered — nothing quadratic, no driver-side corpus state. The raw
    occurrence stream feeds two plan branches (the ratio table's ``q``
    side and the weight sum), and is deliberately NOT persisted: both
    consumers are map-into-partial-agg scans, and re-running the map-only
    featurize twice beats writing a corpus-sized occurrence cache (the
    cms_heavy_hitters two-scan trade; interleaved A/B at sf0.1 —
    per-round medians: no-persist 0.63× the former persisted
    (doc, bucket)-counts pipeline, values identical)."""
    raw_occ = hashed_ngram_occurrences(raw_docs, buckets)
    tgt_occ = hashed_ngram_occurrences(target_docs, buckets)
    ratios = dsir_ratio_table(tgt_occ, raw_occ, buckets, scale)
    weights = dsir_importance_weights(raw_occ, ratios, scale)
    return dsir_priority_sample(weights, k, u_mod, seed)
