"""Deterministic stratified source mixing (corpus rebalancing).

Training mixtures prescribe per-source proportions ("3 parts curated, 1 part
web"). This operator downsamples each source to hit target integer weights
exactly, deterministically, and engine-independently:

1. count docs per source (tiny agg),
2. find the *limiting* source — the one whose ``count / weight`` ratio is
   smallest; it is kept whole and caps every other source's quota,
3. quota per source = ``(weight * n_limiting) // w_limiting`` — integer
   arithmetic, so quotas are exact on any engine (no float-floor edge),
4. within each source keep the ``quota`` docs with the smallest salted
   stable hash (content-independent; the kept set only shrinks/grows at the
   rank boundary when the corpus changes, and never depends on row order).

Scale: one count agg + one window rank per source + a broadcast of the
quota table (rows = #sources). The rank window shuffles on source — salt
the window key for a source holding >1 executor-heap of ids (same recipe as
join_salted) if a single source dominates the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tamer_spark.functions.hashing import stable_hash64


def stratified_mix(df: DataFrame, weight: Column) -> DataFrame:
    """Resample ``df`` so sources appear in ``weight`` proportions.

    ``weight`` is an integer Column expression over the input row (e.g. a
    CASE over ``source``). Returns the kept rows as (id, source, mix_rank)
    with ``mix_rank`` = 1-based hash rank within the source.
    """
    base = df.select(F.col("doc_id"), F.col("source"), weight.cast("long").alias("w"))
    counts = base.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n"))
    # limiting source = smallest n/w (double ratio is only used to *choose*;
    # ties broken by source name). IEEE division is identical cross-engine.
    lim_w = Window.orderBy(
        (F.col("n").cast("double") / F.col("w")).asc(), F.col("source").asc()
    )
    lim = (
        counts.withColumn("_r", F.row_number().over(lim_w))
        .filter(F.col("_r") == 1)
        .select(F.col("n").alias("n_lim"), F.col("w").alias("w_lim"))
    )
    quotas = counts.crossJoin(F.broadcast(lim)).select(
        "source",
        F.floor((F.col("w") * F.col("n_lim")) / F.col("w_lim")).alias("quota"),
    )
    rank_w = Window.partitionBy("source").orderBy(
        stable_hash64(F.concat(F.lit("mix-"), F.col("doc_id").cast("string"))).asc(),
        F.col("doc_id").asc(),
    )
    ranked = base.withColumn("mix_rank", F.row_number().over(rank_w).cast("long"))
    return (
        ranked.join(F.broadcast(quotas), "source")
        .filter(F.col("mix_rank") <= F.col("quota"))
        .select("doc_id", "source", "mix_rank")
    )


def seeded_shuffle(df: DataFrame, seed: str = "shuffle-0", n_shards: int = 8) -> DataFrame:
    """Deterministic seeded global shuffle — the training-order
    materialization step (every LLM run globally shuffles its corpus once
    per epoch seed; a re-run with the same seed MUST reproduce the exact
    same order, so ``rand()`` is out).

    Key = md5(seed:id) (cross-engine, cross-run stable); shard = first 15
    hex chars of the key mod ``n_shards``; position = row_number within the
    shard ordered by (key, id). Changing ``seed`` permutes everything;
    keeping it reproduces the order bit-for-bit on any engine.

    Scale shape: ONE hash shuffle on ``shard`` plus a per-shard sort — and
    that sort is not overhead, it IS the product (a shard's sorted run is
    exactly what a shard writer streams out). No global row_number: a
    single-partition window would serialize the corpus through one task;
    instead position is per-shard and the total order is (shard, pos) —
    equally deterministic, embarrassingly parallel. Size ``n_shards`` so
    one shard ≈ one output file (1-4 GB); at 100 TB that is tens of
    thousands of shards, each an independent sort.
    """
    # F.concat, NOT concat_ws: concat_ws SKIPS a NULL id, silently giving
    # every NULL-id row the constant key md5(seed) — concat propagates
    # NULL, matching the oracle's NULL-propagating `||` (a NULL id yields
    # NULL key/shard on both engines instead of diverging)
    k = F.md5(F.concat(F.lit(seed), F.lit(":"), F.col("doc_id").cast("string")))
    keyed = df.select(F.col("doc_id"), k.alias("shuffle_key")).withColumn(
        "shard",
        F.conv(F.substring("shuffle_key", 1, 15), 16, 10).cast("long") % n_shards,
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.withColumn("pos", F.row_number().over(w).cast("long"))


def leakage_safe_split(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Cluster-aware train/val/test split: near-duplicate CLUSTERS never
    straddle a split boundary.

    Hashing each doc independently (the split_sample_docs 'doc' rule) leaks
    every near-dup cluster that straddles train/test — the exact
    contamination Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", §6) measure: eval examples with a near-copy in
    train. Here the split hash is computed over the cluster REPRESENTATIVE
    (min id in the transitive near-dup cluster, operators/cc.py), so every
    member inherits its rep's assignment; singletons hash themselves,
    making this a strict generalization of the per-doc rule.

    Scale shape: pairs → connected components (O(log n) groupBy-min
    rounds, the dedup-clustering path) + ONE map-only hash over the
    result. Returns (id, cluster_rep, cluster_size, split).
    """
    from tamer_spark.operators.cc import attach_cluster_ids

    clustered = attach_cluster_ids(df.select("doc_id"), pairs)
    h = (
        stable_hash64(F.concat(F.lit("csplit-"), F.col("cluster_rep").cast("string")))
        % 100
    )
    return clustered.select(
        "doc_id",
        "cluster_rep",
        "cluster_size",
        F.when(h < 80, "train")
        .when(h < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    salt: str = "domcap-",
    prefilter_slack: int | None = None,
) -> DataFrame:
    """Per-group document quota — keep at most ``cap`` rows per group,
    hash-ranked (the RefinedWeb / CCNet per-domain cap: one mega-domain —
    a link farm, a wiki mirror — must not dominate the training mixture,
    so each registrable domain contributes at most ``cap`` documents).

    Selection is the repo's salted-hash rank (content-independent,
    engine/run/partitioning-independent; ``rand()`` is none of those):
    within each group keep the ``cap`` rows with the smallest
    ``stable_hash64(salt ‖ id)``, ties broken by id. Growing the corpus
    only changes membership at the rank boundary.

    NULL and empty-string groups form SINGLETON groups (key
    ``nullgroup-<id>``, always kept, rank 1) — the domain_doc_counts rule:
    a per-domain verdict is undefined without a domain, and both failure
    modes (merge-all under one key, drop-all via exclusion) silently
    distort the mixture. The returned group column carries this KEY (the
    caller's group string, or the synthesized singleton key).

    Scale shape — two postures:

    * ``prefilter_slack=None`` (default): ONE exchange on the group key;
      rank and total group count ride the same window. The partition is
      the group — fine while no group outgrows a task's sort.
    * ``prefilter_slack=s`` (mega-group posture): a group with 10^9 rows
      capped at 10^4 must not sort 10^9 rows in one task. Pass 1 counts
      groups; rows in groups with ``n > cap`` are pre-cut MAP-SIDE to
      ``hash < cap·s·2^60 div n`` (hashes are uniform on [0, 2^60)), so
      ~``cap·s`` rows per group reach the rank window. EXACT, not
      approximate: keeping every row below a threshold means the global
      top-``cap`` survive whenever ≥ cap rows survive, and the one-in-
      ``exp(−Θ(cap·s))`` group where fewer do is caught by a survivor
      recount and re-ranked over its FULL rows (deterministic fallback,
      usually an empty frame). Threshold arithmetic in DECIMAL(38,0)
      (the DSIR convention — cap·s·2^60 exceeds int64), computed once
      per GROUP and cast to int64 so the per-row cut is a long compare.

    MEASURED decision rule (scripts/domcap_study.py, SCALING.md): the
    prefilter costs ~3 input scans + 2 bounded aggs — on local[32] that
    is 3-5× the plain window even with a 18M-row hot group, because a
    Tungsten single-task sort of tens of millions of narrow rows is
    seconds and spills cheaply. Default to PLAIN; reach for the
    prefilter when the largest group's rank-window task approaches sort
    capacity (order 10^8+ rows, or wide rows where the buffered
    partition challenges executor memory) — the regime where the plain
    window's one hot task dominates the stage or OOMs and no AQE
    mechanism can split it.

    Returns (doc_id, group_col KEY, keep_rank, n_group) with n_group the
    TOTAL group size (pre-cap, pre-prefilter) — the monitoring surface:
    cap utilization is ``least(cap, n_group)/n_group``.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    if prefilter_slack is not None and prefilter_slack < 1:
        raise ValueError(f"prefilter_slack must be >= 1, got {prefilter_slack}")

    gs = F.col(group_col).cast("string")
    key = F.coalesce(
        F.when(F.length(gs) > 0, gs),
        F.concat(F.lit("nullgroup-"), F.col("doc_id").cast("string")),
    )
    h = stable_hash64(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
    # NULL ids drop (the bottomk_sample rule): they cannot be hashed — an
    # unfiltered NULL id would sort NULLS-FIRST to rank 1 inside a real
    # group, and a NULL-id NULL-group row would make the singleton key
    # itself NULL, merging all such rows under one shared group
    base = df.filter(F.col("doc_id").isNotNull()).select(
        F.col("doc_id"), key.alias("_g"), h.alias("_h")
    )

    wrank = Window.partitionBy("_g").orderBy(F.col("_h").asc(), F.col("doc_id").asc())
    wall = Window.partitionBy("_g")
    sel = lambda df: df.filter(F.col("keep_rank") <= cap).select(  # noqa: E731
        "doc_id",
        F.col("_g").alias(group_col),
        "keep_rank",
        F.col("n_group").cast("long").alias("n_group"),
    )

    if prefilter_slack is None:
        return sel(
            base.withColumn("keep_rank", F.row_number().over(wrank).cast("long"))
            .withColumn("n_group", F.count(F.lit(1)).over(wall).cast("long"))
        )

    # threshold computed GROUP-SIDE (DECIMAL(38,0) math on #groups rows,
    # capped at 2^60 = keep-all and cast to int64) so the per-row cut is a
    # plain long comparison — per-row decimal arithmetic measured ~3.5 s
    # per 20M rows on local[32], pure overhead
    thresh = F.expr(
        f"CAST(least(CAST({cap * prefilter_slack} AS DECIMAL(38,0))"
        f" * CAST({1 << 60} AS DECIMAL(38,0)) div n_group,"
        f" CAST({1 << 60} AS DECIMAL(38,0))) AS BIGINT)"
    )
    counts = base.groupBy("_g").agg(F.count(F.lit(1)).alias("n_group")).withColumn(
        "_thresh", thresh
    )
    keep_fast = (F.col("n_group") <= F.lit(cap)) | (F.col("_h") < F.col("_thresh"))
    # survivor recount is a bounded groupBy (≤ one row per group, partial-
    # aggregated), NOT a second window branch: the deficiency verdict folds
    # into the per-group metadata, so the plan has exactly ONE rank window,
    # whose input is assembled in one pass. The base⋈meta join is the
    # skew-splittable step (AQE can split a mega-group's partition for a
    # join; it cannot for a window) — the threshold cut happens there,
    # before the window ever sees the group.
    m = (
        base.join(counts, "_g")
        .filter(keep_fast)
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    # deficient: a group whose survivor count fell below min(cap, n) keeps
    # ALL its rows in the window input — exactness never rests on the tail
    # bound, only the fast path does. Almost always zero groups
    # (P(fewer than cap of n uniform hashes under cap·slack·2^60/n) decays
    # like exp(−Θ(cap·slack))).
    gmeta = counts.join(m, "_g", "left").select(
        "_g",
        "n_group",
        "_thresh",
        (
            F.coalesce(F.col("_m"), F.lit(0).cast("long"))
            < F.least(F.col("n_group"), F.lit(cap).cast("long"))
        ).alias("_deficient"),
    )
    final_in = base.join(gmeta, "_g").filter(F.col("_deficient") | keep_fast)
    return sel(final_in.withColumn("keep_rank", F.row_number().over(wrank).cast("long")))


def bottomk_sample(df: DataFrame, k: int, salt: str = "sample-") -> DataFrame:
    """Deterministic k-row uniform sample as a BOTTOM-K sketch — the
    distributed, mergeable replacement for reservoir sampling (reservoirs
    are order-dependent; a salted-hash bottom-k is the same uniform draw
    with none of the order sensitivity — Cohen & Kaplan 2007 bottom-k
    lineage, and the same hash-rank retention the repo's mixing quotas
    use).

    Keep the ``k`` rows with the smallest ``stable_hash64(salt ‖ id)``
    (ties by id). The plan is TakeOrderedAndProject — per-partition heads
    of size k, driver merges the HEADS only (k·partitions rows), never a
    global sort. ``sample_rank`` is assigned by a window over the ≤ k
    surviving rows (the bm25 top-k pattern).

    THE property that makes it an epoch primitive — it is a sketch:
    ``bottomk(A ∪ B) == bottomk(bottomk(A) ∪ bottomk(B))`` (the k smallest
    of a union are among each side's k smallest). So a pipeline keeps one
    k-row sample per epoch, folds new epochs in O(k), and always holds an
    exact uniform k-sample of EVERYTHING seen — no replay of old epochs,
    no drift between a fold and a from-scratch rebuild (pinned in pytest).
    NULL ids are dropped (they cannot be hashed — mirror in the oracle).

    Returns (doc_id, sample_rank 1..min(k, n)).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = stable_hash64(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
    head = (
        df.filter(F.col("doc_id").isNotNull())
        .select(F.col("doc_id"), h.alias("_h"))
        .orderBy(F.col("_h").asc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("_h").asc(), F.col("doc_id").asc())
    return head.withColumn("sample_rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "sample_rank"
    )


def bottomk_merge(samples: list[DataFrame], k: int) -> DataFrame:
    """Fold per-epoch bottom-k samples into the bottom-k of their union —
    O(k·epochs) work, no base-data access. Exactly ``bottomk_sample`` over
    the concatenated samples; a separate name so pipelines state intent
    (and so the merge==rebuild pin has a subject)."""
    if not samples:
        raise ValueError("bottomk_merge needs at least one sample")
    from functools import reduce

    # distinct: overlapping epochs (a re-ingested batch) put the same id
    # in two per-epoch samples; without dedup it would occupy two of the
    # k slots and the fold would no longer equal bottomk over the distinct
    # corpus — the sketch law is over the id SET, not the multiset
    u = reduce(DataFrame.unionByName, (s.select("doc_id") for s in samples)).distinct()
    return bottomk_sample(u, k)


def bottomk_grouped(df: DataFrame, k: int, group_col: str) -> DataFrame:
    """STRATIFIED deterministic sample: ``bottomk_sample`` independently
    per ``group_col`` stratum — k rows per language/source/domain, the
    eval-set construction rule (a global uniform sample starves tail
    strata; per-stratum bottom-k guarantees every stratum its k). Same
    hash, same salt, same mergeable-sketch law — PER GROUP:
    ``grouped(A ∪ B) == grouped(grouped(A) ∪ grouped(B))`` (fold per-epoch
    grouped samples by re-applying this over their union of (group, id)
    rows; dedup on id within group is inherited from the rank).

    NULL ids are dropped (cannot be hashed); a NULL group is its OWN
    stratum — both engines group NULLs together under PARTITION BY, and
    dropping undocumented rows from a sample silently biases it (the
    winsorize left-join stance). Returns (group_col, doc_id, sample_rank
    1..min(k, stratum size)).

    Scale shape: ONE exchange on the group + a per-group rank window —
    the grouped-top-k plan; unlike the global form there is no
    TakeOrdered shortcut (per-group heads are not a Spark primitive), so
    a mega-stratum pays its own sort and AQE's skew split is the relief
    valve, same posture as cap_per_group's rank stage.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = stable_hash64(F.concat(F.lit("sample-"), F.col("doc_id").cast("string")))
    base = df.filter(F.col("doc_id").isNotNull()).select(
        group_col, "doc_id", h.alias("_h")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("_h").asc(), F.col("doc_id").asc()
    )
    return (
        base.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
        .select(group_col, "doc_id", "sample_rank")
    )
