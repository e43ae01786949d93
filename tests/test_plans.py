"""Scale-posture regression tests: assert the physical plans we rely on at
100 TB — broadcasts for dim joins, pushdown + pruning at the scans, bounded
shuffle counts — actually materialize."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.plans import explain_str, plan_shape, pushed_filters, read_schema_columns
from tamer_spark import queries as Q
from tests.conftest import SF_DIR, CacheWatch

# The r6 registry re-pack merged same-topic gates into tagged unions to fit
# the driver's 50-row correctness window; plan pins still target the
# standalone query shapes, not the union wrappers: the builder
# ``resolve_query`` serves, or the queries.py builder called directly where
# no bench or probe resolves the name.
_spark_fn = Q.resolve_query


def test_q5_star_join_broadcasts_all_dims(spark):
    df = _spark_fn("q5_region_revenue")(spark, SF_DIR)
    shape = plan_shape(df)
    # all five joins of the six-table star broadcast at this scale
    # (customer/supplier/nation/region, and lineitem⋈orders)
    assert shape.nodes["BroadcastHashJoin"] == 5, shape
    # lineitem⋈orders may shuffle; the agg shuffles once; dims must not add more
    assert shape.shuffles <= 4, shape


def test_plan_shape_is_stable_across_execution(spark):
    """plan_shape walks the plan tree, not its string: an executed AQE plan
    prints its final AND its initial tree, so a string count doubles once
    the DataFrame has run. The walked counts must not move when AQE keeps
    the plan."""
    dims = spark.range(7).withColumnRenamed("id", "k")
    df = (
        spark.range(10_000)
        .select((F.col("id") % 7).alias("k"))
        .join(F.broadcast(dims), "k")
        .groupBy("k")
        .count()
        .orderBy("k")
    )
    before = plan_shape(df)
    df.collect()
    after = plan_shape(df)
    assert after == before, (before, after)
    assert before.shuffles == 2 and before.nodes["BroadcastHashJoin"] == 1, before
    assert explain_str(df, "simple").count("BroadcastHashJoin") == 2


def test_q3_filter_pushed_to_customer_scan(spark):
    df = _spark_fn("q3_top_revenue")(spark, SF_DIR)
    pushed = pushed_filters(df)
    assert any("c_mktsegment" in p for p in pushed), pushed


def test_scan_readers_keep_struct_columns_and_filter_arguments_whole(spark, tmp_path):
    """The scan readers take the scan node's required schema and pushed
    filters, not the explain text split on commas: a struct column is one
    column, and a filter with several arguments is one entry."""
    path = str(tmp_path / "t")
    spark.range(10).selectExpr("named_struct('x', id, 'y', id * 2) AS s", "id AS z", "id").write.parquet(path)
    df = spark.read.parquet(path).filter("z > 3").filter("id IN (1, 2, 3)").select("s", "z")
    assert read_schema_columns(df) == [{"s", "z", "id"}]
    assert sorted(pushed_filters(df)) == [
        "GreaterThan(z,3)",
        "In(id, [1,2,3])",
        "IsNotNull(z)",
    ]
    # a scan of only (s, z) reads both, the struct whole
    assert read_schema_columns(spark.read.parquet(path).select("s", "z")) == [{"s", "z"}]


def test_plan_shape_walks_a_shared_cache_once(spark, tmp_path):
    """A cached frame joined with itself runs its cached plan once: both
    InMemoryTableScans count, the one parquet scan under them once, and
    the scan readers see it once."""
    path = str(tmp_path / "t")
    spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(path)
    cached = spark.read.parquet(path).cache()
    try:
        joined = cached.alias("a").join(cached.alias("b"), "k")
        shape = plan_shape(joined)
        assert shape.nodes["InMemoryTableScan"] == 2, shape
        assert shape.nodes["Scan parquet"] == 1, shape
        assert read_schema_columns(joined) == [{"id", "k"}]
    finally:
        cached.unpersist()


def test_column_pruning_reaches_scan(spark):
    df = _spark_fn("q1_pricing_summary")(spark, SF_DIR)
    scans = read_schema_columns(df)
    li_scan = next(s for s in scans if "l_returnflag" in s)
    # 6 needed columns, not all 11
    assert li_scan <= {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    }, li_scan


def test_dedup_exact_single_shuffle_per_variant(spark):
    # tagged union of raw + normalized + sentence + url + domain + template
    # (r12) variants: one shuffle each
    df = _spark_fn("dedup_exact")(spark, SF_DIR)
    assert plan_shape(df).shuffles == 6, plan_shape(df)
    # and the scans read only (doc_id, text) — the url variant derives its
    # key from doc_id alone and never touches text (its standalone pin in
    # test_url_dedup.py asserts the doc_id-only scan directly)
    scans = read_schema_columns(df)
    assert scans and all(s <= {"doc_id", "text"} for s in scans), scans


def test_text_profile_is_map_only(spark):
    # every feature (incl. 3-gram repetition via row-local array_distinct)
    # is computed in the scan's projection — no exchange at any scale
    df = _spark_fn("text_profile")(spark, SF_DIR)
    assert plan_shape(df).shuffles == 0, plan_shape(df)


def test_split_sample_docs_is_map_only(spark):
    # the per-doc rule (the r11 union's 'doc' variant keeps this shape; the
    # cluster variant rides the CC path, pinned by tests/test_cc.py)
    df = Q.doc_split_sample_q(spark, SF_DIR)
    assert plan_shape(df).shuffles == 0, plan_shape(df)


def test_minhash_signatures_is_map_only(spark):
    # staged row-local arrays (words → word hashes → shingle hashes →
    # k array_min scans): signatures are per-document, so the plan must
    # carry no exchange at all. (clear the cache first: minhash_lsh_pairs
    # persists the signature subplan, and a cache hit would swap the scan
    # for an InMemoryTableScan and make the count meaningless)
    spark.catalog.clearCache()
    df = _spark_fn("minhash_signatures")(spark, SF_DIR)
    assert plan_shape(df).shuffles == 0, plan_shape(df)


def test_knn_broadcasts_queries_not_corpus(spark):
    df = _spark_fn("similarity_knn")(spark, SF_DIR)
    shape = plan_shape(df)
    assert shape.count("BroadcastHashJoin", "BroadcastNestedLoopJoin"), shape


def test_asof_join_single_key_shuffle(spark):
    df = _spark_fn("asof_join_events_orders")(spark, SF_DIR)
    shape = plan_shape(df)
    # union-sort-window pattern: no join node at all, only key-partitioned windows
    assert not shape.count("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"), shape


def test_broadcast_enrich_no_fact_shuffle_before_agg(spark):
    df = _spark_fn("join_broadcast_enrich")(spark, SF_DIR)
    shape = plan_shape(df)
    assert shape.nodes["BroadcastHashJoin"], shape
    # orders side: scan → broadcast join → partial agg → single exchange
    assert shape.shuffles <= 1, shape


def test_dedup_caches_release_when_result_dropped(spark):
    """minhash_lsh_pairs persists its signature stage; dropping the returned
    plan must unpersist it (no cache accumulation in long-lived drivers).

    The session is shared across the suite, so assert on the delta of
    persisted-RDD ids, not the global set — other tests' caches may still be
    alive (or be finalizer-released mid-test). Target the pairs operator
    directly, not the registry entry: the registry's merged gate also runs
    connected components, whose localCheckpoint blocks are reclaimed
    asynchronously by the ContextCleaner, which this delta check can't
    observe deterministically."""
    import gc

    from tamer_spark.operators.dedup import minhash_lsh_pairs
    from tamer_spark.queries import _BANDS, _K, _MAX_BUCKET, _N, _t

    gc.collect()  # flush pending finalizers from earlier tests first
    cache = CacheWatch(spark)
    df = minhash_lsh_pairs(
        _t(spark, SF_DIR, "documents"), k=_K, bands=_BANDS, n=_N, seed=42, max_bucket=_MAX_BUCKET
    )
    df.count()  # materialize → signature stage cached
    assert cache.added(), "signature stage was not cached"
    del df
    gc.collect()
    leaked = cache.added()
    assert not leaked, f"signature cache leaked after result was dropped: {leaked}"


def test_multiprobe_knn_broadcasts_queries_not_corpus(spark):
    df = _spark_fn("similarity_knn_lsh")(spark, SF_DIR)
    shape = plan_shape(df)
    assert shape.nodes["BroadcastHashJoin"], shape  # probe side broadcast, corpus streamed
    assert not shape.count("CartesianProduct", "BroadcastNestedLoopJoin"), shape


def test_ann_search_broadcasts_queries_not_corpus(spark):
    """Both retrieval paths stream the corpus/code table and broadcast the
    query side: ivf_search's candidate join must be a BroadcastHashJoin on
    cluster id; pq_search_adc's distance-table join is a broadcast nested
    loop over the (tiny) query table by construction — never a
    CartesianProduct of corpus × queries."""
    df = _spark_fn("ann_search")(spark, SF_DIR)
    shape = plan_shape(df)
    assert shape.nodes["BroadcastHashJoin"], shape
    assert not shape.nodes["CartesianProduct"], shape


def test_gopher_signals_bounded_shuffles(spark):
    """Gopher rules: map-only stats + one (doc_id, bigram) count + the
    per-doc champion window — no cross join of any kind, and the bigram
    aggregation must keep map-side partial aggregation (two HashAggregate
    levels around its exchange)."""
    from tamer_spark.operators.gopher import gopher_signals
    from tamer_spark.queries import _t

    df = gopher_signals(_t(spark, SF_DIR, "documents"))
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "partial_count" in plan, plan  # map-side combine before the shuffle


def test_gopher_full_single_gram_shuffle(spark):
    """Full §A1.1 signals: the n-gram family (9 enabled n) must shuffle the
    gram stream ONCE — the dup-coverage leg re-derives positions from lists
    carried through the counts aggregate, never a second explode+exchange of
    the 9x-text occurrence stream. The exploded gram relation therefore
    appears in exactly one aggregate subtree, and there is no cross join."""
    from tamer_spark.operators.gopher import gopher_signals
    from tamer_spark.queries import _t

    df = gopher_signals(_t(spark, SF_DIR, "documents"))
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "partial_count" in plan, plan
    # one Generate of the (pos, g) struct stream per plan: the counts
    # aggregate is its only consumer (coverage comes from collect_list)
    n_gram_generates = plan.count("explode(_gs")
    assert n_gram_generates <= 1, f"gram stream exploded {n_gram_generates}x:\n{plan}"


def test_c4_span_dedup_partial_min_no_window(spark):
    """C4 span dedup: the global-first rule must be a partial-aggregable MIN
    on the span key (map-side combine before the span shuffle) and must NOT
    be a row_number window over the span value — a hot boilerplate span
    would funnel into a single window task at 100 TB. No cross join."""
    from tamer_spark.operators.c4 import c4_span_dedup
    from tamer_spark.queries import _t

    df = c4_span_dedup(_t(spark, SF_DIR, "documents"))
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "partial_min" in plan, plan
    assert "row_number" not in plan, plan


def test_knn_lsh_bucket_cap_reuses_bucket_exchange(spark):
    """The max_bucket guard's window partitions by the SAME bucket key the
    candidate join hashes on — capping must not add an exchange beyond the
    uncapped plan's (corpus-side hash + window sort share the partitioning)."""
    from tamer_spark.operators.similarity import cosine_knn_lsh
    from tamer_spark.queries import _t

    emb = _t(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    capped = cosine_knn_lsh(emb, qs, k=5, planes=8, dim=64, max_bucket=1000)
    uncapped = cosine_knn_lsh(emb, qs, k=5, planes=8, dim=64, max_bucket=None)
    assert plan_shape(capped).shuffles <= plan_shape(uncapped).shuffles + 1


def test_decontaminate_broadcasts_benchmark_side(spark):
    df = Q.decontaminate_against_benchmark(spark, SF_DIR)
    shape = plan_shape(df)
    # the benchmark shingle set is the small side: must broadcast, and the
    # final anti join must also be broadcast (tainted ids are few)
    assert shape.nodes["BroadcastHashJoin"] >= 2, shape
    assert not shape.nodes["CartesianProduct"], shape


def test_tfidf_folds_corpus_count_into_plan(spark):
    # one plan, no driver-side count(): the corpus count arrives via a
    # broadcast 1-row cross join — BroadcastNestedLoop over 1 row is the
    # expected (cheap) shape
    df = _spark_fn("tfidf_top_terms")(spark, SF_DIR)
    assert plan_shape(df).nodes["BroadcastNestedLoopJoin"], plan_shape(df)


def test_minhash_gate_keeps_staged_hashes(spark):
    """The signatures gate must evaluate md5 once per word: plain posexplode
    lets InferFiltersFromGenerate + PushDownPredicates substitute the whole
    staged signature expression (~97 md5 subtrees) into a filter, which also
    kicks the projection out of codegen — a >50x cold slowdown. Pin the
    optimized plan to a single md5 occurrence."""
    df = _spark_fn("minhash_signatures")(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5") == 1, f"md5 x{plan.count('md5')} — staged hash array was re-inlined"


def test_no_hash_expression_blowup_across_text_gates(spark):
    """Every text/dedup gate keeps its per-word md5 staged: a handful of md5
    occurrences in the optimized plan, never the re-inlined explosion (the
    broken signatures gate carried 97). Guards the whole family against the
    three documented Catalyst traps (CollapseProject re-inlining, O(words²)
    element_at, Generate filter pushdown) in one sweep."""
    from tamer_spark.operators.dedup import ngram_jaccard_pairs

    def jaccard(spark, sf):
        return ngram_jaccard_pairs(Q._t(spark, sf, "documents"), n=Q._N, threshold=1 / 20)

    builders = {
        name: _spark_fn(name)
        for name in [
            "dedup_exact",
            "minhash_signatures",
            "dedup_simhash",
            "text_profile",
            "quality_filter_docs",
            "tfidf_top_terms",
        ]
    }
    builders.update(
        ngram_jaccard_pairs=jaccard,
        ngram_top_terms=Q.ngram_top_terms,
        decontaminate_against_benchmark=Q.decontaminate_against_benchmark,
    )
    for name, build in builders.items():
        plan = build(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("md5") <= 8, f"{name}: md5 x{plan.count('md5')} — staged hashing re-inlined"


def test_simhash_is_map_only(spark):
    # bit votes are aggregate() scans over the materialized word-hash array —
    # per-document output, so the plan must carry no exchange
    df = _spark_fn("dedup_simhash")(spark, SF_DIR)
    assert plan_shape(df).shuffles == 0, plan_shape(df)


def test_bm25_topk_is_takeordered_with_broadcast_folds(spark):
    """BM25: (N, avgdl) folds back as a broadcast (never a shuffle of the
    corpus-scale tf side against a 1-row table), and the final
    top-k is TakeOrdered — a global single-partition window sort over the
    scored set would funnel every matching doc into one task at 100 TB."""
    df = _spark_fn("bm25_topk_docs")(spark, SF_DIR)
    shape = plan_shape(df)
    assert shape.nodes["TakeOrderedAndProject"], shape
    assert shape.count("BroadcastHashJoin", "BroadcastNestedLoopJoin"), shape


def test_substring_runs_no_cross_product_and_pruned_scans(spark):
    """Exact substring-run dedup: the candidate stage must be a posting-list
    equi-join on the window hash (never a doc × doc product), and the
    posting-table persist (r7) must keep the corpus to ONE window-hash
    scan — r6 let each join side re-derive the map stage, doubling the
    dominant ~1 md5/token cost at 100 TB. The surviving scan reads only
    (doc_id, text)."""
    spark.catalog.clearCache()
    df = _spark_fn("substring_run_pairs")(spark, SF_DIR)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    scans = read_schema_columns(df)
    assert len([s for s in scans if s == {"doc_id", "text"}]) == 1, scans
    spark.catalog.clearCache()


def test_exsub_removal_no_cross_product_and_two_map_scans(spark):
    """ExactSubstr REMOVAL: keeper election must be a posting⋈keeper
    equi-join on the window hash with map-side partial aggregation (never
    a doc × doc product, never a window-over-h that would pile a hot
    boilerplate hash into one task), and the corpus appears exactly twice
    — the hash pass and the rebuild pass — both reading only
    (doc_id, text). A third (doc_id, text) scan means a branch re-derived
    the window-hash stage."""
    spark.catalog.clearCache()
    df = _spark_fn("exsub_dedup_docs")(spark, SF_DIR)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    # keeper election keeps its partial (map-side) aggregate
    assert "partial_count" in plan or "partial_min" in plan, plan
    scans = read_schema_columns(df)
    assert len([s for s in scans if s == {"doc_id", "text"}]) == 2, scans
    spark.catalog.clearCache()


def test_contamination_score_broadcasts_benchmark(spark):
    """Contamination scoring: the benchmark n-gram set must ride a
    broadcast join against the corpus shingle stream — shuffling the
    corpus side against a benchmark-sized table would add a corpus-scale
    exchange for a tiny lookup."""
    df = _spark_fn("contamination_score_docs")(spark, SF_DIR)
    shape = plan_shape(df)
    assert shape.count("BroadcastHashJoin", "BroadcastNestedLoopJoin"), shape
    assert not shape.nodes["CartesianProduct"], shape


def test_shard_manifest_partial_aggregates_before_exchange(spark):
    # r10: the export's manifest agg rides map-side combine — the per-row
    # digest stream collapses to |shards| rows per partition BEFORE any
    # exchange, so the two tiny exchanges (hash for the final agg, range for
    # the orderBy) move n_shards x n_partitions rows, not the corpus. A plan
    # that lost the partial HashAggregate would shuffle every row's digest.
    from tamer_spark.sinks.shards import assign_shard, shard_manifest

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    )
    sharded = assign_shard(docs, "doc_id", 8).repartition(8, "shard").localCheckpoint()
    manifest = shard_manifest(sharded)
    plan = manifest._jdf.queryExecution().executedPlan().toString()
    assert plan_shape(manifest).count("Exchange", "BroadcastExchange") <= 2, plan
    # partial aggregation present, and it sits BELOW the first exchange
    assert "partial_" in plan, plan
    assert plan.index("Exchange") < plan.index("partial_"), plan


def test_compaction_plan_single_manifest_window(spark):
    # r13 compact leg: ONE partial-agg shuffle synthesizes the file manifest
    # and ONE window exchange assigns bins — the manifest (file-count rows)
    # is the only thing that ever moves; no join, no extra exchange
    df = Q.compaction_plan_orders_q(spark, SF_DIR)
    plan = explain_str(df)
    assert plan_shape(df).shuffles <= 2, plan
    assert "partial" in plan.lower(), plan  # manifest agg combines map-side
    assert "Join" not in plan, plan


def test_compaction_split_plan_reuses_partition_exchange(spark):
    # r14 split leg: TWO manifest aggs (monthly + yearly synthesis) and ONE
    # window exchange on part_year that BOTH windows share — the
    # (part_year, bin) split-count window is satisfied by the part_year
    # clustering, so the split rule adds zero shuffles; no join, and never
    # a SinglePartition global sort
    df = Q.compaction_split_orders_q(spark, SF_DIR)
    plan = explain_str(df)
    assert plan_shape(df).shuffles <= 3, plan
    assert "Join" not in plan, plan
    assert "SinglePartition" not in plan, plan
