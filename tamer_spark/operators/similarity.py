"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus an LSH-bucketed variant
as the scale path. Both pure DataFrame plans.

Determinism: embeddings are quantized to integer milli-units before the dot
product, so every sum is exact int arithmetic inside doubles (<2^53) —
bit-identical across engines and partition orders, hence oracle-hashable.
Quantized cosine is also what you'd ship at 100 TB (int8/int16 quantization
is standard for ANN at scale).

Scale notes: brute-force is O(queries × corpus) — fine for reranking a
candidate set, wrong as the primary index. The LSH variant buckets vectors by
random-hyperplane signs so each query only joins its bucket; at 1000
executors the bucket join shuffles (bucket_id) not the cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tamer_spark.functions.hashing import stable_hash64_sql

QUANT = 1000  # milli-unit quantization

# Per-invocation serial for the miners' persisted LSH projections (r15).
# CacheManager keys cached plans by analyzed-plan equality: when two miner
# calls (e.g. contrastive_pairs + hard_negatives in one session) build
# plan-EQUAL projections, the second persist() aliases the first's cache
# entry and the first result's GC release strips it for both — the r14
# dump `contrastive_pairs_after2.txt` shows exactly that (no
# InMemoryRelation). A unique constant tag column makes every persisted
# projection plan-distinct; it is a literal (cache stores it run-length
# cheap) and never reaches any output (final selects are explicit).
import itertools as _itertools

_MINER_SEQ = _itertools.count()


# --- expressions as SQL fragments ------------------------------------------
# Every vector expression here is ONE SQL fragment: builders paste the
# fragments into selectExpr/F.expr strings, so a whole output column is one
# parse instead of one py4j round-trip per Column operator (the r14 rewrite:
# ivfadc_search measured 1028 RPCs ≈ 0.7-1.0 s of build per call at sf0.1 vs
# ~0.6 s of execution). Build and incremental paths (ivf_build/ivf_append,
# cosine_knn_lsh/_multiprobe, pq_train/pq_encode) call the SAME fragment, so
# an appended batch is keyed bit for bit the way the build keyed the corpus.

def quantize_sql(vec: str) -> str:
    """array<float> → array<double of integer value> (round(x*1000))."""
    return f"transform({vec}, x -> round(CAST(x AS DOUBLE) * {QUANT}))"


def dot_sql(a: str, b: str) -> str:
    """Dot product of two array<double> columns (0.0D-seeded fold)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"


def nearest_centroids_sql(qv: str, centroids: list[list[float]], n: int) -> str:
    """Array of the n nearest centroid ids (squared-L2, deterministic
    tie-break on centroid id). ``qv`` must be a materialized quantized column
    (multi-referenced — see lsh_bucket_sql's inlining note).

    The centroid table is ONE shared 2D array literal indexed inside the
    transform lambda (non-foldable index) — k shared-literal lookups
    instead of k per-centroid expression subtrees, which shrinks the plan
    ~k× and cuts fixed compile overhead (see operators/pq.py
    _codebook_sql); arithmetic and tie-breaks are unchanged."""
    from tamer_spark.functions.litfast import sql_double_matrix

    cb = sql_double_matrix([[float(x) for x in c] for c in centroids])
    dist = (
        f"aggregate(zip_with({qv}, element_at({cb}, CAST(i + 1 AS INT)),"
        " (x, y) -> (x - y) * (x - y)), 0.0D, (a, v) -> a + v)"
    )
    scored = (
        f"transform(sequence(0, {len(centroids) - 1}),"
        f" i -> struct({dist} AS dist, CAST(i AS BIGINT) AS cid))"
    )
    return f"transform(slice(array_sort({scored}), 1, {n}), s -> s.cid)"


def _proj_sql(qv: str, row: list[float]) -> str:
    """Signed projection of a quantized vector onto one hyperplane ``row``
    (a 1D coefficient literal — the plan carries a plain array, not a per-row
    2D lookup). Integer-valued by construction (±1 coefficients over
    quantized ints), which is what lets multi-probe's flip order be a
    deterministic integer sort key."""
    from tamer_spark.functions.litfast import sql_doubles

    return (
        f"aggregate(zip_with({qv}, {sql_doubles(row)}, (x, s) -> x * s),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def lsh_bucket_sql(qv: str, planes: int = 8, dim: int = 64) -> str:
    """Random-hyperplane LSH bucket id from an ALREADY-QUANTIZED vector column.

    The hyperplane coefficients are ±1 from sha256 of (seed 42, plane,
    dim-index) (functions/hashing.sign_rows, fixed at plan build — no RNG
    state); the SQL oracle generators mirror the same derivation, so corpus
    and query vectors always hash into the same bucket space.

    Callers must pass a materialized column (quantize in a prior select):
    the bucket references the vector ``planes`` times, and Catalyst would
    re-inline an embedded quantize expression into every plane (measured 2×
    slower at 50k vectors — the inlining trap, see operators/dedup.py).
    CollapseProject keeps the projections separate because the quantized
    column is expensive and multiply-referenced.

    Shape (r5 bisect, .scratch probe at sf0.1): an UNROLLED plane loop, each
    plane's zip_with over a 1D coefficient literal and 2^p a plain literal.
    The r4 fold-over-plane-indices form (one outer aggregate with the
    projection fold nested inside its lambda) cost ~25-30% more per row —
    nested-HOF interpretation plus a per-row 2D element_at — and was the
    cause of the r4 dedup_embedding_cosine +44% bench regression.
    """
    from tamer_spark.functions.hashing import sign_rows

    rows = sign_rows("lsh", 42, planes, dim)
    terms = ["CAST(0 AS BIGINT)"]
    for p in range(planes):
        terms.append(
            f"(CASE WHEN {_proj_sql(qv, rows[p])} > 0 THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _top_k_by_cosine(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-``k`` rows of (query_id, neighbor_id, cosine) as
    (query_id, neighbor_id, cosine rounded to 6 places, rank): cosine
    descending, ties to the smaller neighbor id — the deterministic total
    order every kNN variant and its oracle share."""
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY cosine DESC, neighbor_id ASC) AS rank",
        )
        .filter(f"rank <= {k}")
        .selectExpr(
            "query_id",
            "neighbor_id",
            "round(cosine, 6) AS cosine",
            "CAST(rank AS BIGINT) AS rank",
        )
    )


def cosine_knn(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    k: int = 5,
    pre_quantized: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (excluding self).

    ``queries`` carries (vec_id, vec_col) — typically a small filtered subset,
    which the plan broadcasts; the corpus side streams. Tie-break: higher
    cosine first, then smaller neighbor id (deterministic total order).

    ``pre_quantized=True`` skips the milli-unit quantization for inputs that
    are ALREADY integer-valued arrays (e.g. operators/rp.random_projection
    output — sums of quantized coordinates; re-quantizing would scale them
    ×1000 again and overflow nothing but mean something else).
    """
    quant = (lambda c: c) if pre_quantized else quantize_sql
    # Squared norms are per-vector, so compute them once per side; per-pair
    # work is then a single dot product. Same arithmetic as before
    # (sqrt(qn2*cn2), not sqrt(qn2)*sqrt(cn2)) so results are bit-identical.
    q = queries.selectExpr(
        "vec_id AS query_id", f"{quant(vec_col)} AS qv"
    ).selectExpr("query_id", "qv", f"{dot_sql('qv', 'qv')} AS qn2")
    c = df.selectExpr(
        "vec_id AS neighbor_id", f"{quant(vec_col)} AS cv"
    ).selectExpr("neighbor_id", "cv", f"{dot_sql('cv', 'cv')} AS cn2")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"({dot_sql('qv', 'cv')}) / SQRT(qn2 * cn2) AS cosine",
        )
    )
    return _top_k_by_cosine(scored, k)


def _cap_bucket_candidates(c: DataFrame, max_bucket: int | None) -> DataFrame:
    """Bound the corpus side of an LSH candidate join to ``max_bucket`` rows
    per bucket — the skew guard for hot buckets (the same failure mode
    minhash_lsh_pairs caps: a degenerate bucket makes candidates-per-query
    O(bucket), a near-scan).

    Selection is a deterministic pseudo-random sample: rank by
    (stable_hash64(id), id) inside each bucket and keep the first
    ``max_bucket`` — id-order alone would bias retention toward old
    documents. The window shuffles on bucket, the same key the candidate
    join hashes on, so the exchange is reused, not added. Recall trade:
    neighbors ranked past the cap in a hot bucket are unreachable — the
    same bounded-recall contract as minhash's max_bucket, documented in
    docs/SCALING.md. ``None`` disables the guard (exact bucket semantics).
    """
    if max_bucket is None:
        return c
    return (
        c.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY bucket ORDER BY"
            f" {stable_hash64_sql('CAST(neighbor_id AS STRING)')} ASC,"
            " neighbor_id ASC) AS _bslot",
        )
        .filter(f"_bslot <= {max_bucket}")
        .drop("_bslot")
    )


def _lsh_corpus(df: DataFrame, planes: int, dim: int, max_bucket: int | None) -> DataFrame:
    """The corpus side of both LSH kNN variants: (neighbor_id, cv, bucket,
    cn2), capped per bucket. One copy, so single- and multi-probe search
    the same buckets."""
    c = df.selectExpr(
        "vec_id AS neighbor_id", f"{quantize_sql('embedding')} AS cv"
    ).selectExpr(
        "neighbor_id",
        "cv",
        f"{lsh_bucket_sql('cv', planes, dim)} AS bucket",
        f"{dot_sql('cv', 'cv')} AS cn2",
    )
    return _cap_bucket_candidates(c, max_bucket)


def cosine_knn_lsh(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    dim: int = 64,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    Recall < 1.0 by construction (single probe); production path would
    multi-probe neighboring buckets. Bucket join shuffles on bucket_id only;
    ``max_bucket`` bounds candidates per bucket (see _cap_bucket_candidates).
    """
    q = queries.selectExpr(
        "vec_id AS query_id", f"{quantize_sql('embedding')} AS qv"
    ).selectExpr(
        "query_id",
        "qv",
        f"{lsh_bucket_sql('qv', planes, dim)} AS bucket",
        f"{dot_sql('qv', 'qv')} AS qn2",
    )
    c = _lsh_corpus(df, planes, dim, max_bucket)
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter("query_id != neighbor_id")
        .selectExpr("*", f"({dot_sql('qv', 'cv')}) / SQRT(qn2 * cn2) AS cosine")
    )
    return _top_k_by_cosine(scored, k)


def lsh_probe_buckets_sql(qv: str, planes: int = 8, dim: int = 64, probes: int = 3) -> str:
    """Multi-probe bucket list: the base bucket plus single-bit flips of the
    ``probes - 1`` hyperplanes with the smallest |projection| (the planes the
    vector is closest to, i.e. the likeliest sign errors). The base bucket
    is ``lsh_bucket_sql``'s: the same hyperplane rows, the same sign test.

    Standard multi-probe LSH (Lv et al., VLDB'07): instead of lowering recall
    by adding tables, probe the neighboring buckets of ONE table. The join
    fans each query out ``probes``× — still shuffling bucket ids only, never
    the cross product.

    Determinism: projections of quantized vectors are exact integer values,
    so ``|proj| * planes + plane_index`` is an exact integer sort key —
    identical flip order in Spark and the SQL oracle, ties broken by plane
    index. ``qv`` must be a materialized quantized column (multi-referenced —
    see lsh_bucket_sql's inlining note).
    """
    from tamer_spark.functions.hashing import sign_rows

    rows = sign_rows("lsh", 42, planes, dim)
    # Evaluate the planes projections ONCE per row: bind the projections
    # array as a higher-order-function lambda variable ``pr`` (single-element
    # array + transform = a let binding — Spark has no `let`, but a lambda
    # variable is bound once), then derive BOTH the base-bucket fold and the
    # flip sort keys from that bound array. The r4 form computed every
    # projection twice (base fold + key transform, ~64-element folds each);
    # r5 bisect measured this let-bound form ~15% faster than even the r3
    # shape at sf0.1, with the smallest compiled plan of the three candidates.
    projs = ", ".join(_proj_sql(qv, rows[p]) for p in range(planes))
    at = "element_at(pr, CAST(p + 1 AS INT))"

    def pow2(e: str) -> str:
        # exact 2^e as long for e < 53 (pow over doubles is exact there)
        return f"CAST(POWER(2.0D, CAST({e} AS DOUBLE)) AS BIGINT)"

    base = (
        f"aggregate(sequence(0, {planes - 1}), CAST(0 AS BIGINT), (acc, p) -> acc"
        f" + CASE WHEN {at} > 0 THEN {pow2('p')} ELSE CAST(0 AS BIGINT) END)"
    )
    # exact-int composite sort key per plane: (|proj|, plane)
    keys = (
        f"transform(sequence(0, {planes - 1}),"
        f" p -> CAST(abs({at}) * {planes} + p AS BIGINT))"
    )
    flips = f"slice(array_sort({keys}), 1, {probes - 1})"
    flip_buckets = f"transform({flips}, k -> ({base}) ^ {pow2(f'k % {planes}')})"
    return (
        f"element_at(transform(array(array({projs})),"
        f" pr -> concat(array({base}), {flip_buckets})), 1)"
    )


def cosine_knn_lsh_multiprobe(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    dim: int = 64,
    probes: int = 3,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Approximate top-k with multi-probe recall: each query joins its own
    bucket plus the ``probes - 1`` likeliest neighbor buckets. Recall ≥ the
    single-probe variant by construction (probed set is a superset; with a
    binding ``max_bucket`` the superset property holds per retained
    candidate — both variants see the same capped corpus side).

    Candidate pairs are deduplicated before ranking (a corpus vector can
    match a query through several probed buckets)."""
    q = queries.selectExpr(
        "vec_id AS query_id", f"{quantize_sql('embedding')} AS qv"
    ).selectExpr(
        "query_id",
        "qv",
        f"{lsh_probe_buckets_sql('qv', planes, dim, probes=probes)} AS probe_buckets",
        f"{dot_sql('qv', 'qv')} AS qn2",
    ).selectExpr(
        # _outer: avoids the inferred size>0 filter re-inlining the probe-
        # bucket expression on pushdown (never empty: probes >= 1)
        "query_id", "qv", "qn2", "explode_outer(probe_buckets) AS bucket"
    )
    c = _lsh_corpus(df, planes, dim, max_bucket)
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter("query_id != neighbor_id")
        .select("query_id", "neighbor_id", "qv", "cv", "qn2", "cn2")
        .dropDuplicates(["query_id", "neighbor_id"])
        .selectExpr("*", f"({dot_sql('qv', 'cv')}) / SQRT(qn2 * cn2) AS cosine")
    )
    return _top_k_by_cosine(scored, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + cluster-probed search
# ---------------------------------------------------------------------------

def ivf_build(df: DataFrame, n_centroids: int = 8, iters: int = 3):
    """Train an IVF coarse quantizer: deterministic-init k-means over
    quantized vectors, Lloyd iterations as DataFrame jobs.

    The iterative-driver pattern (like the engine loop): each iteration is
    one distributed assign+update job; only the centroid table (n_centroids ×
    dim doubles — tiny) passes through the driver. Returns (assigned_df,
    centroids): ``assigned_df`` carries (id, qv, cluster) — the inverted
    file, typically persisted bucketed by cluster.

    Determinism: init picks the vectors with the smallest md5(id); updates
    average exact quantized ints via integer sums, FLOOR-divided back to
    integers — every distance and every centroid coordinate stays an exact
    integer (represented in doubles < 2^53), so there is no float drift, no
    RNG, no partition-order sensitivity, and the whole training loop is
    bit-reproducible in any engine (the driver's DuckDB oracle replays it
    as three unrolled CTE rounds).
    """
    base = df.selectExpr("vec_id", f"{quantize_sql('embedding')} AS qv")
    seeds = (
        base.selectExpr("*", f"{stable_hash64_sql('CAST(vec_id AS STRING)')} AS _h")
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    centroids = [list(r.qv) for r in seeds]

    for _ in range(iters):
        assigned = _assign_clusters(base, centroids)
        # element-wise mean per cluster: explode dims, exact integer sums
        dims = assigned.select(
            "cluster", F.posexplode_outer("qv").alias("dim", "val")
        ).groupBy("cluster", "dim").agg(
            F.sum(F.col("val").cast("long")).alias("s"), F.count(F.lit(1)).alias("n")
        )
        rows = dims.collect()
        by_cluster: dict[int, dict[int, int]] = {}
        for r in rows:
            by_cluster.setdefault(r.cluster, {})[r.dim] = r.s // r.n
        for cid, dvals in by_cluster.items():
            centroids[cid] = [dvals[d] for d in sorted(dvals)]

    return _assign_clusters(base, centroids), centroids


def _assign_clusters(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, qv) → (vec_id, qv, cluster): THE cluster assignment, shared
    by every Lloyd round and the final inverted file of ``ivf_build`` and by
    ``ivf_append``, so an appended batch lands in the cluster the build would
    have given it."""
    return base.selectExpr(
        "vec_id", "qv", f"{nearest_centroids_sql('qv', centroids, 1)}[0] AS cluster"
    )


def ivf_append(new_df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Assign NEW vectors to a frozen coarse quantizer — the incremental
    half of the IVF index (same epoch posture as
    operators/dedup_incremental: never recompute history per batch).

    Standard IVF practice: the quantizer is trained once (``ivf_build``);
    later epochs only *assign* their vectors to the existing centroids and
    append to the inverted file — a MAP-ONLY pass over the batch (the
    centroid table is a plan literal, n_centroids × dim doubles). Output
    schema (vec_id, qv, cluster) matches ``ivf_build``'s inverted file, so
    the physical append preserves the cluster bucketing and ``ivf_search``
    works unchanged over the union. Retrain (a fresh ``ivf_build``) only
    when assignment distances drift — that choice stays with the caller,
    where the reference keeps all state-advance decisions (tamer's state
    fold).
    """
    base = new_df.selectExpr(
        "vec_id", f"{quantize_sql('embedding')} AS qv"
    )
    return _assign_clusters(base, centroids)


def _salt_shard(assigned: DataFrame, max_cluster: int | None) -> DataFrame:
    """Attach the SemDeDup salt-split ``_shard`` column: clusters larger
    than ``max_cluster`` split into ``ceil(size / max_cluster)``
    deterministic hash shards; ``None`` = structurally uncapped (a literal
    shard 0, no size aggregate at all — what the oracle-gated queries pass
    so the DuckDB oracle's uncapped semantics are guaranteed by
    construction, ADVICE r4)."""
    if max_cluster is None:
        return assigned.selectExpr("*", "CAST(0 AS BIGINT) AS _shard")
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("_csize"))
    return assigned.join(F.broadcast(sizes), "cluster").selectExpr(
        "*",
        f"pmod({stable_hash64_sql('CAST(vec_id AS STRING)')},"
        f" CAST(CEIL(_csize / {max_cluster}) AS BIGINT)) AS _shard",
    )


def semdedup(
    df: DataFrame,
    n_centroids: int = 8,
    iters: int = 3,
    threshold: float = 0.3,
    model: list[list[float]] | None = None,
    max_cluster: int | None = 100_000,
) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    arXiv 2303.09540 — public literature): k-means-cluster the embedding
    corpus, then within each cluster drop every vector whose cosine
    similarity to a LOWER-id member reaches ``threshold`` (keep-min-id, the
    same representative rule as the exact/MinHash dedup operators). Returns
    the surviving ``(vec_id, cluster)`` rows.

    The clustering is the scale trick (per the paper): pairwise cosine work
    is confined to within-cluster pairs, so ``n_centroids`` bounds the
    quadratic term — pick ~sqrt(corpus/target_cluster_size) so clusters
    stay joinable; at 100 TB the inverted file is bucketed by cluster
    (sinks/bucketed) and the self-join needs no exchange. ``model`` freezes
    a pre-trained quantizer (ivf_build's centroids), making assignment
    map-only — the incremental-epoch posture; otherwise the quantizer is
    trained on ``df`` itself.

    ``max_cluster`` is the skew guard the balanced-cluster story needs:
    k-means on real web embeddings produces hot clusters (boilerplate,
    near-zero vectors), and one degenerate cluster would make the self-join
    O(c²) regardless of n_centroids. Clusters larger than the cap are
    SALT-SPLIT into ``ceil(size / max_cluster)`` deterministic sub-shards
    (stable_hash64(vec_id) mod n_splits) and the pair join runs within
    (cluster, shard) — bounding per-task pair work at ~max_cluster² while
    still deduping inside each shard. Recall trade (documented like
    minhash's max_bucket drop): duplicates landing in different shards of
    an oversized cluster both survive — bounded work is bought with
    within-shard-only dedup, never with an unbounded join. The cluster-size
    aggregate is n_centroids rows, broadcast onto the inverted file.

    Everything is exact: integer-quantized vectors, integer-exact centroids
    (ivf_build), and cosine built from integer dot products — IEEE division
    and sqrt on identical integers are bit-identical in any engine, so the
    threshold compare is deterministic; the driver's DuckDB oracle replays
    the full pipeline including training.
    """
    from tamer_spark.operators.dedup import _release_on_gc

    if model is None:
        assigned, _cents = ivf_build(df, n_centroids, iters)
    else:
        assigned = ivf_append(df, model)
    # the inverted file feeds four plan branches (size agg, both join sides,
    # the final anti join); persist it, released when the result is dropped
    assigned = assigned.persist()
    # per-vector norms are computed ONCE here (map-only over the inverted
    # file), not per pair — the pair predicate then costs one dot product,
    # same arithmetic (sqrt(n2a*n2b) of exact integer dots) so results are
    # bit-identical, ~3x less per-pair array work (measured at sf0.1)
    sharded = _salt_shard(assigned, max_cluster).selectExpr(
        "vec_id", "qv", "cluster", "_shard", f"{dot_sql('qv', 'qv')} AS _n2"
    )
    a = sharded.selectExpr(
        "vec_id AS id_a", "qv AS va", "cluster", "_shard", "_n2 AS _n2a"
    )
    b = sharded.selectExpr(
        "vec_id AS id_b", "qv AS vb", "cluster", "_shard", "_n2 AS _n2b"
    )
    drops = (
        a.join(b, ["cluster", "_shard"])
        .filter("id_a < id_b")
        .filter(
            f"({dot_sql('va', 'vb')}) / SQRT(_n2a * _n2b) >= {float(threshold)!r}D"
        )
        .selectExpr("id_b AS vec_id")
        .distinct()
    )
    out = assigned.join(drops, "vec_id", "left_anti").selectExpr(
        "vec_id", "CAST(cluster AS BIGINT) AS cluster"
    )
    return _release_on_gc(out, assigned)


def semdedup_incremental(
    new_df: DataFrame,
    index: DataFrame,
    model: list[list[float]],
    threshold: float = 0.3,
    max_cluster: int | None = 100_000,
) -> DataFrame:
    """Incremental SemDeDup: prune a NEW epoch's vectors against the
    persisted inverted file WITHOUT re-comparing history to itself — the
    semantic-tier analog of operators/dedup_incremental (same posture:
    history is an index, epoch cost is O(batch × matching clusters), never
    O(corpus²)).

    ``index`` is the accumulated inverted file — (vec_id, qv, cluster) for
    ALL historical members as produced by ivf_build/ivf_append (members,
    not survivors: the SemDeDup drop rule compares against every lower-id
    member, dropped or not), bucketed by cluster at scale so the pair join
    prunes to the batch's clusters. ``model`` is the frozen quantizer the
    index was built with.

    Exactness contract: with historical ids below batch ids (the natural
    monotonic-id layout), the survivors returned here are EXACTLY the
    new-id rows of ``semdedup(history ∪ batch, model=model)`` — keep-min-id
    is id-ordered, so adding higher-id vectors never changes a historical
    verdict, and a new vector's verdict depends only on historical members
    + lower-id batchmates (pinned in tests/test_ivf.py, including with a
    binding ``max_cluster``: shard sizes are computed over the UNION, the
    same formula the batch operator uses, so capped results agree too).

    Returns the surviving ``(vec_id, cluster)`` rows of the new batch only.
    """
    assigned_new = ivf_append(new_df, model)
    union = index.select("vec_id", "qv", "cluster").withColumn(
        "_new", F.lit(False)
    ).unionByName(assigned_new.withColumn("_new", F.lit(True)))
    # the union feeds the size agg + both join sides; persist for the run
    union = union.persist()
    sharded = _salt_shard(union, max_cluster).selectExpr(
        "vec_id", "qv", "cluster", "_shard", "_new", f"{dot_sql('qv', 'qv')} AS _n2"
    )
    a = sharded.selectExpr(
        "vec_id AS id_a", "qv AS va", "cluster", "_shard", "_n2 AS _n2a"
    )
    b = sharded.filter("_new").selectExpr(
        "vec_id AS id_b", "qv AS vb", "cluster", "_shard", "_n2 AS _n2b"
    )
    drops = (
        a.join(b, ["cluster", "_shard"])
        .filter("id_a < id_b")
        .filter(
            f"({dot_sql('va', 'vb')}) / SQRT(_n2a * _n2b) >= {float(threshold)!r}D"
        )
        .selectExpr("id_b AS vec_id")
        .distinct()
    )
    out = assigned_new.join(drops, "vec_id", "left_anti").selectExpr(
        "vec_id", "CAST(cluster AS BIGINT) AS cluster"
    )
    from tamer_spark.operators.dedup import _release_on_gc

    return _release_on_gc(out, union)


def ivf_search(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """ANN search: probe the query's ``nprobe`` nearest clusters, exact
    cosine rerank within them. nprobe == n_centroids degenerates to exact
    brute force; recall/cost scales with nprobe. The candidate join is an
    equi-join on cluster id — at 100 TB the inverted file is bucketed by
    cluster so probes touch only matching buckets.
    """
    q = queries.selectExpr(
        "vec_id AS query_id", f"{quantize_sql('embedding')} AS qv2"
    ).selectExpr(
        "query_id",
        "qv2",
        # explode_OUTER: see cosine_knn_lsh_multiprobe — keeps the centroid-
        # ranking expression out of an inferred pushed-down filter
        f"explode_outer({nearest_centroids_sql('qv2', centroids, nprobe)}) AS cluster",
    )
    cand = assigned.selectExpr("vec_id AS neighbor_id", "qv AS cv", "cluster")
    cosine = (
        f"({dot_sql('qv2', 'cv')}) / SQRT(({dot_sql('qv2', 'qv2')})"
        f" * ({dot_sql('cv', 'cv')}))"
    )
    scored = (
        cand.join(F.broadcast(q), "cluster")
        .filter("query_id != neighbor_id")
        .selectExpr("*", f"{cosine} AS cosine")
    )
    return _top_k_by_cosine(scored, k)


def _mining_projection(df: DataFrame, dim: int) -> DataFrame:
    """The miners' bucketed projection ``(id, _lbl, v, bucket, n2)``,
    persisted: it feeds BOTH self-join sides, and without the persist Spark
    computes the quantize + LSH HOF chain twice over the corpus (r14
    interleaved A/B at sf0.1, median-of-5: contrastive_pairs 1.94 s → 1.67,
    hard_negatives 1.94 → 1.47). The caller releases it when its result
    plan is dropped (``_release_on_gc``, the semdedup pattern).

    Zero-norm vectors (every component quantizing to 0 — dead or padded
    embeddings) are dropped here: they have no direction, so cosine is
    undefined, and under Spark 4's default ANSI mode the division would
    raise DIVIDE_BY_ZERO and kill the whole mining job."""
    return df.selectExpr(
        "vec_id",
        "label AS _lbl",
        f"{quantize_sql('embedding')} AS v",
    ).selectExpr(
        "vec_id",
        "_lbl",
        "v",
        f"{lsh_bucket_sql('v', dim=dim)} AS bucket",
        f"{dot_sql('v', 'v')} AS n2",
        f"'m{next(_MINER_SEQ)}' AS _ptag",  # see _MINER_SEQ
    ).filter("n2 > 0").persist()


def hard_negatives(
    df: DataFrame,
    k: int = 3,
    dim: int = 64,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training (DPR, Karpukhin et al.
    2020 §4.2; ANCE, Xiong et al. 2021): for each anchor, the top-``k``
    most-similar vectors with a DIFFERENT label — the negatives that
    actually move an embedding model's loss, mined from the corpus itself.

    All-pairs is O(n²); candidates come from shared LSH buckets (the
    semantic-dedup recipe): each anchor compares only to same-bucket
    candidates, and a bucket-missed negative is by construction a
    less-hard negative — the LSH contract is exactly the mining contract.
    Every vector is an anchor (self-join on bucket, id inequality), the
    label-mismatch filter rides the join condition (negatives pruned
    BEFORE the window, not after), and per-anchor top-k uses the
    cosine_knn tie-break (cosine desc, neighbor id asc — deterministic
    total order). NULL-labeled vectors yield no pairs on either side
    (NULL != x is NULL), pinned in tests. Zero-norm vectors are dropped
    (see ``_mining_projection``).

    ``max_bucket`` bounds the candidate side per bucket with the same
    deterministic salted-hash retention as the kNN path. One bucket
    equi-join shuffle + one per-anchor window — never a cross product.
    """
    b = _mining_projection(df, dim)
    a = b.alias("a")
    c = _cap_bucket_candidates(
        b.withColumnRenamed("vec_id", "neighbor_id"), max_bucket
    ).alias("b")
    # eqNullSafe is deliberately NOT used: a NULL label must yield no pairs
    # (an unlabeled vector is no negative of anything) — plain != propagates
    # NULL to false
    pairs = a.join(
        c,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.neighbor_id"))
        & (F.col("a._lbl") != F.col("b._lbl")),
    ).selectExpr(
        "a.vec_id AS query_id",
        "b.neighbor_id AS neighbor_id",
        f"({dot_sql('a.v', 'b.v')}) / SQRT(a.n2 * b.n2) AS cosine",
    )
    from tamer_spark.operators.dedup import _release_on_gc

    return _release_on_gc(
        pairs.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY cosine DESC, neighbor_id ASC) AS rank",
        )
        .filter(f"rank <= {k}")
        .selectExpr(
            "query_id",
            "neighbor_id",
            "round(cosine, 6) AS cosine",
            "CAST(rank AS BIGINT) AS rank",
        ),
        b,
    )


def contrastive_pairs(
    df: DataFrame,
    k: int = 3,
    dim: int = 64,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Both halves of the contrastive triple off ONE candidate join. A
    single LSH-bucket self-join produces every (anchor, candidate) pair;
    each is tagged ``side`` ('neg' when labels differ, 'pos' when they
    match), and ONE window partitioned by (anchor, side) ranks both tiers
    at once — the sort key is the cosine sign-flipped per side (negatives
    hardest-first = cosine DESC, positives hardest-first = cosine ASC), so
    no second exchange exists anywhere. Per (anchor, side), top-``k``
    survive. The 'neg' rows equal :func:`hard_negatives` (pinned by an
    equivalence test).

    The 'pos' rows are the ``k`` LEAST-similar SAME-label candidates — the
    positives a metric-learning loss has to work to pull together (an
    identical-twin positive teaches nothing). Honest contract: true global
    hard positives (same label, maximally far) cannot come from an LSH
    bucket join — far pairs rarely share buckets, which is the LSH point.
    What this mines is the hardest positives WITHIN each anchor's
    similarity neighborhood — the batch-construction form. NULL labels,
    zero-norm vectors, the max_bucket cap and the deterministic tie-break
    (then neighbor id ASC) behave as in hard_negatives.

    Returns (query_id, neighbor_id, side, cosine, rank).
    """
    b = _mining_projection(df, dim)
    a = b.alias("a")
    c = _cap_bucket_candidates(
        b.withColumnRenamed("vec_id", "neighbor_id"), max_bucket
    ).alias("b")
    pairs = a.join(
        c,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.neighbor_id"))
        # NULL labels yield no pairs on either side: both predicates below
        # are NULL (→ false) when either label is NULL
        & (F.col("a._lbl").isNotNull() & F.col("b._lbl").isNotNull()),
    ).selectExpr(
        "a.vec_id AS query_id",
        "b.neighbor_id AS neighbor_id",
        "CASE WHEN a._lbl = b._lbl THEN 'pos' ELSE 'neg' END AS side",
        f"({dot_sql('a.v', 'b.v')}) / SQRT(a.n2 * b.n2) AS cosine",
    )
    from tamer_spark.operators.dedup import _release_on_gc

    # one window for both tiers: negatives rank by -cosine ASC (= cosine
    # DESC), positives by +cosine ASC — the per-side hardest-first order
    return _release_on_gc(
        pairs.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id, side ORDER BY"
            " (CASE WHEN side = 'pos' THEN cosine ELSE -cosine END) ASC,"
            " neighbor_id ASC) AS rank",
        )
        .filter(f"rank <= {k}")
        .selectExpr(
            "query_id",
            "neighbor_id",
            "side",
            "round(cosine, 6) AS cosine",
            "CAST(rank AS BIGINT) AS rank",
        ),
        b,
    )
