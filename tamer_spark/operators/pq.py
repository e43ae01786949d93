"""Product quantization (PQ) for memory-bounded ANN at corpus scale.

Implements the PQ building blocks of Jégou et al., "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011 — public literature): split each
``dim``-vector into ``m`` subvectors, learn a ``k``-codeword codebook per
subspace (k-means), and represent every vector by its ``m`` codeword ids —
``m*log2(k)`` bits instead of ``dim*32``. Search uses asymmetric distance
computation (ADC): per query, an ``m × k`` lookup table of exact
query-subvector↔codeword distances, then each database vector's approximate
distance is ``m`` table lookups — no vector arithmetic per candidate.

Why it matters at 100 TB: a 64-dim float corpus is ~256 B/vector; PQ at
m=4, k=16 is 2 B/vector — the inverted file fits in memory orders of
magnitude longer, and scan-rank over codes is pure integer lookups. The
composition with IVF (coarse quantizer from operators/similarity.ivf_build,
PQ codes within each list) is the standard IVFADC layout; both halves here
share the same epoch posture (frozen codebooks → map-only encoding of new
batches).

Determinism contract (same as ivf_build): quantized integer vectors,
smallest-md5 seed init, floor-divided integer centroid means — every
distance and codeword coordinate is an exact integer, so training and
encoding are bit-reproducible in any engine and the driver's DuckDB oracle
replays them as unrolled CTE rounds.

Training runs ONE distributed job per Lloyd iteration covering ALL
subspaces at once (subvector slices are plan columns; the per-(subspace,
codeword, dim) integer sums are a single groupBy of m*k*dsub ≈ 1k rows);
only the codebook table passes through the driver.

No analog in the reference engine (tamer has no vector operators); part of
the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tamer_spark.functions.hashing import stable_hash64_sql
from tamer_spark.functions.litfast import sql_double_matrix
from tamer_spark.operators.similarity import quantize_sql

__all__ = ["pq_train", "pq_encode", "pq_search_adc", "ivfadc_search"]


# --- expressions as SQL fragments ------------------------------------------
# Training (pq_train) and the serving path (pq_encode / pq_search_adc /
# ivfadc_search) build their plans from these fragments handed to selectExpr
# in a handful of parses, instead of one py4j round-trip per Column operator:
# ivfadc_search measured 1028 RPCs ≈ 0.6-0.8 s of driver-side build per
# call at sf0.1 against ~0.5 s of execution (.scratch/rpc_attr.py). pq_train
# and pq_encode assign codes through the same ``_nearest_code_sql``, so a
# frozen codebook encodes a new batch exactly as training assigned it.


def _sub_slice_sql(qv: str, j: int, dsub: int) -> str:
    return f"slice({qv}, {j * dsub + 1}, {dsub})"


def _sq_l2_sql(sub: str, codeword: str) -> str:
    return (
        f"aggregate(zip_with({sub}, {codeword}, (x, y) -> (x - y) * (x - y)),"
        " 0.0D, (a, v) -> a + v)"
    )


def _codebook_sql(codebook: list[list[int]]) -> str:
    """One foldable 2D array literal for a whole codebook. The lambda-index
    ``element_at`` of its users cannot constant-fold (the index is the
    lambda variable), so the plan carries ONE shared literal instead of k
    separate codeword subtrees — ~16× fewer expression nodes than the
    per-codeword struct formulation, which cut the fixed plan-compile
    overhead that dominated pq_encode/adc at bench SF. Arithmetic is
    unchanged (identical element order, identical sums), so results stay
    bit-exact."""
    return sql_double_matrix([[float(x) for x in c] for c in codebook])


def _nearest_code_sql(sub: str, codebook: list[list[int]]) -> str:
    """Argmin codeword id for one subvector (squared-L2, ties → lowest id).
    ``sub`` must be a materialized column (multi-referenced)."""
    cb = _codebook_sql(codebook)
    dist = _sq_l2_sql(sub, f"element_at({cb}, CAST(i + 1 AS INT))")
    scored = (
        f"transform(sequence(0, {len(codebook) - 1}),"
        f" i -> struct({dist} AS dist, CAST(i AS BIGINT) AS cid))"
    )
    return f"array_sort({scored})[0].cid"


def _adc_tab_sql(j: int, codebook: list[list[int]], dsub: int, qv: str = "qv2") -> str:
    """SQL fragment of one per-query ADC distance table (``_tab{j}``)."""
    cb = _codebook_sql(codebook)
    sub = _sub_slice_sql(qv, j, dsub)
    dist = _sq_l2_sql(sub, f"element_at({cb}, CAST(i + 1 AS INT))")
    return f"transform(sequence(0, {len(codebook) - 1}), i -> {dist})"


def pq_train(df: DataFrame, m: int = 4, k: int = 16, iters: int = 3) -> list[list[list[int]]]:
    """Learn ``m`` subspace codebooks of ``k`` codewords each; returns
    ``codebooks[j][c] = dsub ints``.

    Seeds: the ``k`` vectors with the smallest md5-derived id hash (one
    shared seed set — subspace ``j``'s codebook starts from those vectors'
    ``j``-th subvectors). Each Lloyd iteration is one distributed
    assign+sum job across ALL subspaces; codeword updates are floor-divided
    integer means with empty-codeword carry-over, exactly like ivf_build.
    """
    dim_row = df.select(F.size(F.col("embedding")).alias("d")).first()
    dim = dim_row.d
    assert dim % m == 0, "dim must divide into equal subspaces"
    dsub = dim // m

    base = df.selectExpr("vec_id", f"{quantize_sql('embedding')} AS qv")
    seeds = (
        base.selectExpr("*", f"{stable_hash64_sql('CAST(vec_id AS STRING)')} AS _h")
        .orderBy("_h")
        .limit(k)
        .collect()
    )
    codebooks: list[list[list[int]]] = [
        [[int(r.qv[j * dsub + t]) for t in range(dsub)] for r in seeds]
        for j in range(m)
    ]

    for _ in range(iters):
        # one map pass assigns every subspace; explode to (sub, cid, dim, val)
        # for the update sums — m*k*dsub groups, a tiny shuffle
        assigned = base.selectExpr(
            "qv",
            *[
                f"{_nearest_code_sql(_sub_slice_sql('qv', j, dsub), codebooks[j])} AS _c{j}"
                for j in range(m)
            ],
        )
        subs = ", ".join(
            f"struct(_c{j} AS cid, {_sub_slice_sql('qv', j, dsub)} AS sv)"
            for j in range(m)
        )
        stacked = assigned.selectExpr(f"posexplode_outer(array({subs})) AS (sub, a)")
        dims = (
            stacked.select(
                "sub", F.col("a.cid").alias("cid"), F.posexplode_outer("a.sv").alias("t", "val")
            )
            .groupBy("sub", "cid", "t")
            .agg(F.sum(F.col("val").cast("long")).alias("s"), F.count(F.lit(1)).alias("n"))
        )
        upd: dict[tuple[int, int], dict[int, int]] = {}
        for r in dims.collect():
            upd.setdefault((r.sub, r.cid), {})[r.t] = r.s // r.n
        for (j, c), dvals in upd.items():
            codebooks[j][c] = [dvals[t] for t in sorted(dvals)]
    return codebooks


def pq_encode(df: DataFrame, codebooks: list[list[list[int]]]) -> DataFrame:
    """MAP-ONLY encoding: ``(vec_id, codes array<long>, code packed long)``.

    ``codes[j]`` is subspace ``j``'s nearest codeword id; ``code`` packs
    them base-k (``Σ codes[j] * k^(m-1-j)``) into one int64 — the 2-byte-
    per-vector representation the inverted file stores. Frozen codebooks →
    new epochs encode without touching history (ivf_append posture).

    When the code space exceeds int64 (``k^m - 1 > 2^63 - 1``, e.g. the
    standard IVFPQ m=8 × k=256 = 64-bit codes), ``code`` is NULL and the
    ``codes`` array is the storage representation — packing would overflow
    (caught as a real ANSI ARITHMETIC_OVERFLOW in the r5 recall sweep, not
    a theoretical edge). Schema is stable either way.
    """
    m, k = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    base = df.selectExpr(
        "vec_id", f"{quantize_sql('embedding')} AS qv"
    )
    codes = ", ".join(
        _nearest_code_sql(_sub_slice_sql("qv", j, dsub), codebooks[j])
        for j in range(m)
    )
    coded = base.selectExpr("vec_id", f"array({codes}) AS codes")
    if k**m - 1 > 0x7FFFFFFFFFFFFFFF:
        return coded.selectExpr("vec_id", "codes", "CAST(NULL AS BIGINT) AS code")
    packed = " + ".join(f"codes[{j}] * {k ** (m - 1 - j)}" for j in range(m))
    return coded.selectExpr("vec_id", "codes", f"CAST({packed} AS BIGINT) AS code")


def pq_search_adc(
    coded: DataFrame,
    codebooks: list[list[list[int]]],
    queries: DataFrame,
    topk: int = 5,
) -> DataFrame:
    """ADC top-k: approximate squared-L2 = Σ_j table_j[codes[j]], where
    table_j holds the EXACT integer distances from the query's j-th
    subvector to subspace j's codewords.

    The per-query m×k distance table is built as plan expressions over the
    broadcast query side (k*m ints per query); each database vector then
    costs m array lookups — no per-candidate vector math, which is the
    entire point of PQ. Returns (query_id, neighbor_id, approx_dist, rank);
    rank ties break on neighbor id. At 100 TB, compose with the IVF coarse
    quantizer (probe lists, then ADC within them) for the IVFADC layout.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    q = queries.selectExpr(
        "vec_id AS query_id", f"{quantize_sql('embedding')} AS qv2"
    )
    # distance tables as array columns: tab_j[c] = ||q_sub_j - codeword_c||²
    # (one transform over the shared codebook literal per subspace — see
    # _codebook_sql for why this beats per-codeword expressions)
    tabs = q.selectExpr(
        "query_id",
        *[f"{_adc_tab_sql(j, codebooks[j], dsub)} AS _tab{j}" for j in range(m)],
    )
    dist = " + ".join(
        f"element_at(_tab{j}, CAST(codes[{j}] + 1 AS INT))" for j in range(m)
    )
    scored = (
        coded.crossJoin(F.broadcast(tabs))
        .filter("query_id != vec_id")
        .selectExpr("*", f"{dist} AS approx_dist")
    )
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY approx_dist ASC, vec_id ASC) AS rank",
        )
        .filter(f"rank <= {topk}")
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            "approx_dist",
            "CAST(rank AS BIGINT) AS rank",
        )
    )


def ivfadc_search(
    index: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 50,
) -> DataFrame:
    """The full IVFADC serving path (Jégou et al. TPAMI 2011 §IV): probe the
    query's ``nprobe`` nearest coarse clusters, rank the probed candidates
    by ADC over their PQ codes (m table lookups each — no vector math),
    keep a ``shortlist``, then exact-cosine rerank ONLY the shortlist
    against the stored vectors. Returns (query_id, neighbor_id, cosine,
    rank) — the same contract as ivf_search, at ADC scan cost.

    ``index`` is the IVFADC index table: (vec_id, qv, cluster, codes) — the
    inverted file joined with its PQ codes (ivf_build/append ⋈ pq_encode),
    bucketed by cluster at scale. Cost shape at 100 TB: the candidate join
    is a cluster equi-join against a broadcast query side (partition-pruned
    reads over the bucketed index); ADC ranking touches codes only (2
    B/vector); the exact rerank reads full vectors for shortlist × queries
    rows — the only stage that touches raw vectors, by design.

    Determinism: ADC distances are exact integer sums (ties → lower id), so
    the shortlist is engine-independent; the rerank reuses the exact
    quantized-cosine arithmetic of ivf_search. Recall ≥ plain ADC top-k at
    the same probe set for any shortlist ≥ k (the rerank can only fix ADC's
    quantization mistakes within the shortlist, pinned in tests/test_pq.py).
    """
    from tamer_spark.operators.similarity import dot_sql, nearest_centroids_sql, _top_k_by_cosine

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    q = queries.selectExpr(
        "vec_id AS query_id", f"{quantize_sql('embedding')} AS qv2"
    ).selectExpr(
        "query_id",
        "qv2",
        # explode_OUTER: keeps the centroid-ranking expression out of an
        # inferred pushed-down filter (never empty — see ivf_search)
        f"explode_outer({nearest_centroids_sql('qv2', centroids, nprobe)}) AS cluster",
    )
    qtabs = q.selectExpr(
        "query_id",
        "qv2",
        "cluster",
        *[f"{_adc_tab_sql(j, codebooks[j], dsub)} AS _tab{j}" for j in range(m)],
    )
    adc = " + ".join(
        f"element_at(_tab{j}, CAST(codes[{j}] + 1 AS INT))" for j in range(m)
    )
    cand = (
        index.selectExpr("vec_id AS neighbor_id", "qv AS cv", "cluster", "codes")
        .join(F.broadcast(qtabs), "cluster")
        .filter("query_id != neighbor_id")
        .selectExpr("*", f"{adc} AS _adc")
    )
    short = cand.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY query_id"
        " ORDER BY _adc ASC, neighbor_id ASC) AS _srank",
    ).filter(f"_srank <= {shortlist}")
    cosine = (
        f"({dot_sql('qv2', 'cv')}) / SQRT(({dot_sql('qv2', 'qv2')})"
        f" * ({dot_sql('cv', 'cv')}))"
    )
    return _top_k_by_cosine(short.selectExpr("*", f"{cosine} AS cosine"), k)
