"""Scalar quantization (SQ8) for memory-bounded ANN — the third leg of the
quantization family (IVF coarse quantizer, PQ codes, and now per-dimension
int8 codes), mirroring FAISS's ``ScalarQuantizer`` tier (public library /
Jégou et al. lineage — public literature).

Each dimension ``t`` learns a corpus ``(min_t, max_t)`` range; a vector's
code for that dimension is its position in 256 equal bins:

    code_t = ((v_t - min_t) * 255) // (max_t - min_t)     (0 when the range
                                                           is degenerate)

Storage is 1 byte/dim (vs 4 for float32, vs PQ's sub-byte codes) — the
accuracy/compression middle ground: unlike PQ there is no codebook training
and per-dimension resolution is uniform, so recall is near-exact at 4×
compression while PQ trades more recall for 128×.

Search is asymmetric (ADC-style): the query stays EXACT while each database
vector is reconstructed from its code. To keep every distance an exact
integer (the repo-wide determinism contract — rankings must be bit-identical
in any engine), reconstruction avoids division by working at a uniform ×255
scale:

    recon255_t = min_t * 255 + code_t * (max_t - min_t)   -- exact int
    dist       = Σ_t (recon255_t - 255 * q_t)²            -- exact int64

(The true reconstruction is recon255/255, the bin's lower edge; scaling the
query by the same 255 preserves the squared-L2 order exactly with zero
rounding.)

Exactness envelopes (two distinct bounds — do not conflate them):

- encode floor, cross-engine: operands are quantized integers
  (operators/similarity.quantize_sql), ``(v-mn)*255`` is exactly
  representable in double and the IEEE quotient's error is < (a/b)·2⁻⁵²
  while a non-integer quotient sits ≥ 1/span away from the next integer;
  1/span > (a/b)·2⁻⁵² whenever a < 2^52 — so ``floor`` of the double
  quotient equals integer division in BOTH engines. Holds to |v| ~ 2^40.
- search distance sum, int64: |recon255 − 255·q| ≤ ~2^10·V for coordinate
  magnitude V, so the 64-dim squared sum is ≤ ~2^26·V² and stays inside
  int64 only for V ≲ 3·10⁵. Milli-quantized unit-scale embeddings sit at
  V ~ 10³ (100× headroom); feeding coarser-scaled integer vectors past
  that envelope would wrap silently in non-ANSI Spark while DuckDB
  promotes to HUGEINT — stay inside it.

Scale posture (100 TB):
- train: one posexplode + groupBy(dim) min/max — partial-aggregable
  map-side combine; the shuffle carries only partitions × dim rows and the
  result is ``dim`` rows (model-parameter-sized driver state, same contract
  as IVF centroids / PQ codebooks).
- encode: MAP-ONLY against the broadcast bounds literal; frozen bounds →
  new epochs encode without touching history (ivf_append posture). Codes
  from out-of-range values (possible only under frozen bounds) clamp to
  [0, 255], so epoch appends never emit an un-decodable code.
- search: corpus-side reconstruction is map-side (one zip_with chain per
  row, computed once before the broadcast-query join), then the same
  per-query window rank as pq_search_adc. The corpus never shuffles.
- pack_sq_codes: 8 codes per int64 big-endian-within-word — the literal
  1-byte/dim storage form for the inverted file; map-only, round-trip
  pinned in tests.

No analog in the reference engine (tamer has no vector operators); part of
the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tamer_spark.operators.similarity import quantize_sql

__all__ = ["sq_train", "sq_encode", "sq_search", "pack_sq_codes"]

_LEVELS = 255  # default: codes span [0, 255] — 8 bits/dim (SQ8)
# levels=15 gives the FAISS SQ4 tier: 4 bits/dim, 8× compression, coarser
# bins — same arithmetic throughout (the ×levels scale trick is level-count
# agnostic), pytest-pinned at both settings


def sq_train(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, int]]:
    """Per-dimension (min, max) of the QUANTIZED corpus — ``dim`` rows.

    One distributed pass: posexplode to (dim, value) rows, partial-agg
    min/max per dimension (map-side combine; the exchange carries only
    partitions × dim rows). Returns driver-side bounds ordered by
    dimension — model-parameter-sized state (dim pairs of ints), the same
    driver-state contract as IVF centroids and PQ codebooks.
    """
    rows = (
        df.selectExpr(f"posexplode({quantize_sql(vec_col)}) AS (t, val)")
        .groupBy("t")
        .agg(
            F.min("val").cast("long").alias("mn"),
            F.max("val").cast("long").alias("mx"),
        )
        .collect()
    )
    by_dim = {r.t: (r.mn, r.mx) for r in rows}
    return [by_dim[t] for t in range(len(by_dim))]


def sq_encode(
    df: DataFrame,
    bounds: list[tuple[int, int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = _LEVELS,
) -> DataFrame:
    """MAP-ONLY encoding: ``(vec_id, codes array<long>)``, each code in
    [0, 255].

    Codes clamp to the trained range so frozen-bounds epoch appends (new
    values outside the historical min/max) still produce valid codes —
    clamping is provably a no-op when ``bounds`` came from this corpus.
    Degenerate dimensions (span 0) encode as 0 and reconstruct exactly.
    """
    # one-parse SQL construction (r14) — see operators/pq.py's fragment note
    from tamer_spark.functions.litfast import sql_doubles

    mins = sql_doubles(float(mn) for mn, _ in bounds)
    spans = sql_doubles(float(mx - mn) for mn, mx in bounds)
    shifted = (
        f"zip_with({quantize_sql(vec_col)}, {mins}, (x, mn) -> (x - mn) * {levels})"
    )
    codes = (
        f"zip_with({shifted}, {spans}, (num, span) -> CASE WHEN span > 0"
        f" THEN greatest(CAST(0 AS BIGINT), least(CAST({levels} AS BIGINT),"
        " FLOOR(num / span))) ELSE CAST(0 AS BIGINT) END)"
    )
    return df.selectExpr(f"{id_col} AS vec_id", f"{codes} AS codes")


def sq_search(
    coded: DataFrame,
    bounds: list[tuple[int, int]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 5,
    levels: int = _LEVELS,
) -> DataFrame:
    """Asymmetric SQ search: exact query vs reconstructed codes, every
    distance an exact int64 (×255-scale trick, see module docstring), so
    (dist, id) rank order is engine-independent.

    Returns (query_id, neighbor_id, approx_dist, rank); rank ties break on
    neighbor id. Reconstruction happens once per corpus row BEFORE the
    broadcast-query join (staged select), then per-pair work is one
    zip_with squared-diff fold in int64 — no per-candidate division, no
    Python. At 100 TB, compose with the IVF coarse quantizer exactly like
    PQ (probe lists, SQ-reconstruct within them).
    """
    from tamer_spark.functions.litfast import sql_doubles, sql_longs

    spans = sql_doubles(float(mx - mn) for mn, mx in bounds)
    mins_scaled = sql_longs(int(mn) * levels for mn, _ in bounds)
    recon = (
        f"zip_with(zip_with(codes, {spans}, (c, s) -> c * CAST(s AS BIGINT)),"
        f" {mins_scaled}, (a, m) -> a + m)"
    )
    corpus = coded.selectExpr("vec_id", f"{recon} AS _recon255")
    q = queries.selectExpr(
        f"{id_col} AS query_id",
        f"transform({quantize_sql(vec_col)}, x -> CAST(x * {levels} AS BIGINT))"
        " AS _q255",
    )
    dist = (
        "aggregate(zip_with(_recon255, _q255, (r, qv) -> (r - qv) * (r - qv)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = corpus.join(
        F.broadcast(q), F.col("query_id") != F.col("vec_id")
    ).selectExpr("*", f"{dist} AS approx_dist")
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


def pack_sq_codes(coded: DataFrame, dim: int, bits: int = 8) -> DataFrame:
    """(vec_id, codes) → (vec_id, packed array<long>): ``64 // bits`` codes
    per int64, code ``t`` in slot ``(cpw-1) - (t % cpw)`` of word
    ``t // cpw`` (bits=8 → the SQ8 byte layout; bits=4 → the SQ4 nibble
    layout, 16 codes/word). Map-only; ``dim`` need not be a multiple of the
    per-word count — the last word zero-pads. The round-trip (every code
    read back from its slot) is the contract, NOT sortability: a word whose
    first code reaches the top slot's high bit packs negative, so SIGNED
    numeric order of packed words is not dimension-lexicographic — don't
    range-partition or order an inverted file by raw packed values."""
    if 64 % bits:
        raise ValueError(f"bits={bits} must divide 64")
    cpw = 64 // bits
    n_words = (dim + cpw - 1) // cpw
    words = []
    for wi in range(n_words):
        word = None
        for b in range(cpw):
            t = wi * cpw + b
            if t >= dim:
                break
            term = F.shiftleft(
                F.element_at("codes", t + 1).cast("long"), (cpw - 1 - b) * bits
            )
            word = term if word is None else word.bitwiseOR(term)
        words.append(word.cast("long"))
    return coded.select("vec_id", F.array(*words).alias("packed"))
