"""Random projection (Johnson–Lindenstrauss) dimensionality reduction with
±1 sign matrices (Achlioptas 2003, "Database-friendly random projections" —
public literature).

Projects ``dim``-vectors to ``out_dim`` by ``p_j = Σ_i s_ji · v_i`` with
``s_ji ∈ {+1, −1}`` derived from sha256 parity of ``(seed, j, i)`` — the
same fixed-at-plan-build sign derivation as the LSH hyperplanes
(operators/similarity.lsh_bucket_sql), so there is no RNG state and any
engine reproduces the matrix. Inputs are the repo's quantized integer
coordinates; the projection is therefore a sum of integers — EXACT in
double for any sane scale (|p_j| < dim · |v|_max ≪ 2^53) — and downstream
cosine ranking in the projected space follows the proven rounded-cosine
convention.

Why at 100 TB: the JL lemma preserves pairwise distances within (1 ± ε)
using out_dim = O(log n / ε²) REGARDLESS of the input dimension, so the
projection is the standard pre-step that cuts per-pair arithmetic (and
candidate-generation memory) by dim/out_dim — 4× here — before any
brute-force, LSH, or clustering stage. It composes: project once
(map-only, frozen signs → epoch appends project without history, the
ivf_append posture), then run the existing kNN/LSH operators on the
projected column unchanged (cosine_knn(pre_quantized=True)).

No analog in the reference engine; training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["rp_signs", "random_projection"]


def rp_signs(out_dim: int, dim: int, seed: int = 42) -> list[list[float]]:
    """The ±1 projection matrix, rows = output dims — derived, not sampled
    (sha256 parity of 'rp-{seed}-{j}-{i}'), so Spark, the SQL oracle, and
    any reimplementation agree bit-for-bit."""
    from tamer_spark.functions.hashing import sign_rows

    return sign_rows("rp", seed, out_dim, dim)


def random_projection(df: DataFrame, signs: list[list[float]]) -> DataFrame:
    """MAP-ONLY projection: ``(id, pvec array<double of integer value>)``.

    One shared 2D sign literal (the pq _codebook_sql argument: the
    lambda-indexed element_at can't constant-fold, so one array literal
    beats out_dim per-row expression subtrees); per row the work is
    out_dim zip_with dot products over the staged quantized vector.
    Frozen signs → new epochs project without touching history."""
    # one-parse SQL construction (r14): same tree, one selectExpr parse
    # (see operators/pq.py's fragment note); the 2D sign literal stays
    # shared because the lambda-indexed element_at cannot constant-fold
    from tamer_spark.functions.litfast import sql_double_matrix
    from tamer_spark.operators.similarity import quantize_sql

    sm = sql_double_matrix(signs)
    out_dim = len(signs)
    staged = df.selectExpr("vec_id", f"{quantize_sql('embedding')} AS _qv")
    proj = (
        f"transform(sequence(0, {out_dim - 1}),"
        f" j -> aggregate(zip_with(_qv, element_at({sm}, CAST(j + 1 AS INT)),"
        " (x, s) -> x * s), 0.0D, (acc, v) -> acc + v))"
    )
    return staged.selectExpr("vec_id", f"{proj} AS pvec")
