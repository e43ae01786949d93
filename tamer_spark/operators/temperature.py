"""Temperature-based source resampling (mT5, Xue et al. 2021 §3.1; the
multilingual/multi-source rebalancing every large pretraining mix uses):
sample group g with probability ∝ n_g^alpha — alpha < 1 upsamples the
tail relative to the head.

Deterministic and INTEGER-EXACT keep rule: with w_g = round(n_g^alpha·10⁶)
and W = Σ w_g (exact int64 sums — no float accumulation order anywhere),
a doc is kept iff

    (stable_hash64('temp-' || id) % M) · W · n_g  <  target · w_g · M

which is exactly membership in the hash-range of fraction
min(1, target·p_g / n_g), p_g = w_g/W — the expected output is ~target
docs distributed by the temperature shares, groups too small to fill
their share are kept whole, and the decision replays bit-identically in
any engine (for alpha = 0.5, n^alpha is IEEE-correctly-rounded sqrt, so
even the weight table is exact cross-engine; other alphas inherit libm
pow agreement). int64 headroom: M·W·n_g must stay under 2⁶³ — with
M = 10⁶ that bounds W·n_g < 9.2e12; the bound is ENFORCED at plan time
(a tiny agg over the group-count frame raises ValueError past it) so
oversized corpora fail loudly instead of silently wrapping.

100 TB shape: one tiny count agg per group, weights fold back as a
broadcast, the keep rule is a map-only filter riding the scan — no
corpus-scale shuffle at all.
No analog in the reference engine (tamer has no text/retrieval
operators); part of the training-data-pipeline extension surface.

"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_M = 1_000_000


def temperature_mix(
    docs: DataFrame,
    target: int,
    group_col: str = "source",
    alpha: float = 0.5,
) -> DataFrame:
    """Deterministic temperature sampling to ~``target`` docs with group
    shares ∝ n_g^alpha. Returns the surviving rows (all columns)."""
    from tamer_spark.functions.hashing import stable_hash64

    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    from pyspark.sql import Window

    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    pow_expr = F.sqrt(F.col("_n")) if alpha == 0.5 else F.pow(F.col("_n"), F.lit(alpha))
    # the total folds into the GROUP-sized frame via a global window —
    # |groups| rows, evaluated once, then the whole table broadcasts
    weights = counts.withColumn("_w", F.round(pow_expr * _M).cast("long")).withColumn(
        "_wsum", F.sum("_w").over(Window.partitionBy())
    )
    # int64 headroom is ENFORCED, not just documented: the keep predicate's
    # largest terms are (M-1)·_wsum·_n and target·_w·M ≤ target·_wsum·M —
    # both bounded by _wsum·max(_n, target)·M. One tiny agg over the
    # |groups|-sized weights frame (already materialized for the broadcast)
    # fetches the two maxima SEPARATELY (each int64-safe by construction:
    # _wsum ≤ |groups|·M·max_n, _n ≤ corpus rows) and the product check runs
    # in Python's unbounded ints — a guard whose own arithmetic could
    # overflow (the r6 shape multiplied inside the plan) would surface as
    # ANSI ARITHMETIC_OVERFLOW or, worse, wrap and silently pass.
    row = weights.agg(
        F.max("_wsum").alias("ws"), F.max("_n").alias("n")
    ).collect()[0]
    if row["ws"] is not None:
        hdr = int(row["ws"]) * max(int(row["n"]), int(target))
        if hdr * _M >= 2**63:
            raise ValueError(
                "temperature_mix int64 headroom exceeded: max(_wsum)*max(n_g, target)*M = "
                f"{hdr * _M} >= 2^63; rescale the weight quantum (reduce M) or "
                "pre-partition the corpus"
            )
    h = (
        stable_hash64(F.concat(F.lit("temp-"), F.col("doc_id").cast("string"))) % _M
    )
    return (
        docs.join(F.broadcast(weights), group_col)
        .filter(h * F.col("_wsum") * F.col("_n") < F.lit(int(target)) * F.col("_w") * F.lit(_M))
        .drop("_n", "_w", "_wsum")
    )


def temperature_resample(docs: DataFrame, target: int, group_col: str = "source") -> DataFrame:
    """Temperature resampling WITH replication — the full mT5 §3.1 rule.
    ``temperature_mix`` caps every group's rate at 1 (pure subsample);
    real multilingual mixes also REPEAT low-resource groups (rate > 1:
    a tail language sampled to its temperature share appears multiple
    times per epoch). Each doc's target multiplicity is the ppm rate

        rate_ppm = (target · w_g · M) div (W · n_g)    (decimal(38,0)
        floor-div — the DSIR convention; the numerator exceeds int64 at
        corpus scale)

    (a diagnostic, emitted per row) while the copy COUNT is the exact
    integer ``#{c ≥ 0 : (h + c·M)·W·n_g < target·w_g·M}`` with
    ``h = stable_hash64('temp-' || id) % M`` — deterministic fractional
    replication whose c = 0 term IS temperature_mix's keep predicate
    (same salt, same inequality), so subsampling is the capped special
    case and the two operators' outputs are exactly nested; a rule
    derived from the FLOORED rate would flip the one hash value between
    the real rate and its floor. Copies carry ``copy_idx`` 0..k−1
    (downstream shuffling/packing must treat copies as distinct rows;
    dedup stages run BEFORE resampling — replication is intentional).

    Expected output size is ~``target`` rows with group shares ∝ n_g^α
    exactly, including the replicated tail. Map-only after one tiny
    count agg + broadcast weights; the explode fans out rows at scan
    rate — no corpus-scale shuffle.
    """
    from tamer_spark.functions.hashing import stable_hash64

    # Emitted names AND internal working columns: _rate_ppm/_h/_nc are
    # injected below and the broadcast join adds _n/_w/_wsum — the nc and
    # rate expressions are name-resolved SQL strings, so a caller column
    # shadowing any of them would either throw ambiguous-reference or
    # silently feed the wrong column (r12 ADVICE).
    clash = {
        "copy_idx",
        "rate_ppm",
        "_rate_ppm",
        "_h",
        "_nc",
        "_n",
        "_w",
        "_wsum",
    } & set(docs.columns)
    if clash:
        raise ValueError(
            f"temperature_resample uses {sorted(clash)} internally; "
            "rename those input columns"
        )
    from pyspark.sql import Window

    # NULL groups drop out (the join below never matches NULL == NULL) —
    # identical in the SQL oracle's JOIN USING, and the right call: a doc
    # with no group has no temperature share. Same behavior as
    # temperature_mix.
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    pow_expr = F.sqrt(F.col("_n"))
    weights = counts.withColumn("_w", F.round(pow_expr * _M).cast("long")).withColumn(
        "_wsum", F.sum("_w").over(Window.partitionBy())
    )
    # diagnostic rate (ppm): exact decimal floor-div — the DSIR
    # convention; decimal(38,0) holds target·w·M (≲ 1e30) with room
    rate = F.expr(
        f"CAST(CAST({int(target)} AS DECIMAL(38,0)) * _w * {_M} AS DECIMAL(38,0)) "
        "div (CAST(_wsum AS DECIMAL(38,0)) * _n)"
    ).cast("long")
    h = stable_hash64(F.concat(F.lit("temp-"), F.col("doc_id").cast("string"))) % _M
    # EXACT copy count: #{c >= 0 : (h + c·M)·W·n < target·w·M} — the c=0
    # term IS temperature_mix's keep predicate (true nesting, not a
    # floor-approximation of it: deriving copies from the floored rate
    # would flip the one hash value sitting between rate and its floor).
    # = ceil((target·w·M − h·W·n) / (W·n·M)) when positive, all in
    # decimal(38,0) so nothing wraps.
    t = int(target)
    nc_sql = (
        f"CASE WHEN CAST({t} AS DECIMAL(38,0)) * _w * {_M} "
        "          > CAST(_h AS DECIMAL(38,0)) * _wsum * _n "
        f"THEN CAST((CAST({t} AS DECIMAL(38,0)) * _w * {_M} "
        "           - CAST(_h AS DECIMAL(38,0)) * _wsum * _n "
        f"           + CAST(_wsum AS DECIMAL(38,0)) * _n * {_M} - 1) "
        f"     div (CAST(_wsum AS DECIMAL(38,0)) * _n * {_M}) AS BIGINT) "
        "ELSE 0 END"
    )
    return (
        docs.join(F.broadcast(weights), group_col)
        .withColumn("_rate_ppm", rate)
        .withColumn("_h", h)
        .withColumn("_nc", F.expr(nc_sql))
        .filter(F.col("_nc") > 0)
        .select(
            *docs.columns,
            "_rate_ppm",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_nc") - 1)).alias(
                "copy_idx"
            ),
        )
        .withColumnRenamed("_rate_ppm", "rate_ppm")
    )
