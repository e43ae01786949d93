"""Local replica of the driver's correctness gate.

Compares a registry query's Spark result with its oracle SQL's DuckDB result
(run over views of the same parquet): row count, schema shape, and an
order-insensitive value hash. tests/test_oracle_gate.py runs it over every
registry query to keep the gate green before the driver ever sees the code.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd


def _canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


@dataclass
class CompareResult:
    name: str
    spark_rows: int
    oracle_rows: int
    match: bool
    first_diff: str = ""

    def __bool__(self) -> bool:
        return self.match


def _dtype_kind(dtype) -> str:
    """Collapse a pandas dtype to a coarse kind for drift detection."""
    k = getattr(dtype, "kind", "O")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    return "object"


def dtype_drift(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Columns whose numeric kind differs between the two frames.

    The driver's value hash is dtype-sensitive: an oracle column that lands as
    float64 (e.g. a DuckDB un-cast window SUM -> HUGEINT -> float) while Spark
    emits int64 fails the driver even when the canonical values match. The
    local gate must therefore reject int-vs-float (and bool-vs-number) drift
    rather than forgive it via integral-float canonicalization.
    Skipped when either frame is empty (pandas gives object dtypes for
    zero-row DuckDB results in some paths).
    """
    if len(spark_pdf) == 0 or len(oracle_pdf) == 0:
        return []
    drifted = []
    for c in sorted(set(spark_pdf.columns) & set(oracle_pdf.columns)):
        ka, kb = _dtype_kind(spark_pdf[c].dtype), _dtype_kind(oracle_pdf[c].dtype)
        if ka == kb:
            continue
        # A nullable Spark long with NULLs also arrives as float64 via
        # toPandas, so int-vs-float is only benign when the float side is the
        # one carrying NaNs; flag every other combination.
        pair = {ka, kb}
        if pair == {"int", "float"}:
            fside = spark_pdf[c] if ka == "float" else oracle_pdf[c]
            if fside.isna().any():
                continue
            drifted.append(f"{c}: spark={spark_pdf[c].dtype} oracle={oracle_pdf[c].dtype}")
        elif "object" not in pair:
            drifted.append(f"{c}: spark={spark_pdf[c].dtype} oracle={oracle_pdf[c].dtype}")
    return drifted


def compare(name: str, spark_df, oracle_pdf: pd.DataFrame) -> CompareResult:
    spdf = spark_df.toPandas()
    a = canonical_rows(spdf)
    b = canonical_rows(oracle_pdf)
    if a == b:
        drift = dtype_drift(spdf, oracle_pdf)
        if drift:
            return CompareResult(
                name, len(a), len(b), False, "dtype drift (driver hash would fail): " + "; ".join(drift)
            )
        return CompareResult(name, len(a), len(b), True)
    diff = ""
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            diff = f"row {i}: spark={x} oracle={y}"
            break
    else:
        diff = f"row count {len(a)} vs {len(b)}"
        if len(a) > len(b):
            diff += f"; extra spark row: {a[len(b)]}"
        elif len(b) > len(a):
            diff += f"; extra oracle row: {b[len(a)]}"
    if sorted(spdf.columns) != sorted(oracle_pdf.columns):
        diff = f"columns differ: spark={sorted(spdf.columns)} oracle={sorted(oracle_pdf.columns)}; " + diff
    return CompareResult(name, len(a), len(b), False, diff)
