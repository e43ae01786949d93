"""Constant numeric arrays as SQL fragments.

``F.array(*[F.lit(x) for x in xs])`` costs one py4j round-trip per element
(plus one per ``F.array``); a 16×64 codebook is ~1k driver→JVM calls before
a single task runs, and plan-construction was measured to dominate several
bench entries (ivfadc_search: ~1.4 s build vs ~0.5 s exec at sf0.1). An
``array(1.0D, ...)`` fragment pasted into a selectExpr/F.expr string costs
no extra round-trip and parses to the same expression tree; after
ConstantFolding it is the identical nested ``Literal`` (verified: equal
``optimizedPlan`` strings, equal dtype ``array<array<double>>``, equal
collected values), so results cannot differ.

Formatting contract (what makes the parse bit-exact):
- doubles: ``repr(float(x)) + "D"`` — repr emits the shortest decimal that
  round-trips to the same binary64, and Spark's ``...D`` literal parses via
  Java ``Double.parseDouble`` (correctly-rounded), so value round-trip is
  exact. Non-finite values have no SQL literal form and raise (never hit by
  the quantized/derived matrices here, but guarded).
- longs: ``str(int(x)) + "L"`` — BIGINT literal, exact by construction.

Only numeric arrays are rendered here (escaping string arrays is riskier
than the RPCs it would save).

``empty_frame`` is the empty-table counterpart: an empty frame planned on
the JVM side rather than over a Python RDD.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

__all__ = [
    "empty_frame",
    "sql_doubles",
    "sql_double_matrix",
    "sql_longs",
]


def _fmt_double(x: float) -> str:
    v = float(x)
    if not math.isfinite(v):
        raise ValueError("non-finite value has no SQL literal form")
    return repr(v) + "D"


def sql_doubles(xs) -> str:
    """``array<double>`` SQL fragment — for callers composing LARGER
    one-parse expressions (r14: whole-column SQL rendering; one string
    concat here instead of one more F.expr round-trip). Raises on
    non-finite values (no SQL literal form): callers in the quantized-model
    family never produce them by the determinism contract."""
    return "array(" + ",".join(_fmt_double(x) for x in xs) + ")"


def sql_double_matrix(rows) -> str:
    """``array<array<double>>`` SQL fragment (codebooks, centroid tables,
    sign planes; same contract as sql_doubles)."""
    return "array(" + ",".join(sql_doubles(r) for r in rows) + ")"


def sql_longs(xs) -> str:
    """``array<bigint>`` SQL fragment (non-empty)."""
    vals = [int(x) for x in xs]
    if not vals:
        raise ValueError("empty array literal has no element type")
    return "array(" + ",".join(f"{v}L" for v in vals) + ")"


def empty_frame(spark: SparkSession, schema: StructType | str) -> DataFrame:
    """An empty frame of ``schema``'s names and types: ``range(0)`` plus one
    typed null column per field. ``createDataFrame([], schema)`` plans a
    ``Scan ExistingRDD`` over a Python ``parallelize`` with no size
    statistics, so a join against it sort-merges with an exchange on both
    sides. A ``Range`` of zero rows has zero-size statistics: a join
    against it broadcasts it, or the optimizer removes the join."""
    fields = (StructType.fromDDL(schema) if isinstance(schema, str) else schema).fields
    return spark.range(0).select(*[F.lit(None).cast(f.dataType).alias(f.name) for f in fields])
