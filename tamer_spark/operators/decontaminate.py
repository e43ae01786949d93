"""Verbatim-substring decontamination — the third decontamination mode.

The family (pick by benchmark-set size and match semantics):

1. shingle n-gram overlap (queries.decontaminate_against_benchmark):
   catches paraphrase-adjacent overlap; benchmark side broadcasts.
2. bloom-prefiltered shingle overlap (operators/bloom.py): same semantics
   when the benchmark set outgrows broadcast range.
3. THIS — exact substring containment: "the document quotes a benchmark
   answer string verbatim" (the GPT-3 appendix-C / PaLM style check).
   Zero-shuffle: the pattern list folds into the plan as an array literal
   and the filter is a map-only ``exists(contains)`` over whole-stage
   codegen — no join, no exchange, runs in the ingest stream. Right for
   pattern sets up to ~thousands (plan-literal scale); past that, shingle
   the patterns and use mode 1/2.
No analog in the reference engine (tamer has no text/retrieval
operators); part of the training-data-pipeline extension surface.

"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def decontaminate_substrings(
    corpus: DataFrame,
    patterns: list[str],
    keep_hits: bool = False,
) -> DataFrame:
    """Drop (or, with ``keep_hits``, return only) documents containing ANY
    of ``patterns`` verbatim. Case-sensitive; map-only."""
    if not patterns:
        raise ValueError("patterns must be non-empty")
    arr = F.array(*[F.lit(p) for p in patterns])
    hit = F.exists(arr, lambda p: F.contains(F.col("text"), p))
    return corpus.filter(hit if keep_hits else ~hit)
