"""Context-window text chunking as JVM array expressions.

Training-data pipelines chunk documents into fixed token budgets before
tokenization: one doc in, many chunks out. ``chunk_text_expr`` builds the
chunks as an array column (codegen'd JVM array math, no Python worker);
pair it with ``posexplode`` for (chunk_id, chunk) rows. Words-per-chunk is
the budget knob. tests/test_bucketing_chunking.py pins it against a
pure-Python reference, and the SQL oracle pins it through the gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def chunk_text_expr(text: Column, words_per_chunk: int = 50) -> Column:
    """JVM-side chunking: array of space-joined word slices (codegen hot path).

    Returns array<string>; pair with posexplode for (chunk_id, chunk) rows.
    """
    from tamer_spark.operators.dedup import normalize_text

    ws = F.split(normalize_text(text), " ")
    n_chunks = F.ceil(F.size(ws) / F.lit(float(words_per_chunk))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(ws, i * words_per_chunk + 1, words_per_chunk)),
    )


def chunk_text_overlap_expr(
    text: Column, words_per_chunk: int = 50, overlap: int = 10
) -> Column:
    """Sliding-window chunking with overlap — the RAG-ingestion shape
    (retrieval chunks overlap so a fact straddling a boundary is whole in
    at least one chunk; LangChain/LlamaIndex-style splitters default to
    10-20% overlap). Chunk ``i`` covers words
    ``[i·stride + 1, i·stride + words_per_chunk]`` with
    ``stride = words_per_chunk − overlap``; the last chunk may be short;
    a doc of ≤ words_per_chunk words is one chunk.

    Chunk count is ``(n − wpc + stride − 1) div stride + 1`` — the
    double-division-then-truncate below is exact because the numerator is
    a word count (< 2^53, exactly representable, and IEEE division of
    exact operands rounds an integer-valued quotient to itself). The
    whole expression is codegen'd JVM array math (zero shuffles), and
    ``overlap = 0`` degrades to ``chunk_text_expr`` (pinned in tests)."""
    if not 0 <= overlap < words_per_chunk:
        raise ValueError(
            f"overlap must be in [0, words_per_chunk): got {overlap} vs {words_per_chunk}"
        )
    from tamer_spark.operators.dedup import normalize_text

    stride = words_per_chunk - overlap
    ws = F.split(normalize_text(text), " ")
    n = F.size(ws).cast("long")
    # integer ceil-div: (n - wpc + stride - 1) div stride — positive in
    # the branch where it's used, so truncation == floor (exactness per
    # the docstring note)
    extra = ((n - F.lit(words_per_chunk) + F.lit(stride - 1)) / F.lit(stride)).cast(
        "long"
    )
    n_chunks = F.when(n <= words_per_chunk, F.lit(1).cast("long")).otherwise(extra + 1)
    return F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(ws, (i * stride + 1).cast("int"), words_per_chunk)
        ),
    )
