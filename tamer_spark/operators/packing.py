"""Sequence packing: lay documents out into fixed-token-budget training rows.

LLM pre-training consumes fixed-length sequences, so the last curation step
is packing variable-length documents into a token budget. Two standard
layouts, both deterministic and engine-independent:

- :func:`pack_offsets` — concat-and-split: documents are concatenated in a
  deterministic per-group order and the token stream is cut every ``budget``
  tokens; a document may span sequences. Pure window arithmetic over a
  running token offset — one shuffle, no Python.
- :func:`pack_greedy` — whole-document packing: documents never split; the
  current bin closes when the next document would overflow the budget, and a
  document larger than the budget gets a bin of its own. The running fill is
  a sequential recurrence (not a prefix sum — a closed bin resets the
  accumulator), so it runs as an Arrow-batched ``applyInPandas`` over pack
  groups; each group packs independently and in parallel.

Scale: both operators key every window / pandas group on ``pack_group``
(document id mod ``groups``), which bounds group size to ~N/groups documents
and makes each operator exactly one shuffle. ``groups`` is the parallelism
knob — at cluster scale set it to a small multiple of total cores so groups
stream through executors; packing quality is unaffected because any group
mix of documents packs to the same ~budget utilization. Group assignment and
intra-group order depend only on document ids, so output is identical on any
engine, run, or input partitioning (the property rand()-based packing lacks).

Reference parity note: the reference engine has no packing operator — this
is part of the training-data suite built on top of its query surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_pack_group(df: DataFrame, groups: int = 8) -> DataFrame:
    """Assign the deterministic pack group: ``id mod groups``.

    Document ids are arbitrary w.r.t. length, so modulo balances groups; for
    adversarial id spaces hash first (functions.hashing.stable_hash64).
    """
    return df.withColumn("pack_group", (F.col("doc_id") % groups).cast("long"))


def pack_offsets(df: DataFrame, budget: int) -> Column:
    """Concat-and-split layout: per-group running offsets and sequence spans.

    Adds ``start_off`` (tokens before this doc in its group's stream),
    ``seq_first``/``seq_last`` (the training-sequence indices this document
    lands in; equal unless the doc straddles a cut). Empty documents occupy
    no tokens and report the sequence the cut position falls in.
    """
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    out = df.withColumn("start_off", start)
    end = F.col("start_off") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1
    return out.withColumn(
        "seq_first", F.floor(F.col("start_off") / budget).cast("long")
    ).withColumn("seq_last", F.floor(end / budget).cast("long"))


def pack_greedy(df: DataFrame, budget: int) -> DataFrame:
    """Whole-document greedy packing: (id, group, tokens, bin_id) rows.

    Within each group, documents are taken in id order; a bin closes when
    adding the next document would exceed ``budget`` (a document larger than
    the budget is alone in its bin). Runs as one ``applyInPandas`` stage —
    the recurrence is per-group-local, so parallelism equals the number of
    groups.
    """
    import pandas as pd

    schema = "doc_id long, pack_group long, n_tokens long, bin_id long"

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        bins = []
        fill = 0
        b = 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fill > 0 and fill + n > budget:
                b += 1
                fill = 0
            fill += n
            bins.append(b)
        pdf = pdf[["doc_id", "pack_group", "n_tokens"]].copy()
        pdf["bin_id"] = bins
        return pdf

    return (
        df.select("doc_id", "pack_group", "n_tokens")
        .groupBy("pack_group")
        .applyInPandas(pack, schema)
    )
