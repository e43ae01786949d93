"""Corpus datasheet: the per-slice summary a dataset card publishes
("Datasheets for Datasets", Gebru et al. 2021) — doc counts, char/token
volume, and exact-duplicate incidence per (source, language) slice, in
ONE logical pass.

100 TB shape: token/char stats are map-only expressions riding the scan;
duplicate incidence needs the content-digest cardinality, so the pass
shuffles (digest ≈ 16 B/doc) once to count copies, then aggregates to the
slice keys (tiny: |sources| × |langs| rows, partial-aggregated map-side).
No driver-side state; the result IS the datasheet table.
No analog in the reference engine (tamer has no text/retrieval
operators); part of the training-data-pipeline extension surface.

"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_datasheet(docs: DataFrame) -> DataFrame:
    """Per-(source, lang) slice: n_docs, total_chars, total_tokens (whitespace
    tokens over normalized text), dup_docs (docs whose normalized content
    digest occurs more than once CORPUS-WIDE — a doc duplicated across
    slices counts in each slice holding a copy)."""
    from tamer_spark.operators.dedup import normalize_text

    d = docs.select(
        "source",
        "lang",
        F.length(F.col("text")).cast("long").alias("_nc"),
        F.size(F.split(normalize_text(F.col("text")), " ")).cast("long").alias("_nt"),
        F.md5(normalize_text(F.col("text"))).alias("_dg"),
    )
    copies = d.groupBy("_dg").agg(F.count(F.lit(1)).alias("_copies"))
    return (
        d.join(copies, "_dg")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nc").alias("total_chars"),
            F.sum("_nt").alias("total_tokens"),
            F.sum(F.when(F.col("_copies") > 1, 1).otherwise(0))
            .cast("long")
            .alias("dup_docs"),
        )
    )

