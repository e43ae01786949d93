"""Fractional benchmark-contamination scoring (the GPT-3 appendix-C /
PaLM §C "dirty fraction" metric): for every corpus document, the share of
its n-grams that also occur in a held-out benchmark set.

Binary decontamination (operators/decontaminate.py) answers "does this
doc touch the benchmark AT ALL" — fine for dropping, but curation
pipelines also want the GRADED signal: a doc quoting one common phrase
is not a doc embedding a whole eval answer key. The standard reports
score contamination as the fraction of a doc's n-grams found in the
benchmark (GPT-3 used 13-grams); thresholds then split clean / partially
dirty / dirty.

Scale shape: benchmark n-gram sets are tiny next to the corpus —
broadcast them; the corpus side is one map-only shingle pass plus ONE
per-doc aggregation keyed on the doc id. The per-shingle membership test
rides the broadcast hash join (JVM, no UDF), so scoring is
scan-dominated at any corpus size. Results are exact integers
(counts + ppm by int64 floor-division) — bit-identical cross-engine.

No analog in the reference engine; training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def contamination_score(corpus: DataFrame, benchmark: DataFrame, n: int = 13) -> DataFrame:
    """Per-document contamination against ``benchmark``'s n-gram set.

    Returns (id, n_shingles, n_contaminated, contamination_ppm) for EVERY
    corpus document — clean docs score 0, fully-quoted docs 1_000_000.
    ``contamination_ppm`` = 1e6 * contaminated / total by int64 floor
    division (exact, order-independent). Shingling follows the repo's
    shingle-family convention (docs shorter than n words contribute their
    whole normalized text as one shingle), so every doc has >= 1 shingle
    and the ratio is always defined.
    """
    from tamer_spark.operators.dedup import shingle_string_rows

    corp = shingle_string_rows(corpus, n=n).dropDuplicates(
        ["doc_id", "s"]
    )
    bench = (
        shingle_string_rows(benchmark, n=n)
        .select("s")
        .distinct()
    )
    # tag membership via a broadcast LEFT join (not a semi join): one pass
    # yields both the total and the contaminated count per doc
    tagged = corp.join(
        F.broadcast(bench.withColumn("_hit", F.lit(1))), "s", "left"
    )
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("_hit").alias("n_contaminated"),
        (F.lit(1_000_000) * F.count("_hit"))
        .cast("long")
        .alias("_num"),
    ).select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.expr("_num div n_shingles").alias("contamination_ppm"),
    )
