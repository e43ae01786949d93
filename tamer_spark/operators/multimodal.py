"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design for 100 TB multimodal corpora:

- media lives in BINARY columns (or pointers to object-store keys when blobs
  exceed row-group budgets), with typed metadata columns alongside
  (``media_type``, ``width/height/duration``, ``codec``),
- per-blob stages run as Arrow-batched ``mapInPandas``: the plumbing
  (schemas, batch shapes, partitioning) is real Spark; the codec call is a
  seam,
- the actual image decoders (PIL, ffmpeg) are NOT in this environment, so
  the perceptual hash runs ``fake_pixelizer``, a deterministic stand-in
  for the codec, so pipelines and tests exercise the full
  distributed path.

At scale, partition count is the lever: ``spark.sql.files.maxPartitionBytes``
bounds the bytes per task, and a ``repartition(n)`` before the decode stage
sets decode parallelism independent of upstream file layout.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def binary_stats(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """Byte length + sha256 per blob via Arrow-batched mapInPandas.

    The reference pattern for any per-blob Python stage: iterate Arrow
    batches, vectorize inside the batch, never row-at-a-time UDFs.
    """

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": pdf[binary_col].map(len).astype("int64"),
                    "sha256_hex": pdf[binary_col].map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                }
            )

    return df.select(id_col, binary_col).mapInPandas(stats, f"{id_col} long, n_bytes long, sha256_hex string")


def fake_pixelizer(blob: bytes) -> list[int]:
    """Deterministic stand-in for decode-and-downscale-to-grayscale: derives
    64 pseudo pixel intensities (an 8×8 grid) (0..255) from the content hash, with the
    LOCALITY a perceptual hash needs to be meaningful in tests — blobs
    sharing a prefix produce mostly-equal pixel arrays (each 16-byte block
    of the blob perturbs only its own region of the pixel grid)."""
    base = hashlib.sha256(b"phash-base").digest() * 2
    px = [base[i] for i in range(64)]
    for block_no in range(0, len(blob), 16):
        h = hashlib.sha256(bytes(blob[block_no : block_no + 16])).digest()
        region = (block_no // 16) % 8
        for j in range(8):
            px[region * 8 + j] = h[j]
    return px


def phash_images(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """Perceptual average-hash over image blobs: decode+downscale to
    64 grayscale pixels (``fake_pixelizer``; a PIL-based 8×8 grayscale
    resize replaces it where codecs exist), then bit i = pixel_i > mean. Near-identical
    images differ in few bits; hamming distance is the similarity metric.

    Arrow-batched ``mapInPandas``, numpy-vectorized across the batch (one
    DataFrame op per batch, never per-row Python in the hot loop beyond
    the pluggable decode itself). Returns (id, phash int64).
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            px = np.array([fake_pixelizer(bytes(b)) for b in pdf[binary_col]], dtype=np.float64)
            if len(px) == 0:
                yield pd.DataFrame({id_col: pdf[id_col], "phash": pd.Series([], dtype="int64")})
                continue
            above = px > px.mean(axis=1, keepdims=True)
            weights = (1 << np.arange(64, dtype=np.uint64))
            hashes = (above.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "phash": hashes})

    return df.select(id_col, binary_col).mapInPandas(run, f"{id_col} long, phash long")


def dedup_images_by_phash(
    hashes: DataFrame,
    id_col: str = "media_id",
    max_distance: int = 0,
    bands: int = 4,
    bits: int = 64,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Image dedup over perceptual hashes, exact or hamming-banded.

    ``max_distance=0``: exact-hash dedup — ONE shuffle on the 8-byte hash,
    keep-min-id per hash value (the dedup_exact cost shape). Returns
    (id, keep_id).

    ``max_distance>0``: banded hamming LSH over the bit string — split the
    ``bits``-bit hash into ``bands`` contiguous bands; two hashes within
    hamming distance d < bands must agree on at least one full band
    (pigeonhole), so candidates are a (band_id, band_value) equi-join —
    bucket ids only, never all pairs — verified with
    ``bit_count(a XOR b) <= max_distance`` (exact, JVM-side). Returns
    candidate pairs (id_a < id_b, hamming). The pigeonhole guarantee needs
    ``max_distance < bands``; a larger distance lowers recall (documented
    LSH trade, same contract as minhash banding).

    ``max_bucket``: hot-bucket skew guard — a boilerplate band value (e.g.
    a monochrome thumbnail family) would make the (band_id, band_val)
    self-join quadratic in that bucket. Each bucket deterministically
    retains at most ``max_bucket`` rows, ranked by
    (stable_hash64(id), id) — a pseudo-random, engine-independent sample,
    the same contract as similarity.py's ``_cap_bucket_candidates`` and
    text.py's ``max_posting``. Pairs beyond the cap in a degenerate bucket
    are unreachable (bounded-recall trade, docs/SCALING.md); ``None``
    disables the guard (exact banded semantics).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tamer_spark.functions.hashing import stable_hash64

    if max_distance == 0:
        keep = hashes.groupBy("phash").agg(F.min(id_col).alias("keep_id"))
        return hashes.join(keep, "phash").select(id_col, "keep_id")
    width = bits // bands
    mask = (1 << width) - 1
    banded = hashes.select(
        id_col,
        "phash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.shiftrightunsigned(F.col("phash"), b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("band_val"),
                )
                for b in range(bands)
            ])
        ).alias("bd"),
    ).select(id_col, "phash", F.col("bd.band_id").alias("band_id"), F.col("bd.band_val").alias("band_val"))
    if max_bucket is not None:
        # the cap window shuffles on (band_id, band_val) — the same key the
        # candidate join hashes on, so the exchange is reused, not added
        wcap = Window.partitionBy("band_id", "band_val").orderBy(
            stable_hash64(F.col(id_col).cast("string")), id_col
        )
        banded = (
            banded.withColumn("_bslot", F.row_number().over(wcap))
            .filter(F.col("_bslot") <= max_bucket)
            .drop("_bslot")
        )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("phash").alias("ha"), "band_id", "band_val"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("phash").alias("hb"), "band_id", "band_val"
    )
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )
