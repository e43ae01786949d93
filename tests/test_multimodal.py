"""Multimodal binary-column plumbing: Arrow-batched per-blob stages with
a deterministic fake codec; perceptual-hash dedup."""

from __future__ import annotations

import hashlib

import pytest

from tamer_spark.operators.multimodal import binary_stats


@pytest.fixture()
def blobs(spark):
    return spark.createDataFrame(
        [(1, b"tiny-blob"), (2, b"x" * 1000), (3, bytes(range(256)))],
        "media_id long, payload binary",
    )


def test_binary_stats_matches_hashlib(spark, blobs):
    rows = {r.media_id: r for r in binary_stats(blobs, "payload", "media_id").collect()}
    assert rows[1].n_bytes == 9
    assert rows[1].sha256_hex == hashlib.sha256(b"tiny-blob").hexdigest()
    assert rows[3].n_bytes == 256


def test_phash_deterministic_and_locality(spark):
    from tamer_spark.operators.multimodal import phash_images

    blob_a = bytes(range(200))
    blob_b = bytes(range(200))  # identical content
    blob_c = blob_a[:184] + bytes([255] * 16)  # one 16-byte block differs
    blob_d = bytes(reversed(range(200)))  # unrelated
    df = spark.createDataFrame(
        [(1, blob_a), (2, blob_b), (3, blob_c), (4, blob_d)],
        "media_id long, payload binary",
    )
    h = {r.media_id: r.phash for r in phash_images(df, "payload", "media_id").collect()}
    assert h[1] == h[2]  # identical content, identical hash
    ham_13 = bin(h[1] ^ h[3]).count("1")
    ham_14 = bin(h[1] ^ h[4]).count("1")
    assert ham_13 < ham_14, (ham_13, ham_14)  # locality: near-dup closer
    assert ham_13 <= 16


def test_phash_exact_dedup_keeps_min_id(spark):
    from tamer_spark.operators.multimodal import dedup_images_by_phash, phash_images

    blob = b"same image bytes" * 8
    df = spark.createDataFrame(
        [(5, blob), (9, blob), (2, blob), (7, b"different thing" * 9)],
        "media_id long, payload binary",
    )
    hashes = phash_images(df, "payload", "media_id")
    keep = {r.media_id: r.keep_id for r in dedup_images_by_phash(hashes).collect()}
    assert keep[5] == keep[9] == keep[2] == 2
    assert keep[7] == 7


def test_phash_banded_hamming_candidates(spark):
    from pyspark.sql import functions as F

    from tamer_spark.operators.multimodal import dedup_images_by_phash

    # crafted hashes: b differs from a in 2 bits (same low band untouched),
    # c is far from both
    a, b = 0x0F0F0F0F0F0F0F0F, 0x0F0F0F0F0F0F0F0C  # 2 low bits differ
    c = 0x123456789ABCDEF0
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "media_id long, phash long"
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup_images_by_phash(df, max_distance=3).collect()
    }
    assert pairs == {(1, 2): 2}
    # pigeonhole: distance < bands guarantees recall — same pair found even
    # when only one band agrees
    d = a ^ 0b0111  # 3 bits flipped, all in the lowest band
    df2 = spark.createDataFrame([(1, a), (2, d)], "media_id long, phash long")
    got = dedup_images_by_phash(df2, max_distance=3).collect()
    assert len(got) == 1 and got[0].hamming == 3


def test_phash_banded_hot_bucket_cap_bounds_candidates(spark):
    """Degenerate corpus — every image identical (e.g. monochrome
    thumbnails), so every (band_id, band_val) bucket holds ALL rows. The
    max_bucket guard must bound the candidate join to C(cap, 2) pairs of a
    deterministic hash-ranked retained set; uncapped it is C(n, 2)."""
    import hashlib

    from tamer_spark.operators.multimodal import dedup_images_by_phash

    n, cap = 50, 10
    df = spark.createDataFrame(
        [(i, 0x0F0F0F0F0F0F0F0F) for i in range(n)], "media_id long, phash long"
    )
    got = dedup_images_by_phash(df, max_distance=3, max_bucket=cap).collect()
    assert len(got) == cap * (cap - 1) // 2
    # retention is the cap-smallest ids by (stable_hash64(str(id)), id) —
    # engine-independent pseudo-random sample, replayed here via hashlib
    expect = set(
        sorted(range(n), key=lambda i: (int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16), i))[:cap]
    )
    assert {r.id_a for r in got} | {r.id_b for r in got} == expect
    # uncapped (None) keeps exact banded semantics
    uncapped = dedup_images_by_phash(df, max_distance=3, max_bucket=None).collect()
    assert len(uncapped) == n * (n - 1) // 2
