"""Stable, cross-engine, cross-run hash expressions.

The reference needs hashes that are consistent across JVM runs (murmur3 /
byteswap, core/src/main/scala/tamer/Hashable.scala:28-47) because state
identity depends on them. We need the stronger property *cross-engine*
determinism (Spark == DuckDB oracle == any future runtime), so everything
bottoms out in md5, interpreted as integers.

``stable_hash64`` is JVM-side only (md5 + conv — whole-stage codegen, no
Python), so it's safe in 100 TB hot paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: permutation-hash modulus. Keeps a*(h%p)+b inside
# int64 (a,b < p < 2^31; (h%p)*a < 2^62).
MERSENNE_P = 2_147_483_647


def stable_hash64(col: Column) -> Column:
    """First 15 hex chars of md5 as a non-negative int64 (< 2^60).

    DuckDB equivalent: ``('0x' || substr(md5(x), 1, 15))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def stable_hash64_sql(col: str) -> str:
    """SQL fragment twin of ``stable_hash64`` (one-parse construction, r14):
    parses to the identical expression tree."""
    return f"CAST(conv(substring(md5({col}), 1, 15), 16, 10) AS BIGINT)"


def sign_rows(tag: str, seed: int, rows: int, cols: int) -> list[list[float]]:
    """±1 matrix rows from sha256 parity of ``'{tag}-{seed}-{row}-{col}'``
    — THE single derivation behind the LSH hyperplanes ('lsh'), the
    random-projection matrix ('rp'), and their SQL oracle generators.
    Derived, not sampled: no RNG state, bit-identical in any
    reimplementation. Keep every consumer on this helper — a drift in the
    prefix format, digest byte, or parity polarity in ONE copy silently
    breaks operator↔oracle bit-equality."""
    import hashlib

    return [
        [
            1.0 if hashlib.sha256(f"{tag}-{seed}-{r}-{c}".encode()).digest()[0] % 2 else -1.0
            for c in range(cols)
        ]
        for r in range(rows)
    ]


def minhash_coefficients(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from a counter + seed, no RNG state.

    Derived via python's stdlib ``hashlib`` so coefficients are identical in
    the Spark plan and in generated oracle SQL.
    """
    import hashlib

    out = []
    for i in range(k):
        d = hashlib.sha256(f"minhash-{seed}-{i}".encode()).digest()
        a = (int.from_bytes(d[:8], "big") % (MERSENNE_P - 1)) + 1  # a != 0
        b = int.from_bytes(d[8:16], "big") % MERSENNE_P
        out.append((a, b))
    return out
