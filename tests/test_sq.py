"""Scalar quantization (SQ8): encode exactness, pack round-trip, frozen-bounds
epoch posture, clamp semantics, map-only plan, recall vs exact L2."""

from __future__ import annotations

from pyspark.sql import functions as F

from tamer_spark.operators.sq import (
    pack_sq_codes,
    sq_encode,
    sq_search,
    sq_train,
)
from tamer_spark.plans import plan_shape
from tests.conftest import SF_DIR


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_sq_train_bounds_match_driver_recompute(spark):
    """Per-dimension (min, max) of the quantized corpus, driver-verified —
    and deterministic (two runs identical)."""
    emb = _emb(spark)
    bounds = sq_train(emb)
    vecs = [[round(x * 1000) for x in r.embedding] for r in emb.collect()]
    dim = len(vecs[0])
    assert len(bounds) == dim
    for t in range(dim):
        col = [v[t] for v in vecs]
        assert bounds[t] == (min(col), max(col))
    assert sq_train(emb) == bounds


def test_sq_encode_matches_integer_division(spark):
    """code = ((v - mn) * 255) // span exactly — the double-floor formulation
    in the operator must equal pure integer division (the cross-engine
    exactness claim in the module docstring), and full-corpus bounds make
    the clamp a no-op."""
    emb = _emb(spark)
    bounds = sq_train(emb)
    rows = sq_encode(emb, bounds).collect()
    vecs = {r.vec_id: [round(x * 1000) for x in r.embedding] for r in emb.collect()}
    for r in rows:
        v = vecs[r.vec_id]
        for t, code in enumerate(r.codes):
            mn, mx = bounds[t]
            expect = ((v[t] - mn) * 255) // (mx - mn) if mx > mn else 0
            assert code == expect, (r.vec_id, t, code, expect)
            assert 0 <= code <= 255


def test_sq_encode_is_map_only(spark):
    """Encoding against frozen bounds must add NO exchange — it is the
    per-epoch hot path (same contract as pq_encode / ivf_append)."""
    emb = _emb(spark)
    bounds = sq_train(emb)
    shape = plan_shape(sq_encode(emb, bounds))
    assert not shape.count("Exchange", "BroadcastExchange"), shape


def test_sq_frozen_bounds_epoch_union_equals_all_at_once(spark):
    """Two epoch batches encoded separately against frozen bounds equal
    encoding the union — history is never re-touched."""
    emb = _emb(spark)
    bounds = sq_train(emb)
    a = sq_encode(emb.filter(F.col("vec_id") % 2 == 0), bounds)
    b = sq_encode(emb.filter(F.col("vec_id") % 2 == 1), bounds)
    union = sorted((r.vec_id, tuple(r.codes)) for r in a.unionByName(b).collect())
    allatonce = sorted((r.vec_id, tuple(r.codes)) for r in sq_encode(emb, bounds).collect())
    assert union == allatonce


def test_sq_clamp_binds_only_under_frozen_bounds(spark):
    """An out-of-range value (possible only when encoding a NEW epoch against
    frozen historical bounds) clamps to [0, 255] instead of emitting an
    un-decodable code; a degenerate (span 0) dimension encodes as 0 and
    reconstructs its exact value."""
    df = spark.createDataFrame(
        [(0, [0.0, 7.0]), (1, [1.0, 7.0])], "vec_id long, embedding array<double>"
    )
    bounds = sq_train(df)
    assert bounds == [(0, 1000), (7000, 7000)]
    # epoch batch with values outside [0, 1000] on dim 0
    epoch = spark.createDataFrame(
        [(2, [-5.0, 7.0]), (3, [9.0, 7.0])], "vec_id long, embedding array<double>"
    )
    codes = {r.vec_id: list(r.codes) for r in sq_encode(epoch, bounds).collect()}
    assert codes[2] == [0, 0]  # below range → 0; degenerate dim → 0
    assert codes[3] == [255, 0]  # above range → 255


def test_sq_search_distances_exact_and_topk_matches_driver(spark):
    """Every reported approx_dist equals the driver-side integer recompute of
    Σ (recon255 - 255·q)², and the distributed top-5 equals the driver-side
    top-5 under the (dist, id) total order."""
    emb = _emb(spark)
    bounds = sq_train(emb)
    coded = sq_encode(emb, bounds)
    queries = emb.filter(F.col("vec_id") < 10)
    got = sq_search(coded, bounds, queries, topk=5).collect()

    vecs = {r.vec_id: [round(x * 1000) for x in r.embedding] for r in emb.collect()}
    codes = {r.vec_id: list(r.codes) for r in coded.collect()}

    def recon255(vid):
        return [
            mn * 255 + c * (mx - mn)
            for c, (mn, mx) in zip(codes[vid], bounds)
        ]

    def dist(qid, vid):
        q = vecs[qid]
        r = recon255(vid)
        return sum((rv - 255 * qv) ** 2 for rv, qv in zip(r, q))

    by_q: dict[int, list] = {}
    for row in got:
        assert row.approx_dist == dist(row.query_id, row.neighbor_id)
        by_q.setdefault(row.query_id, []).append((row.rank, row.neighbor_id))
    for qid in range(10):
        expect = sorted(
            (dist(qid, vid), vid) for vid in vecs if vid != qid
        )[:5]
        assert sorted(by_q[qid]) == [
            (i + 1, vid) for i, (_, vid) in enumerate(expect)
        ]


def test_sq_recall_vs_exact_l2(spark):
    """SQ8 is the near-exact compression tier: per-dimension 8-bit resolution
    loses almost nothing even on uniform-noise fixtures (unlike PQ, whose
    subspace codebooks need structure) — measured 0.98 at sf0.001; floor set
    with slack."""
    emb = _emb(spark)
    bounds = sq_train(emb)
    coded = sq_encode(emb, bounds)
    queries = emb.filter(F.col("vec_id") < 10)
    got = sq_search(coded, bounds, queries, topk=5).collect()
    vecs = {r.vec_id: [round(x * 1000) for x in r.embedding] for r in emb.collect()}
    hits = 0
    for qid in range(10):
        q = vecs[qid]
        exact = {
            vid
            for _, vid in sorted(
                (sum((a - b) ** 2 for a, b in zip(q, v)), vid)
                for vid, v in vecs.items()
                if vid != qid
            )[:5]
        }
        hits += sum(1 for r in got if r.query_id == qid and r.neighbor_id in exact)
    assert hits / 50 >= 0.9


def _unpack(words, dim: int, bits: int = 8) -> list[int]:
    """pack_sq_codes' layout read back on the driver: code ``t`` sits in
    slot ``(cpw-1) - (t % cpw)`` of word ``t // cpw``."""
    cpw, mask = 64 // bits, (1 << bits) - 1
    return [(words[t // cpw] >> ((cpw - 1 - t % cpw) * bits)) & mask for t in range(dim)]


def test_sq_pack_roundtrip_including_ragged_dim(spark):
    """pack → unpack is the identity, for dim % 8 == 0 (the fixture's 64)
    AND a ragged dim (5) where the last word zero-pads."""
    emb = _emb(spark)
    bounds = sq_train(emb)
    coded = sq_encode(emb, bounds)
    packed = {r.vec_id: _unpack(r.packed, 64) for r in pack_sq_codes(coded, 64).collect()}
    assert packed == {r.vec_id: list(r.codes) for r in coded.collect()}
    ragged = spark.createDataFrame(
        [(0, [0, 255, 7, 128, 1]), (1, [255, 0, 0, 0, 254])],
        "vec_id long, codes array<long>",
    )
    packed = pack_sq_codes(ragged, 5)
    prow = {r.vec_id: list(r.packed) for r in packed.collect()}
    assert all(len(p) == 1 for p in prow.values())  # 5 codes fit one word
    back = {v: _unpack(p, 5) for v, p in prow.items()}
    assert back == {0: [0, 255, 7, 128, 1], 1: [255, 0, 0, 0, 254]}


def test_sq_pack_is_map_only(spark):
    emb = _emb(spark)
    bounds = sq_train(emb)
    coded = sq_encode(emb, bounds)
    shape = plan_shape(pack_sq_codes(coded, 64))
    assert not shape.count("Exchange", "BroadcastExchange"), shape


def test_sq_search_corpus_never_shuffles_before_rank(spark):
    """The only exchange in the search plan is the per-query window rank —
    the corpus side reconstructs map-side and joins a BROADCAST query set
    (no shuffle join, no corpus exchange before the window)."""
    emb = _emb(spark)
    bounds = sq_train(emb)
    coded = sq_encode(emb, bounds)
    shape = plan_shape(sq_search(coded, bounds, emb.filter(F.col("vec_id") < 10), topk=5))
    assert shape.count("BroadcastNestedLoopJoin", "BroadcastExchange"), shape
    # exactly one shuffle exchange: the window's hashpartitioning(query_id)
    keys = shape.hash_keys
    assert len(keys) == 1 and keys[0].startswith("hashpartitioning(query_id"), shape


def test_sq4_levels_15_recall_and_exactness(spark):
    """The SQ4 tier (levels=15, 4 bits/dim, 8× compression): every distance
    still matches the driver-side integer recompute at the ×15 scale, and
    recall degrades gracefully (coarser bins) but stays well above PQ's
    noise-fixture collapse — measured 0.68 at sf0.001 (vs SQ8's 0.98 and
    PQ's ~0.12; the monotone compression↔recall ladder)."""
    emb = _emb(spark)
    bounds = sq_train(emb)
    coded = sq_encode(emb, bounds, levels=15)
    mx = coded.select(F.max(F.array_max("codes")).alias("m")).first().m
    assert mx <= 15
    got = sq_search(coded, bounds, emb.filter(F.col("vec_id") < 10), topk=5, levels=15).collect()
    vecs = {r.vec_id: [round(x * 1000) for x in r.embedding] for r in emb.collect()}
    codes = {r.vec_id: list(r.codes) for r in coded.collect()}

    def dist(qid, vid):
        r = [mn * 15 + c * (mx_ - mn) for c, (mn, mx_) in zip(codes[vid], bounds)]
        return sum((rv - 15 * qv) ** 2 for rv, qv in zip(r, vecs[qid]))

    hits = 0
    for row in got:
        assert row.approx_dist == dist(row.query_id, row.neighbor_id)
    for qid in range(10):
        exact = {
            vid
            for _, vid in sorted(
                (sum((a - b) ** 2 for a, b in zip(vecs[qid], v)), vid)
                for vid, v in vecs.items()
                if vid != qid
            )[:5]
        }
        hits += sum(1 for r in got if r.query_id == qid and r.neighbor_id in exact)
    assert hits / 50 >= 0.6


def test_sq4_nibble_pack_roundtrip(spark):
    """bits=4 packs 16 codes/word: 64 dims → 4 words; round-trip exact."""
    emb = _emb(spark)
    bounds = sq_train(emb)
    coded = sq_encode(emb, bounds, levels=15)
    packed = pack_sq_codes(coded, 64, bits=4)
    assert all(len(r.packed) == 4 for r in packed.limit(5).collect())
    back = {r.vec_id: _unpack(r.packed, 64, bits=4) for r in packed.collect()}
    assert back == {r.vec_id: list(r.codes) for r in coded.collect()}
