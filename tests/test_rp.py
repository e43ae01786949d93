"""Random projection: exactness vs driver recompute, map-only plan, frozen-
signs epoch posture, and the JL guarantee it actually makes (norm/distance
concentration — NOT rank recall, which uniform-noise fixtures destroy for
any distance-preserving sketch; see the pq recall note)."""

from __future__ import annotations

import statistics

from pyspark.sql import functions as F

from tamer_spark.operators.rp import random_projection, rp_signs
from tamer_spark.plans import plan_shape
from tests.conftest import SF_DIR

OUT, DIM, SEED = 16, 64, 42


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_rp_signs_derived_and_balanced():
    s = rp_signs(OUT, DIM, SEED)
    assert len(s) == OUT and all(len(r) == DIM for r in s)
    assert all(v in (1.0, -1.0) for r in s for v in r)
    assert s == rp_signs(OUT, DIM, SEED)  # derived, not sampled
    assert s != rp_signs(OUT, DIM, 7)  # the seed reaches the matrix
    # sha256 parity is unbiased: the 1024-entry matrix is roughly balanced
    plus = sum(1 for r in s for v in r if v == 1.0)
    assert 400 < plus < 624


def test_rp_projection_matches_driver_recompute(spark):
    """Every projected coordinate equals the exact integer sign-sum of the
    quantized input — no float drift at any coordinate."""
    emb = _emb(spark)
    signs = rp_signs(OUT, DIM, SEED)
    got = {r.vec_id: list(r.pvec) for r in random_projection(emb, signs).collect()}
    for row in emb.collect():
        qv = [round(x * 1000) for x in row.embedding]
        expect = [float(sum(int(s) * v for s, v in zip(srow, qv))) for srow in signs]
        assert got[row.vec_id] == expect


def test_rp_is_map_only(spark):
    """Projection under frozen signs adds NO exchange — the per-epoch hot
    path (same contract as pq_encode / sq_encode)."""
    shape = plan_shape(random_projection(_emb(spark), rp_signs(OUT, DIM, SEED)))
    assert not shape.count("Exchange", "BroadcastExchange"), shape


def test_rp_frozen_signs_epoch_union_equals_all_at_once(spark):
    emb = _emb(spark)
    signs = rp_signs(OUT, DIM, SEED)
    a = random_projection(emb.filter(F.col("vec_id") % 2 == 0), signs)
    b = random_projection(emb.filter(F.col("vec_id") % 2 == 1), signs)
    union = sorted((r.vec_id, tuple(r.pvec)) for r in a.unionByName(b).collect())
    allatonce = sorted(
        (r.vec_id, tuple(r.pvec)) for r in random_projection(emb, signs).collect()
    )
    assert union == allatonce


def test_rp_jl_norm_and_distance_concentration(spark):
    """The JL contract: E[‖Pv‖²] = out_dim·‖v‖² for ±1 sign matrices, with
    per-vector concentration. Pins: every vector's norm ratio inside a
    generous [0.3, 2.5] band, the mean within 15 % of 1, and the same for
    a sample of pairwise DIFFERENCE vectors (distances, the thing JL
    actually preserves — rank recall on iid noise is meaningless and is
    deliberately not pinned)."""
    emb = _emb(spark)
    signs = rp_signs(OUT, DIM, SEED)
    qv = {r.vec_id: [round(x * 1000) for x in r.embedding] for r in emb.collect()}
    pv = {r.vec_id: list(r.pvec) for r in random_projection(emb, signs).collect()}

    def ratio(vid_a, vid_b=None):
        if vid_b is None:
            v = qv[vid_a]
            p = pv[vid_a]
        else:
            v = [a - b for a, b in zip(qv[vid_a], qv[vid_b])]
            p = [a - b for a, b in zip(pv[vid_a], pv[vid_b])]
        n2 = sum(x * x for x in v)
        pn2 = sum(x * x for x in p)
        return pn2 / (OUT * n2)

    # individual ratios are ~χ²(out_dim)/out_dim — heavy-tailed at
    # out_dim=16 (measured [0.21, 2.69] over the 500-vector fixture), so
    # the per-vector band is wide while the MEAN pin is tight (measured
    # 1.0002: the unbiasedness is exact in expectation)
    norm_ratios = [ratio(v) for v in qv]
    assert all(0.1 < r < 4.0 for r in norm_ratios), (min(norm_ratios), max(norm_ratios))
    assert 0.9 < statistics.mean(norm_ratios) < 1.1
    ids = sorted(qv)[:40]
    pair_ratios = [ratio(a, b) for a, b in zip(ids, ids[1:])]
    assert all(0.1 < r < 4.0 for r in pair_ratios), (min(pair_ratios), max(pair_ratios))
    assert 0.8 < statistics.mean(pair_ratios) < 1.2
