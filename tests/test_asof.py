"""As-of join directional semantics vs an exhaustive Python reference:
backward (latest <=), forward (earliest >=), nearest (min |delta|, ties
backward), inclusive equal-time matching, per-key isolation, unmatched
rows null."""

import pytest

from tamer_spark.operators.asof import asof_join

LEFT = [  # (key, t, event)
    (1, 10, "a"), (1, 20, "b"), (1, 25, "c"),
    (2, 5, "d"),
    (3, 50, "e"),  # key with no right rows at all
]
RIGHT = [  # (key, t, px)
    (1, 8, 100), (1, 20, 200), (1, 30, 300),
    (2, 7, 400),
]


def _ref(direction):
    out = {}
    for k, t, ev in LEFT:
        cands = [(rt, px) for rk, rt, px in RIGHT if rk == k]
        back = max(((rt, px) for rt, px in cands if rt <= t), default=None)
        fwd = min(((rt, px) for rt, px in cands if rt >= t), default=None)
        if direction == "backward":
            pick = back
        elif direction == "forward":
            pick = fwd
        else:
            if back is None or (fwd is not None and (fwd[0] - t) < (t - back[0])):
                pick = fwd
            else:
                pick = back
        out[ev] = pick[1] if pick else None
    return out


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(LEFT, "k long, t long, ev string")
    right = spark.createDataFrame(RIGHT, "k long, t long, px long")
    return left, right


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_matches_reference(spark, frames, direction):
    left, right = frames
    got = {
        r.ev: r.px
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="t",
            right_cols=["px"], direction=direction,
        ).collect()
    }
    assert got == _ref(direction), direction


def test_equal_time_is_inclusive_both_directions(spark, frames):
    left, right = frames
    # left (1, 20) has a right row at exactly 20 -> matched in both modes
    for direction in ("backward", "forward"):
        got = {
            r.ev: r.px
            for r in asof_join(
                left, right, on="k", left_time="t", right_time="t",
                right_cols=["px"], direction=direction,
            ).collect()
        }
        assert got["b"] == 200, direction


def test_unknown_direction_rejected(spark, frames):
    left, right = frames
    with pytest.raises(ValueError):
        asof_join(left, right, on="k", left_time="t", right_time="t",
                  direction="sideways")


def test_all_directions_share_one_shuffle(spark, frames):
    from tamer_spark.plans import plan_shape

    left, right = frames
    for direction in ("backward", "forward", "nearest"):
        df = asof_join(left, right, on="k", left_time="t", right_time="t",
                       right_cols=["px"], direction=direction)
        assert plan_shape(df).shuffles == 1, direction


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_randomized_data_matches_reference(spark, seed):
    """Seeded random corpora (duplicate times, sparse keys, unmatched rows)
    against the exhaustive reference, all three directions."""
    import random

    rng = random.Random(seed)
    left = [(rng.randint(1, 4), rng.randint(0, 50), f"L{i}") for i in range(60)]
    right_raw = [(rng.randint(1, 4), rng.randint(0, 50), rng.randint(1, 999)) for _ in range(40)]
    # right side must be unique per (key, time) — the operator's contract
    right = list({(k, t): (k, t, v) for k, t, v in right_raw}.values())

    def ref(direction):
        out = {}
        for k, t, ev in left:
            cands = [(rt, v) for rk, rt, v in right if rk == k]
            back = max(((rt, v) for rt, v in cands if rt <= t), default=None)
            fwd = min(((rt, v) for rt, v in cands if rt >= t), default=None)
            if direction == "backward":
                pick = back
            elif direction == "forward":
                pick = fwd
            elif back is None or (fwd is not None and (fwd[0] - t) < (t - back[0])):
                pick = fwd
            else:
                pick = back
            out[ev] = pick[1] if pick else None
        return out

    ldf = spark.createDataFrame(left, "k long, t long, ev string")
    rdf = spark.createDataFrame(right, "k long, t long, px long")
    for direction in ("backward", "forward", "nearest"):
        got = {
            r.ev: r.px
            for r in asof_join(
                ldf, rdf, on="k", left_time="t", right_time="t",
                right_cols=["px"], direction=direction,
            ).collect()
        }
        assert got == ref(direction), (seed, direction)
