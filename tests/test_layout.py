"""Data-layout tools: manifest-driven compaction."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from tamer_spark.sinks.layout import compact_planned


def _parquet_files(path):
    return [f for f in glob.glob(f"{path}/**/*.parquet", recursive=True)]


def test_compact_small_files(spark, tmp_path):
    p = str(tmp_path / "frag")
    spark.range(100_000).repartition(64).write.parquet(p)
    assert len(_parquet_files(p)) == 64
    compact_planned(spark, p, target_bytes=128 * 1024 * 1024)
    files = _parquet_files(p)
    assert len(files) == 1  # ~1 MB of data → one 128 MB-target file
    assert spark.read.parquet(p).count() == 100_000


# ---------------------------------------------------------------------------
# r13: manifest-driven compaction (plan_compaction / compact_planned)
# ---------------------------------------------------------------------------


def _py_plan(files, target):
    """Python twin of plan_compaction's sorted-sequential-fill rule."""
    out = {}
    by_part = {}
    for path, nbytes, part in files:
        by_part.setdefault(part, []).append((path, nbytes))
    for part, fs in by_part.items():
        fs.sort(key=lambda t: (-t[1], t[0]))
        cum = 0
        for path, nbytes in fs:
            out[path] = cum // target
            cum += nbytes
    return out


def test_plan_compaction_matches_python_reference(spark):
    from tamer_spark.sinks.layout import plan_compaction

    files = [
        ("p1/a", 10, "p1"), ("p1/b", 10, "p1"), ("p1/c", 10, "p1"),
        ("p1/big", 120, "p1"),  # >= target: must land alone in its bin span
        ("p1/d", 7, "p1"),
        ("p2/a", 30, "p2"), ("p2/b", 30, "p2"), ("p2/c", 1, "p2"),
    ]
    df = spark.createDataFrame(files, "path string, bytes long, part string")
    got = {
        r.path: r.bin
        for r in plan_compaction(df, 100, partition_cols=["part"]).collect()
    }
    assert got == _py_plan(files, 100)
    # the oversized file owns bin 0 alone (its span covers the target)
    assert got["p1/big"] == 0
    assert all(b > 0 for p, b in got.items() if p.startswith("p1/") and p != "p1/big")


def test_plan_compaction_deterministic_across_runs_and_input_order(spark):
    from tamer_spark.sinks.layout import plan_compaction

    files = [(f"f{i:03d}", (i * 37) % 50 + 1, f"p{i % 3}") for i in range(60)]
    df1 = spark.createDataFrame(files, "path string, bytes long, part string")
    df2 = spark.createDataFrame(
        list(reversed(files)), "path string, bytes long, part string"
    ).repartition(7)
    m1 = sorted(map(tuple, plan_compaction(df1, 64, ["part"]).collect()))
    m2 = sorted(map(tuple, plan_compaction(df2, 64, ["part"]).collect()))
    assert m1 == m2  # shards-style: same manifest whatever the input layout


def test_plan_compaction_rejects_nonpositive_target(spark):
    import pytest

    from tamer_spark.sinks.layout import plan_compaction

    df = spark.createDataFrame([("a", 1)], "path string, bytes long")
    with pytest.raises(ValueError, match="target_bytes"):
        plan_compaction(df, 0)


def test_compact_planned_roundtrip_merges_small_skips_big(spark, tmp_path):
    from tamer_spark.sinks.layout import compact_planned

    p = str(tmp_path / "tbl")
    # 16 small files + 1 already-big file (written separately so it stays one)
    spark.range(0, 4_000).repartition(16).write.parquet(p)
    spark.range(4_000, 400_000).coalesce(1).write.mode("append").parquet(p)
    before = set(_parquet_files(p))
    assert len(before) == 17
    big = max(before, key=lambda f: __import__("os").path.getsize(f))

    target = __import__("os").path.getsize(big)  # big file ~= one target
    manifest = compact_planned(spark, p, target_bytes=target).collect()

    after = set(_parquet_files(p))
    assert big in after  # right-sized singleton untouched
    assert len(after) < len(before)  # small files merged
    # data intact, exactly once
    got = sorted(r.id for r in spark.read.parquet(p).collect())
    assert got == list(range(400_000))
    # manifest audit: the big file is the only non-rewritten entry
    skipped = [r.path for r in manifest if not r.rewritten]
    assert [s.removeprefix("file:") for s in skipped] == [big]


def test_compact_planned_noop_when_all_right_sized(spark, tmp_path):
    from tamer_spark.sinks.layout import compact_planned

    p = str(tmp_path / "ok")
    spark.range(100_000).coalesce(2).write.parquet(p)
    before = sorted(_parquet_files(p))
    sizes = [__import__("os").path.getsize(f) for f in before]
    manifest = compact_planned(spark, p, target_bytes=min(sizes)).collect()
    assert sorted(_parquet_files(p)) == before  # nothing rewritten on disk
    assert all(not r.rewritten for r in manifest)


def test_compact_partitioned_per_partition_isolation(spark, tmp_path):
    from tamer_spark.sinks.layout import compact_partitioned

    root = str(tmp_path / "ptbl")
    df = spark.range(40_000).withColumn("p", (F.col("id") % 2).cast("string"))
    df.repartition(8).write.partitionBy("p").parquet(root)
    assert len(_parquet_files(root)) == 16  # 8 files per partition
    manifest = compact_partitioned(spark, root, target_bytes=1 << 30).collect()
    # every partition collapses to its own single file — never merged across
    assert sorted({r.partition for r in manifest}) == ["p=0", "p=1"]
    files = _parquet_files(root)
    assert len(files) == 2
    by_part = {f.split("/")[-2] for f in files}
    assert by_part == {"p=0", "p=1"}
    got = spark.read.parquet(root)
    assert got.count() == 40_000
    assert got.filter("p = '0' AND id % 2 <> 0").count() == 0


def test_compact_planned_fails_closed_on_routing_loss(spark, tmp_path, monkeypatch):
    """Fault injection: if the file-routing join ever drops rows (the bug
    class the r13 URI-normalization fix was for), the operator must abort
    BEFORE deleting any original — data intact, tmp cleaned up."""
    import pytest

    from tamer_spark.sinks import layout

    p = str(tmp_path / "tbl")
    spark.range(10_000).repartition(4).write.parquet(p)
    before = sorted(_parquet_files(p))

    real_ifn = layout.F.input_file_name
    monkeypatch.setattr(
        layout.F, "input_file_name", lambda: layout.F.lit("file:///bogus")
    )
    try:
        with pytest.raises(RuntimeError, match="aborting before deleting"):
            layout.compact_planned(spark, p, target_bytes=1 << 30)
    finally:
        monkeypatch.setattr(layout.F, "input_file_name", real_ifn)
    assert sorted(_parquet_files(p)) == before  # originals untouched
    assert not [d for d in __import__("os").listdir(str(tmp_path)) if "compact_tmp" in d]
    assert spark.read.parquet(p).count() == 10_000


# ---------------------------------------------------------------------------
# r14: oversized-file SPLIT leg (plan_splits / compact_planned split routing)
# ---------------------------------------------------------------------------


def _py_split(files, target, split_bytes=None):
    """Python twin of plan_splits over _py_plan's bins."""
    if split_bytes is None:
        split_bytes = 2 * target
    bins = _py_plan(files, target)
    from collections import Counter

    n_in_bin = Counter((p.split("/")[0], b) for p, b in bins.items())
    out = {}
    for path, nbytes, part in files:
        alone = n_in_bin[(part, bins[path])] == 1
        out[path] = (nbytes + target - 1) // target if alone and nbytes > split_bytes else 1
    return out


def test_plan_splits_matches_python_reference(spark):
    from tamer_spark.sinks.layout import plan_compaction, plan_splits

    files = [
        ("p1/a", 10, "p1"), ("p1/b", 10, "p1"),
        ("p1/huge", 450, "p1"),   # 4.5 targets → split into 5
        ("p1/big", 150, "p1"),    # 1.5 targets, alone in bin but ≤ 2× → keep
        ("p2/a", 60, "p2"), ("p2/b", 60, "p2"),  # merged bin → never split
    ]
    df = spark.createDataFrame(files, "path string, bytes long, part string")
    m = plan_splits(
        plan_compaction(df, 100, partition_cols=["part"]), 100, partition_cols=["part"]
    )
    got = {r.path: r.split_k for r in m.collect()}
    assert got == _py_split(files, 100)
    assert got["p1/huge"] == 5 and got["p1/big"] == 1 and got["p2/a"] == 1


def test_compact_planned_splits_oversized_file(spark, tmp_path):
    import os

    from tamer_spark.sinks.layout import compact_planned

    p = str(tmp_path / "tbl")
    # one oversized file (~4 targets) + 4 small files
    spark.range(0, 400_000).coalesce(1).write.parquet(p)
    big = _parquet_files(p)[0]
    target = os.path.getsize(big) // 4
    spark.range(400_000, 404_000).repartition(4).write.mode("append").parquet(p)

    manifest = {r.path: r for r in compact_planned(spark, p, target_bytes=target).collect()}
    mbig = manifest[next(k for k in manifest if k.endswith(os.path.basename(big)))]
    assert mbig.split_k >= 3 and mbig.rewritten
    assert not os.path.exists(big)  # original oversized file swapped out
    files = _parquet_files(p)
    # the oversized file became ~split_k files; small tail merged into ~1
    assert len(files) >= mbig.split_k  # split outputs present
    sizes = sorted(os.path.getsize(f) for f in files)
    assert sizes[-1] < os.path.getsize(big) if os.path.exists(big) else True
    got = sorted(r.id for r in spark.read.parquet(p).collect())
    assert got == list(range(404_000))  # rows intact, exactly once


def test_compact_planned_split_routing_deterministic(spark, tmp_path):
    """Two identical tables compacted independently must split into the
    SAME row→output-file groups (content-hash routing, no nondeterminism)."""
    import os

    from tamer_spark.sinks.layout import compact_planned

    groups = []
    for arm in ("a", "b"):
        p = str(tmp_path / arm)
        spark.range(100_000).withColumn("v", F.col("id") * 7).coalesce(1).write.parquet(p)
        target = os.path.getsize(_parquet_files(p)[0]) // 3
        compact_planned(spark, p, target_bytes=target)
        out = (
            spark.read.parquet(p)
            .withColumn("_f", F.input_file_name())
            .groupBy("_f")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        )
        groups.append(sorted(tuple(r.ids) for r in out.collect()))
    assert groups[0] == groups[1]
