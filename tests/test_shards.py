"""Training-shard export sink (sinks/shards.py): deterministic membership,
byte-stable ordering, manifest integrity."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tamer_spark.sinks.shards import (
    assign_shard,
    shard_manifest,
    verify_shards,
    write_training_shards,
)
from tests.conftest import CacheWatch

ROOT = Path(__file__).resolve().parents[1]


def _corpus(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
        (F.col("id") % 7).alias("score"),
    )


def test_roundtrip_and_manifest_counts(spark, tmp_path):
    path = str(tmp_path / "shards")
    manifest = write_training_shards(_corpus(spark), path, n_shards=8)
    assert manifest["total_rows"] == 200
    assert set(manifest["shards"]) == set(range(8))
    assert sum(s["n_rows"] for s in manifest["shards"].values()) == 200
    back = spark.read.parquet(path)
    assert back.count() == 200
    assert {r.doc_id for r in back.select("doc_id").collect()} == set(range(200))
    # manifest.json on disk matches the returned dict
    disk = json.loads(Path(path, "_manifest.json").read_text())
    assert disk["total_rows"] == 200
    assert verify_shards(spark, path)


def test_export_is_deterministic_across_runs(spark, tmp_path):
    # same data, different input partitioning -> identical manifests
    m1 = write_training_shards(_corpus(spark).repartition(13), str(tmp_path / "a"), 4)
    m2 = write_training_shards(_corpus(spark).repartition(3), str(tmp_path / "b"), 4)
    assert m1 == m2
    # and byte-stable in-shard order: first rows of shard 0 agree
    r1 = spark.read.parquet(str(tmp_path / "a")).filter("shard = 0").collect()
    r2 = spark.read.parquet(str(tmp_path / "b")).filter("shard = 0").collect()
    assert [r.doc_id for r in r1] == [r.doc_id for r in r2]


def test_shard_membership_stable_under_corpus_growth(spark, tmp_path):
    # a doc's shard must not change when the corpus doubles (incremental
    # exports route history identically)
    small = assign_shard(_corpus(spark, 100), "doc_id", 8)
    big = assign_shard(_corpus(spark, 200), "doc_id", 8)
    s = {r.doc_id: r.shard for r in small.collect()}
    b = {r.doc_id: r.shard for r in big.collect()}
    assert all(b[k] == v for k, v in s.items())


def test_verify_detects_corruption(spark, tmp_path):
    import pytest

    path = str(tmp_path / "shards")
    write_training_shards(_corpus(spark), path, n_shards=2)
    manifest = json.loads(Path(path, "_manifest.json").read_text())
    manifest["shards"]["0"]["content_digest"] += 1
    Path(path, "_manifest.json").write_text(json.dumps(manifest))
    with pytest.raises(ValueError, match="integrity mismatch"):
        verify_shards(spark, path)


def test_manifest_digest_is_order_independent(spark):
    d1 = shard_manifest(assign_shard(_corpus(spark).orderBy("doc_id"), "doc_id", 4))
    d2 = shard_manifest(
        assign_shard(_corpus(spark).orderBy(F.col("doc_id").desc()), "doc_id", 4)
    )
    assert {tuple(r) for r in d1.collect()} == {tuple(r) for r in d2.collect()}


def test_single_shard_verification_and_diff(spark, tmp_path):
    import pytest

    from tamer_spark.sinks.shards import shard_diff

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(_corpus(spark, 100), a, n_shards=4)
    # b: same corpus plus 30 appended docs — stable membership means only
    # the shards holding new docs change
    write_training_shards(_corpus(spark, 130), b, n_shards=4)
    assert verify_shards(spark, a, shard=0)
    with pytest.raises(ValueError, match="not in manifest"):
        verify_shards(spark, a, shard=99)
    d = shard_diff(a, b)
    assert not d["only_a"] and not d["only_b"]
    assert set(d["changed"]) | set(d["unchanged"]) == set(range(4))
    # every doc of the smaller corpus kept its shard, so any UNCHANGED
    # shard received no new docs — count check per manifest
    import json
    from pathlib import Path

    mb = json.loads(Path(b, "_manifest.json").read_text())["shards"]
    ma = json.loads(Path(a, "_manifest.json").read_text())["shards"]
    for k in d["unchanged"]:
        assert ma[str(k)] == mb[str(k)]
    assert sum(mb[str(k)]["n_rows"] for k in range(4)) == 130


def test_export_rejects_duplicate_and_null_ids(spark, tmp_path):
    # r8 guard: the XOR manifest digest cancels duplicate rows pairwise, so
    # the sink must refuse non-unique ids — and the error must name the
    # count mismatch so the contract text is load-bearing
    import pytest

    dup = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "doc_id long, text string"
    )
    with pytest.raises(
        ValueError, match=r"unique non-NULL 'doc_id' values \(3 rows, 2 distinct"
    ):
        write_training_shards(dup, str(tmp_path / "d"), 2)
    # the gate fires BEFORE the file write: nothing lands under the path
    assert not (tmp_path / "d").exists()

    nulls = spark.createDataFrame(
        [(1, "a"), (None, "b")], "doc_id long, text string"
    )
    # count_distinct skips NULLs, so the same single comparison catches them
    with pytest.raises(ValueError, match=r"\(2 rows, 1 distinct"):
        write_training_shards(nulls, str(tmp_path / "n"), 2)


def test_localcheckpoint_blocks_released_deterministically(spark, tmp_path):
    # back-to-back exports must not pin corpus copies waiting for the JVM
    # ContextCleaner — the export persists nothing (it writes once and
    # reads its own files back), on success AND on the ValueError gate path
    import pytest

    watch = CacheWatch(spark)
    write_training_shards(_corpus(spark), str(tmp_path / "s"), 4)
    assert watch.added() == {}

    dup = spark.createDataFrame([(1, "a"), (1, "b")], "doc_id long, text string")
    watch = CacheWatch(spark)
    with pytest.raises(ValueError):
        write_training_shards(dup, str(tmp_path / "d"), 2)
    assert watch.added() == {}


def test_export_preserves_caller_cache(spark, tmp_path):
    # r10 (ADVICE): a caller frame cached but NOT yet materialized registers
    # its InMemoryRelation's backing RDD only during the export's
    # materialization — the pre-r10 registry-diff release would have
    # silently unpersisted it. The export must leave it alone.
    sc = spark.sparkContext
    base = _corpus(spark).persist()
    try:
        watch = CacheWatch(spark)
        write_training_shards(base, str(tmp_path / "s"), 4)
        added = watch.added()
        # exactly the caller's cache RDD is new and no cache entry is (the
        # export persists nothing of its own, filled or not), and the
        # caller's storage level is still real, not NONE
        assert list(added) == ["rdd_ids"] and len(added["rdd_ids"]) == 1, added
        lvl = sc._jsc.getPersistentRDDs().get(added["rdd_ids"][0]).getStorageLevel()
        assert lvl.useMemory() or lvl.useDisk()
        # and the cache is actually usable afterwards
        assert base.count() == 200
    finally:
        base.unpersist()


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_rejected_export_leaves_earlier_export_untouched(spark, tmp_path):
    # the gate reads the staged files, so a rejected export never reaches
    # the destination: the export already there stays byte-identical and
    # verifiable, and the staging directory is gone
    import pytest

    path = tmp_path / "s"
    write_training_shards(_corpus(spark), str(path), 4)
    before = _tree_bytes(path)
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "doc_id long, text string")
    with pytest.raises(ValueError, match=r"\(2 rows, 1 distinct"):
        write_training_shards(dup, str(path), 2)
    assert _tree_bytes(path) == before
    assert verify_shards(spark, str(path))
    assert sorted(p.name for p in tmp_path.iterdir()) == ["s"]


def test_export_leaves_session_checkpoint_dir_alone(spark, tmp_path):
    # the export checkpoints nothing, so the session's checkpoint dir is the
    # same after an export (and after a rejected one), set or unset
    import pytest

    jsc = spark.sparkContext._jsc.sc()
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "doc_id long, text string")
    assert not jsc.getCheckpointDir().isDefined(), "test requires unset start state"
    write_training_shards(_corpus(spark), str(tmp_path / "a"), 2)
    assert not jsc.getCheckpointDir().isDefined()

    spark.sparkContext.setCheckpointDir(str(tmp_path / "sentinel_ckpt"))
    try:
        resolved = jsc.getCheckpointDir().get()
        write_training_shards(_corpus(spark), str(tmp_path / "b"), 2)
        with pytest.raises(ValueError):
            write_training_shards(dup, str(tmp_path / "c"), 2)
        assert jsc.getCheckpointDir().get() == resolved
    finally:
        jsc.setCheckpointDir(None)


def test_manifest_bytes_pinned(spark, tmp_path):
    # the manifest of the test corpus, pinned as the literals the
    # checkpoint-based export wrote: reading the digests back from the
    # written files must not change a byte of it
    want = {
        "id_col": "doc_id",
        "n_shards": 4,
        "shards": {
            "0": {"content_digest": 1057077475404804146, "n_rows": 60},
            "1": {"content_digest": 561537135396335069, "n_rows": 54},
            "2": {"content_digest": 1049117473052030073, "n_rows": 43},
            "3": {"content_digest": 829965153326345602, "n_rows": 43},
        },
        "total_rows": 200,
    }
    path = tmp_path / "s"
    write_training_shards(_corpus(spark), str(path), 4)
    assert (path / "_manifest.json").read_text() == json.dumps(want, sort_keys=True, indent=1)


def test_uri_path_round_trip(spark, tmp_path):
    # the manifest goes through the same Hadoop FileSystem as the shards,
    # so a URI path exports and verifies like a plain one
    uri = (tmp_path / "out").as_uri()
    assert uri.startswith("file:///")
    manifest = write_training_shards(_corpus(spark), uri, 2)
    assert manifest["total_rows"] == 200
    disk = json.loads((tmp_path / "out" / "_manifest.json").read_text())
    assert disk == json.loads(json.dumps(manifest))
    assert verify_shards(spark, uri)
    assert verify_shards(spark, uri, shard=1)


def test_empty_corpus_exports_empty_manifest(spark, tmp_path):
    # no rows means no part files to read back: the export still lands
    # and its manifest lists no shards
    path = tmp_path / "s"
    manifest = write_training_shards(_corpus(spark, 0), str(path), 4)
    assert manifest == {"n_shards": 4, "id_col": "doc_id", "total_rows": 0, "shards": {}}
    assert json.loads((path / "_manifest.json").read_text())["total_rows"] == 0


def test_empty_export_verifies_without_reading(spark, tmp_path):
    # an empty manifest verifies by listing, not by a parquet read (which
    # cannot infer a schema from no files), and a shard dir under it fails
    path = tmp_path / "s"
    write_training_shards(_corpus(spark, 0), str(path), 4)
    assert verify_shards(spark, str(path))
    with pytest.raises(ValueError, match="not in manifest"):
        verify_shards(spark, str(path), shard=0)
    write_training_shards(_corpus(spark, 20), str(tmp_path / "full"), 4)
    (tmp_path / "full" / "shard=1").rename(path / "shard=1")
    with pytest.raises(ValueError, match="mismatch"):
        verify_shards(spark, str(path))


def test_no_private_spark_state_in_package():
    # the export materializes nothing, so no module may reach for the
    # session's checkpoint dir or its persistent-RDD registry — and the
    # sinks carry no checkpoint mode at all
    banned = ("_$eq", "getPersistentRDDs", "setCheckpointDir")
    hits = [
        f"{p.relative_to(ROOT)}: {word}"
        for p in sorted((ROOT / "tamer_spark").rglob("*.py"))
        for word in banned
        if word in p.read_text()
    ]
    hits += [
        f"{p.relative_to(ROOT)}: {word}"
        for p in sorted((ROOT / "tamer_spark" / "sinks").rglob("*.py"))
        for word in ("checkpoint_dir", "localCheckpoint")
        if word in p.read_text()
    ]
    assert hits == []
