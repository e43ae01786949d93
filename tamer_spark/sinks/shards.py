"""Training-shard export: the last stage of a curation pipeline — write the
curated corpus as N deterministic shards plus an integrity manifest, the
layout a training dataloader consumes.

Design constraints (and how each is met):

- **Stable membership**: a document's shard must not depend on corpus size,
  partitioning, or run order — shard = stable_hash64(id) % n_shards, so
  re-exports and incremental appends route every doc identically (the
  split/sample convention from split_sample_docs, not round-robin or
  monotonically_increasing_id, both of which reshuffle membership on every
  run).
- **Stable row order**: rows sort within each shard by (salted hash, id) —
  a deterministic pseudo-random order (so shards are well-mixed for
  training, not sorted by ingest time) that is identical across runs and
  input partitionings. The rows and the manifest repeat across runs; the
  part files' bytes need not (parquet-mr writes a column chunk's encoding
  list in hash-set order, which differs across JVMs).
- **Verifiable**: manifest.json records per-shard row counts and an
  order-independent content digest (bit_xor of row-level md5-derived
  int64s — commutative, associative, overflow-free) — a reader can
  validate any shard in isolation, and two exports of the same data
  produce byte-identical manifests.
- **Scale shape**: ONE shuffle (repartition on the shard id) + in-partition
  sort + parquet write; the uniqueness gate and the manifest then read the
  written files back (the manifest aggregate is |shards| rows). No driver
  collect beyond the manifest frame.

No analog in the reference engine (tamer's sink is Kafka); training-data
extension surface.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tamer_spark.sinks.base import _hadoop_fs


def assign_shard(df: DataFrame, id_col: str, n_shards: int) -> DataFrame:
    """Add a ``shard`` column: stable_hash64(id) % n_shards — content- and
    corpus-size-independent, so membership never shifts across exports."""
    from tamer_spark.functions.hashing import stable_hash64

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if "shard" in df.columns:
        raise ValueError(
            "input already has a 'shard' column — assign_shard would silently "
            "overwrite it; rename or drop it first"
        )
    return df.withColumn(
        "shard",
        (stable_hash64(F.concat(F.lit("shard-"), F.col(id_col).cast("string"))) % n_shards).cast(
            "int"
        ),
    )


def shard_manifest(df: DataFrame) -> DataFrame:
    """(shard, n_rows, content_digest): order-independent per-shard digest —
    XOR of per-row digests of the FULL row (all columns, canonical JSON).
    Commutative + associative + overflow-free under ANSI mode (a wrapping
    SUM of 60-bit hashes throws ARITHMETIC_OVERFLOW), so it
    partial-aggregates map-side and never depends on row order or
    partitioning. XOR cancels duplicate rows pairwise — safe because
    ``write_training_shards`` REJECTS duplicate/NULL ids at export time
    (see its ValueError contract), and n_rows is checked alongside."""
    from tamer_spark.functions.hashing import stable_hash64

    # NAME-sorted struct fields: the write side and the verify side see
    # different column orders (partitionBy appends the partition column on
    # read-back), and to_json field order follows struct order — sorting by
    # name makes the digest independent of both
    row_digest = stable_hash64(
        F.to_json(F.struct(*sorted(c for c in df.columns if c != "shard")))
    )
    return (
        df.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(row_digest).alias("content_digest"),
        )
        .orderBy("shard")
    )


def _manifest_file(spark, path: str):
    """(FileSystem, Path) of ``path``'s ``_manifest.json``, through the same
    Hadoop FileSystem as the shards, so ``file:``, ``s3a:`` and ``hdfs:``
    paths work alike. A checksummed FileSystem (the local one) is unwrapped
    to its raw FileSystem: the manifest gets no ``.crc`` sidecar, and a
    manifest edited by hand reads back as written (``verify_shards`` then
    reports the mismatch, not a checksum error)."""
    fs, root = _hadoop_fs(spark, path)
    jvm = spark.sparkContext._jvm
    if jvm.org.apache.hadoop.fs.ChecksumFileSystem._java_lang_class.isInstance(fs):
        fs = fs.getRawFileSystem()
    return fs, jvm.org.apache.hadoop.fs.Path(root, "_manifest.json")


def write_training_shards(df: DataFrame, path: str, n_shards: int) -> dict:
    """Export ``df`` as ``n_shards`` deterministic parquet shards under
    ``path`` (hive-partitioned ``shard=K/`` directories) and write
    ``_manifest.json`` (underscore-prefixed so parquet directory listings
    skip it, like _SUCCESS) next to them. Returns the manifest dict.

    Rows are sorted within each shard by a salted hash of the id — a fixed
    pseudo-random training order, identical across runs. The export writes
    once and takes its manifest from the files it wrote:

    1. the sharded, sorted frame is written to the sibling
       ``<path>__staging``;
    2. the staged files are read back for the uniqueness gate and the
       manifest — the manifest cannot drift from the files, even under a
       nondeterministic upstream, and nothing is cached or checkpointed
       (lost executor work is recomputed from lineage like any write);
    3. a failed gate deletes the staging directory and raises: nothing
       lands at ``path``, and an earlier export there is left as it was;
    4. otherwise ``path`` is replaced by the staging directory (delete,
       then rename, through the path's Hadoop FileSystem) and
       ``_manifest.json`` is written last. A reader that finds the manifest
       finds the files it describes.

    Raises ValueError when ``doc_id`` has duplicate or NULL values: the
    manifest's XOR digest cancels duplicate rows pairwise, so two
    divergent shards with duplicated rows could otherwise verify as equal
    — pre-dedup corpora must be deduplicated (or given a surrogate unique
    id) before export.
    """
    from tamer_spark.functions.hashing import stable_hash64

    spark = df.sparkSession
    staging = path.rstrip("/") + "__staging"
    # "shard" leads the sort: the partitioned-file writer requires its
    # input ordered by the partition columns and INSERTS ITS OWN sort
    # otherwise, which does not preserve the secondary order — leading
    # with shard satisfies the requirement so the (salted hash, id)
    # order survives into the files byte-stably
    ordered = (
        assign_shard(df, "doc_id", n_shards)
        .repartition(n_shards, "shard")
        .sortWithinPartitions(
            "shard",
            stable_hash64(F.concat(F.lit("order-"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
    )
    ordered.write.mode("overwrite").partitionBy("shard").parquet(staging)
    fs, staged = _hadoop_fs(spark, staging)
    # the written schema is known: no footer read to infer it, and an
    # empty corpus (no part files at all) reads back as an empty frame
    written = spark.read.schema(ordered.schema).parquet(staging)
    # count(lit(1)) counts every row while count_distinct skips NULLs, so
    # this single comparison catches both duplicate and NULL ids
    chk = written.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct(F.col("doc_id")).alias("d")
    ).collect()[0]
    if chk.n != chk.d:
        fs.delete(staged, True)
        raise ValueError(
            "write_training_shards requires unique non-NULL 'doc_id' values "
            f"({chk.n} rows, {chk.d} distinct non-NULL ids): the XOR content "
            "digest cancels duplicate rows pairwise, which would blind "
            "verify_shards — dedup or add a surrogate id before export"
        )
    manifest_rows = shard_manifest(written).collect()
    manifest = {
        "n_shards": n_shards,
        "id_col": "doc_id",
        "total_rows": int(sum(r.n_rows for r in manifest_rows)),
        "shards": {
            int(r.shard): {"n_rows": int(r.n_rows), "content_digest": int(r.content_digest)}
            for r in manifest_rows
        },
    }
    _, target = _hadoop_fs(spark, path)
    fs.delete(target, True)
    if not fs.rename(staged, target):
        raise OSError(f"write_training_shards: could not rename {staging} to {path}")
    mfs, mpath = _manifest_file(spark, path)
    out = mfs.create(mpath, True)
    try:
        out.write(json.dumps(manifest, sort_keys=True, indent=1).encode())
    finally:
        out.close()
    return manifest


def verify_shards(spark, path: str, shard: int | None = None) -> bool:
    """Re-derive the manifest from the written shards and compare — the
    reader-side integrity check. Raises ValueError on any mismatch.

    ``shard``: verify ONE shard only — the partition filter prunes the
    read to that directory, so a dataloader can validate just the shards
    it is about to consume without scanning the export."""
    fs, mpath = _manifest_file(spark, path)
    stream = fs.open(mpath)
    try:
        manifest = json.loads(bytes(stream.readAllBytes()))
    finally:
        stream.close()
    want = {int(k): v for k, v in manifest["shards"].items()}
    if shard is not None and shard not in want:
        raise ValueError(f"shard {shard} not in manifest")
    if not want:  # an empty export: no part file to read, and none may exist
        names = [st.getPath().getName() for st in fs.listStatus(mpath.getParent())]
        if any(n.startswith("shard=") for n in names):
            raise ValueError("shard integrity mismatch: shard files under an empty manifest")
        return True
    df = spark.read.parquet(path)
    if shard is not None:
        df = df.filter(F.col("shard") == shard)
        want = {shard: want[shard]}
    got = {
        int(r.shard): {"n_rows": int(r.n_rows), "content_digest": int(r.content_digest)}
        for r in shard_manifest(df).collect()
    }
    if got != want:
        bad = {k for k in set(got) | set(want) if got.get(k) != want.get(k)}
        raise ValueError(f"shard integrity mismatch in shards {sorted(bad)}")
    return True


def shard_diff(path_a: str, path_b: str) -> dict:
    """Manifest-level diff of two exports: which shards changed, appeared,
    or vanished — the incremental re-publish planner (only changed shards
    need re-uploading; stable id-hash membership means an append-only
    corpus change touches only the shards holding new docs). Pure
    manifest arithmetic — no data read, and no session: both manifests are
    read from LOCAL paths (for an export on ``s3a:``/``hdfs:``, copy the two
    ``_manifest.json`` files down first)."""
    ma = json.loads(Path(path_a, "_manifest.json").read_text())["shards"]
    mb = json.loads(Path(path_b, "_manifest.json").read_text())["shards"]
    a, b = {int(k): v for k, v in ma.items()}, {int(k): v for k, v in mb.items()}
    return {
        "changed": sorted(k for k in a.keys() & b.keys() if a[k] != b[k]),
        "unchanged": sorted(k for k in a.keys() & b.keys() if a[k] == b[k]),
        "only_a": sorted(a.keys() - b.keys()),
        "only_b": sorted(b.keys() - a.keys()),
    }
