"""Data-layout management: small-file compaction.

The storage-side half of 100 TB performance: scans are only as good as the
layout under them. A table written by 10k tasks/day degenerates into
millions of tiny files, and listing + footer overhead then dominates scans.
``plan_compaction`` and ``plan_splits`` build a deterministic rewrite
manifest; ``compact_planned`` and ``compact_partitioned`` execute it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tamer_spark.sinks.base import _hadoop_fs


def plan_compaction(
    files: DataFrame,
    target_bytes: int,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic bin-packing manifest for small-file compaction — the
    OPTIMIZE planning step (r13). The reference's run loop commits one
    output per (epoch, partition) (core/src/main/scala/tamer/Tamer.scala:150-186
    — its sink is Kafka; ours lands parquet per epoch via the same loop,
    tamer_spark/engine.py), so a steady-state pipeline accretes exactly the
    small-file pattern this plans away.

    Input: one row per data file — ``path`` (unique), ``bytes``,
    plus any ``partition_cols`` (files never pack across partitions).
    Output: the input plus ``bin`` (BIGINT, monotone per partition;
    gaps appear where a file spans several target sizes) — the manifest. The rule is sorted sequential fill: within a partition,
    order files by (bytes DESC, path) and assign each to
    ``floor(cumulative_bytes_before_it / target_bytes)`` — bins are
    contiguous runs of that order, every bin's fill is < target + its last
    file's overflow, and already-target-sized files land alone in their
    own bin (their byte span covers it), so the rewrite step can skip them
    untouched. Chosen over first-fit-decreasing deliberately: FFD needs a
    stateful per-partition fold (a sequential scan no window expresses),
    while this rule is ONE window — replayable in any engine, which is
    what makes the manifest auditable before a 100 TB rewrite runs.

    Scale shape: one window over the FILE MANIFEST (rows = file count,
    never data bytes) partitioned by the table partition — at a million
    files this is a few MB through one exchange. Deterministic: (bytes
    DESC, path) is a total order because paths are unique.
    """
    from pyspark.sql import Window

    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    pc = list(partition_cols or [])
    w = (
        Window.partitionBy(*pc)
        .orderBy(F.col("bytes").desc(), F.col("path"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_before = F.sum("bytes").over(w) - F.col("bytes")
    # integer `div`, not float `/`: cumulative bytes at 100 TB (~1e14)
    # approach double's exact-integer ceiling, and the manifest must be
    # bit-reproducible (the repo's integer-arithmetic convention)
    return (
        files.withColumn("_cum_before", cum_before.cast("long"))
        .withColumn("bin", F.expr(f"_cum_before div {int(target_bytes)}"))
        .drop("_cum_before")
    )


def plan_splits(
    manifest: DataFrame,
    target_bytes: int,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """SPLIT half of OPTIMIZE planning (r14) over ``plan_compaction``'s
    manifest: oversized files are the other face of the small-files
    problem (a skewed epoch writing one 2 GB file serializes every
    downstream scan task that reads it past ``maxPartitionBytes`` row-group
    boundaries, and re-compaction can never improve it by merging).

    Adds two columns: ``n_in_bin`` (files sharing the row's bin) and
    ``split_k`` — the number of ~target-sized outputs the file should be
    rewritten into. A file splits only when it is ALONE in its bin (the
    planner's byte-span rule puts every oversized file alone, so a merge
    candidate never also splits) and larger than ``2 * target_bytes``
    (splitting a 1.3×-target file would produce two UNDER-sized files —
    strictly worse); then ``split_k =
    ceil(bytes / target_bytes)``, else 1. Same replayability contract as
    the bin rule: one window count + integer arithmetic, reproducible in
    any engine, auditable before a 100 TB rewrite runs.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*(partition_cols or []), "bin")
    t = int(target_bytes)
    return manifest.withColumn("n_in_bin", F.count(F.lit(1)).over(w)).withColumn(
        "split_k",
        F.when(
            (F.col("n_in_bin") == 1) & (F.col("bytes") > 2 * t),
            F.expr(f"(bytes + {t} - 1) div {t}"),
        )
        .otherwise(F.lit(1))
        .cast("long"),
    )


def list_parquet_files(spark: SparkSession, path: str) -> DataFrame:
    """(path, bytes) manifest of a directory's parquet data files, via the
    JVM Hadoop FileSystem (works unchanged on HDFS/S3A at scale; driver-side
    listing is the metadata operation every table format performs). Hidden
    and marker files excluded. Recurses one partition-directory level is NOT
    attempted — pass the leaf directory (partition-aware callers list per
    partition and union, keeping partition values as manifest columns)."""
    fs, hpath = _hadoop_fs(spark, path)
    rows = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith((".", "_")):
            rows.append((st.getPath().toString(), int(st.getLen())))
    return spark.createDataFrame(rows, "path string, bytes long")


def compact_planned(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Manifest-driven compaction of a parquet directory — the OPTIMIZE
    execute step over ``plan_compaction`` + ``plan_splits``. Returns the
    manifest ACTED ON (path, bytes, bin, split_k, rewritten) so the caller
    can audit and journal it (the deterministic-output contract the shards
    sink set).

    RIGHT-SIZED singleton files are left untouched — they land alone in
    their own bin by the planner's byte-span rule, which is the 100 TB
    property that matters: OPTIMIZE on an append-heavy table touches the
    day's small tail, never the petabytes already right-sized. OVERSIZED
    singletons (bytes > 2× target — the skewed-
    epoch 2 GB file) are SPLIT (r14) into ``split_k = ceil(bytes/target)``
    ~target-sized outputs inside the same one-job rewrite: their rows are
    routed to ``split_k`` distinct route keys by a deterministic
    row-content hash (``xxhash64`` over the data columns — map-typed
    columns, which Spark cannot hash, are excluded from the hash input),
    so the assignment is reproducible run-to-run with no window and no
    per-file driver logic. Everything else is read in
    ONE job, routed to its bin via a broadcast manifest join on
    ``input_file_name()``, hash-``repartition(n_routes, route)``-ed, and
    written ``partitionBy(route)`` into the tmp dir — every route's rows
    hash to exactly one task and the partitioned write gives each route
    its own file even when two routes collide into one task, so output =
    exactly one ~target-sized file per route, with no driver-side per-bin
    loop (Delta's OPTIMIZE schedules a job per bin batch; at 800k bins
    that loop IS the bottleneck, the one hash shuffle isn't). Hash
    partitioning is chosen over ``repartitionByRange`` deliberately:
    range partitioning SAMPLES its boundaries with an RDD-id-derived seed
    (RangePartitioner.sketch), so which routes coalesce into one output
    file changes run-to-run — a nondeterministic rewrite of a table whose
    manifest claims auditability — and the sampling itself is an extra
    pass over the data. The swap runs through the SAME Hadoop FileSystem
    handle as the listing (r14 — local/HDFS/S3A uniformly), ordered for
    no-data-loss: rewritten files are renamed INTO the directory first
    (route-tagged fresh part names cannot collide with originals), and
    only then are the originals deleted. A crash mid-swap can therefore leave transient DUPLICATE
    rows (recover by deleting either the surviving originals or the
    moved-in rewrites — both sides are auditable from the returned
    manifest plus a directory listing), but never missing rows; the
    pre-swap fail-closed count guard additionally aborts with originals
    intact if the rewrite lost anything."""
    jPath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs, dst = _hadoop_fs(spark, path)

    # the listing is already driver-materialized (list_parquet_files builds
    # the frame from literal rows), so the manifest cannot observe the swap
    # below — no checkpoint needed; the windows run over file-count rows
    manifest = plan_splits(
        plan_compaction(list_parquet_files(spark, path), target_bytes),
        target_bytes,
    ).withColumn("rewritten", (F.col("n_in_bin") > 1) | (F.col("split_k") > 1))
    todo = manifest.filter("rewritten")
    rows = todo.select("path", "bin", "split_k", "n_in_bin").collect()  # file NAMES, not data
    paths = [r.path for r in rows]
    if paths:
        # one output partition per route key: each merged bin is one route,
        # each split file owns split_k routes
        n_routes = len({r.bin for r in rows if r.n_in_bin > 1}) + sum(
            r.split_k for r in rows if r.split_k > 1
        )
        # input_file_name() renders the scheme as file:///x while the Hadoop
        # listing renders file:/x — join on the scheme-stripped form (both
        # sides come from the SAME filesystem, so the path part is identical)
        norm = lambda c: F.regexp_replace(c, "^[a-zA-Z0-9+.-]+:/+", "/")  # noqa: E731
        df = spark.read.parquet(*paths)
        hashable = [
            f.name for f in df.schema.fields if "map<" not in f.dataType.simpleString()
        ]
        df = df.withColumn("_file", norm(F.input_file_name()))
        routed = df.join(
            F.broadcast(
                todo.select(norm(F.col("path")).alias("_file"), "bin", "split_k")
            ),
            "_file",
        )
        # route = bin * 1e6 + sub-slot: bins are per-partition monotone longs
        # (≤ total_bytes/target ≈ 8e5 at 100 TB/128 MB), so the scaled key
        # stays far inside int64; sub-slot 0 for merged bins, a deterministic
        # row-content hash slot for split files
        sub = F.when(
            F.col("split_k") > 1,
            F.pmod(
                F.xxhash64(*hashable) if hashable else F.lit(0), F.col("split_k")
            ),
        ).otherwise(F.lit(0))
        routed = routed.withColumn(
            "_route", F.col("bin") * F.lit(1_000_000) + sub
        )
        tmp = path.rstrip("/") + "__compact_tmp"
        (
            routed.repartition(max(int(n_routes), 1), "_route")
            .drop("_file", "bin", "split_k")
            .write.mode("overwrite")
            .partitionBy("_route")
            .parquet(tmp)
        )
        # fail CLOSED before deleting anything: this operator removes source
        # files, so an unmatched routing row (a regression in the join above
        # would silently drop data) must abort with the originals intact.
        # An all-rows-dropped rewrite writes NO partition dirs (partitionBy
        # of an empty frame), which read.parquet cannot even infer a schema
        # from — count data files first and treat none as 0 rows.
        tmp_parts = [
            st
            for st in fs.listStatus(jPath(tmp))
            if st.isDirectory() and st.getPath().getName().startswith("_route=")
        ]
        n_src = df.count()
        n_out = spark.read.parquet(tmp).count() if tmp_parts else 0
        if n_src != n_out:
            fs.delete(jPath(tmp), True)
            raise RuntimeError(
                f"compact_planned: rewrote {n_out} rows but sources hold "
                f"{n_src}; aborting before deleting originals"
            )
        # no-data-loss order: move the rewrites IN first (fresh job-UUID
        # part names, tagged with their route dir so two routes written by
        # one task cannot collide, nor with originals), delete originals
        # last
        for part in tmp_parts:
            route = part.getPath().getName().split("=", 1)[1]
            for st in fs.listStatus(part.getPath()):
                name = st.getPath().getName()
                if st.isFile() and not name.startswith((".", "_")):
                    if not fs.rename(st.getPath(), jPath(dst, f"part-r{route}-{name.removeprefix('part-')}")):
                        raise RuntimeError(
                            f"compact_planned: rename {name} into {path} failed"
                        )
        for p in paths:
            fs.delete(jPath(p), False)
        fs.delete(jPath(tmp), True)
    return manifest.select("path", "bytes", "bin", "split_k", "rewritten")


def compact_partitioned(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """``compact_planned`` over a hive-partitioned table root: every
    ``key=value`` partition directory (any nesting depth) is compacted as
    its own leaf — files never pack across partitions, matching
    ``plan_compaction``'s partition contract. Returns the union of the
    per-partition manifests with a ``partition`` column (the relative
    partition path) for the audit journal.

    The per-partition loop is driver-side but bounded by the DIRECTORY
    count, and each iteration's rewrite is a distributed job touching only
    that partition's small tail — the Delta OPTIMIZE execution shape
    (per-partition job scheduling). On a 100 TB table run it under a
    partition predicate (compact yesterday's landing partitions, not the
    whole history) by passing the partition subtree as ``root``."""
    def leaf_dirs(path: str) -> list[str]:
        fs, hpath = _hadoop_fs(spark, path)
        subs = [
            st.getPath().toString()
            for st in fs.listStatus(hpath)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if not subs:
            return [path]
        out: list[str] = []
        for s in subs:
            out.extend(leaf_dirs(s))
        return out

    import re

    strip = lambda p: re.sub(r"^[a-zA-Z0-9+.-]+:/+", "/", p)  # noqa: E731
    nroot = strip(root)
    manifests = []
    for leaf in sorted(leaf_dirs(root)):
        rel = strip(leaf).removeprefix(nroot).strip("/")
        m = compact_planned(spark, leaf, target_bytes).withColumn(
            "partition", F.lit(rel)
        )
        manifests.append(m)
    out = manifests[0]
    for m in manifests[1:]:
        out = out.unionByName(m)
    return out
