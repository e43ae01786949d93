"""Incremental curation epochs → shard re-publish with a manifest diff.

The batch pipeline (llm_curation_pipeline.py) curates a corpus once. This
example is the OTHER operating mode: the engine's resume-or-init epoch
loop (tamer_spark.engine.Pipeline — the reference's runLoop,
core/src/main/scala/tamer/Tamer.scala) drives per-epoch batches through
the incremental gates, appends survivors to a curated corpus, and
re-publishes training shards where ONLY the shards holding new documents
change — the manifest diff is the re-upload plan.

Per-epoch cost is O(batch), never O(history):

- exact dedup against the persisted digest index (dedup_exact_incremental
  — history is never re-hashed);
- near-dup gate: the batch's winnowing fingerprints probe the persisted
  corpus posting list (fp equi-join, coverage-theorem recall — a batch
  doc sharing >= 3 selected fingerprints with ANY curated doc is
  dropped);
- contamination gate: exact 3-gram dirty fraction vs the broadcast
  benchmark set (GPT-3 appendix-C class), drop >= 20 %;
- DSIR frozen-table scoring (r12): the importance-ratio table is trained
  ONCE at cold start (held-out target domain vs the first crawl's raw
  distribution) and every later epoch is scored against the SAME frozen
  table — the left-join posture means a bucket the table never saw
  contributes exactly 0, so brand-new vocabulary scores low instead of
  crashing or vanishing (operators/dsir.py incremental contract);
- survivors + their index/posting entries land under epoch=N partitions
  (overwrite-by-epoch = the idempotent replay contract, so a crash
  between write and state commit replays harmlessly; the frozen ratio
  table and per-epoch weight frames replay idempotently the same way).

The run deliberately stops after the first epoch (the engine numbers
epochs from 0), exports shards, RESUMES from the checkpoint (no
first-epoch re-read — exactly-once observable), drains,
re-exports, and asserts the shard_diff invariant: changed shards ==
exactly the shards the new doc ids hash into; every other shard's
manifest row is byte-identical, so an incremental publisher re-uploads
only the changed files. Run: ``python examples/incremental_curation_epochs.py``.
"""

import glob
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from dataclasses import dataclass, field

from pyspark.sql import functions as F

from _common import session, workspace
from tamer_spark.engine import Pipeline, pin
from tamer_spark.functions.text import winnow_fingerprints
from tamer_spark.operators.contamination import contamination_score
from tamer_spark.operators.dedup_incremental import dedup_exact_incremental
from tamer_spark.operators.dsir import (
    dsir_importance_weights,
    dsir_ratio_table,
    hashed_ngram_buckets,
)
from tamer_spark.operators.drift import histogram_merge, value_histogram
from tamer_spark.operators.mixing import bottomk_merge, bottomk_sample
from tamer_spark.operators.quality import column_stats_grouped
from tamer_spark.sinks import epoch_frames
from tamer_spark.sinks.layout import compact_partitioned
from tamer_spark.sinks.shards import assign_shard, shard_diff, write_training_shards

SF_DIR = "/root/testdata/sf0.01"
N_SHARDS = 8
WINNOW_MIN_SHARED = 3
CONTAM_PPM = 200_000
DSIR_BUCKETS = 1024

spark = session("incremental-curation")
ws = workspace()
CURATED = ws / "curated"
INDEX = ws / "digest_index"
POSTING = ws / "fp_posting"

raw = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
# benchmark slice: ids ≡ 2 (mod 3) — never fed through the loop, so the
# contamination gate is the ONLY thing that can reject a copy of one
benchmark = raw.filter(F.col("doc_id") % 3 == 2)
# DSIR target domain: ids ≡ 1 (mod 3) — held out from both the crawl and
# the benchmark; the ratio table is trained ONCE at cold start and FROZEN
dsir_target = raw.filter(F.col("doc_id") % 3 == 1)
DSIR_RATIO = ws / "dsir_ratio"
DSIR_WEIGHTS = ws / "dsir_weights"
# monitoring sidecars (r12 continuation): per-epoch length histograms on a
# FROZEN grid and per-epoch bottom-k audit samples — both MERGEABLE, so
# the corpus-wide view folds in O(buckets)/O(k) per epoch without ever
# re-reading history (the digest-index posture, applied to monitoring)
HIST = ws / "len_hist"
SAMPLE = ws / "audit_sample"
HIST_GRID = (0, 16, 64)  # (lo, width, n_buckets) — frozen at cold start
SAMPLE_K = 20
DOCS = "doc_id long, text string"  # the curated columns every reader here needs


@dataclass
class CrawlSource:
    """First epoch: the base slice (ids ≡ 0 mod 3). Second epoch: a
    re-crawl built FROM THE CURATED SURVIVORS at iteration time — 20
    verbatim re-sends under fresh ids (exact-index fodder), 5 near-dups
    with a tweaked tail (winnow fodder: same fingerprints, new digest),
    10 verbatim benchmark copies (contamination fodder), and 6 genuinely
    new docs. Afterwards: drained."""

    def initial_state(self):
        return 1

    def state_fingerprint(self) -> str:
        return "crawl-epochs-v1"

    def iteration(self, state, spark):
        if state == 1:
            return raw.filter(F.col("doc_id") % 3 == 0), 2
        if state == 2:
            # state s runs as epoch s - 1, so the curated epochs before it
            # are the committed ones — epoch 0 alone, committed by the
            # earlier run() (state 2 is the resumed run's first iteration,
            # never run ahead). A crashed attempt's own epoch=1 partition is
            # never read, so a replay rebuilds the same batch
            base = epoch_frames(spark, str(CURATED), DOCS, before=state - 1).orderBy("doc_id")
            resent = base.limit(20).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
            near = base.limit(5).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz tail tweak")).alias("text"),
            )
            contaminated = benchmark.orderBy("doc_id").limit(10).select(
                (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
            )
            fresh = spark.range(6).select(
                (F.col("id") + 4_000_000).alias("doc_id"),
                F.concat_ws(
                    " ",
                    *[
                        F.concat(F.lit(f"qx{j}n"), F.col("id").cast("string"))
                        for j in range(12)
                    ],
                ).alias("text"),
            )
            return resent.unionByName(near).unionByName(contaminated).unionByName(fresh), 3
        return None, state


@dataclass
class CurationSink:
    """Gates the epoch batch against the PERSISTED corpus state, then
    appends survivors + their index/posting entries under epoch=N
    (overwrite — idempotent replay)."""

    stats: dict = field(default_factory=dict)

    def write(self, df, epoch: int) -> None:
        n_in = pin(df)["rows"]  # the engine already pinned this batch: no job
        # gate 1: exact dedup vs the digest index (in-batch min-id rep too)
        # every history read stops before this epoch: a failed attempt's own
        # index/posting partitions must not gate its retry or replay
        idx = epoch_frames(spark, str(INDEX), "content_hash string", before=epoch)
        s1 = dedup_exact_incremental(df, idx.select("content_hash")).localCheckpoint()
        # gate 2: winnow near-dup probe vs the corpus posting list — the
        # batch side explodes its ~2/(w+1)-density fingerprints, the join
        # is an fp equi-join (bucket ids, never doc x doc)
        fps = winnow_fingerprints(s1).localCheckpoint()
        posting = epoch_frames(spark, str(POSTING), "doc_id long, fp long", before=epoch)
        near_ids = (
            fps.select("doc_id", F.explode_outer("fingerprints").alias("fp"))
            .join(posting.select("fp"), "fp")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
            .select("doc_id")
        )
        s2 = s1.join(near_ids, "doc_id", "left_anti")
        # gate 3: exact 3-gram contamination vs the broadcast benchmark
        dirty = (
            contamination_score(s2, benchmark, n=3)
            .filter(F.col("contamination_ppm") >= CONTAM_PPM)
            .select("doc_id")
        )
        s3 = s2.join(dirty, "doc_id", "left_anti").localCheckpoint()
        n_out = s3.count()
        # repartition(4) simulates the many-task epoch write a real cluster
        # produces (one file per task) — the small-file accretion the r13
        # maintenance step at the bottom of this example then compacts
        s3.repartition(4).write.mode("overwrite").parquet(
            str(CURATED / f"epoch={epoch}")
        )
        s3.select(F.md5("text").alias("content_hash")).distinct().write.mode(
            "overwrite"
        ).parquet(str(INDEX / f"epoch={epoch}"))
        fps.join(s3.select("doc_id"), "doc_id", "left_semi").select(
            "doc_id", F.explode_outer("fingerprints").alias("fp")
        ).write.mode("overwrite").parquet(str(POSTING / f"epoch={epoch}"))
        # DSIR frozen-table epoch scoring (operators/dsir.py incremental
        # posture): the ratio table is trained ONCE — cold start only, from
        # the target domain vs THIS epoch's raw crawl distribution — and
        # every epoch (including later ones with never-seen n-grams, e.g.
        # the qx* gibberish docs) is scored against the SAME frozen table.
        # The weights join is LEFT, so an unseen bucket contributes exactly
        # 0 instead of dropping the doc: every survivor gets a weight row.
        # keyed on the COLD-START EPOCH + mode('overwrite'), not on
        # exists(): a crash mid-write leaves a partial directory that an
        # exists() guard would treat as trained, silently mis-scoring every
        # later epoch — replaying epoch 0 must retrain and overwrite, the
        # same idempotent-replay contract as the epoch-partitioned sinks
        if epoch == 0:
            dsir_ratio_table(
                hashed_ngram_buckets(dsir_target, buckets=DSIR_BUCKETS),
                hashed_ngram_buckets(df, buckets=DSIR_BUCKETS),
                buckets=DSIR_BUCKETS,
            ).write.mode("overwrite").parquet(str(DSIR_RATIO))
        frozen = spark.read.parquet(str(DSIR_RATIO))
        dsir_importance_weights(
            hashed_ngram_buckets(s3, buckets=DSIR_BUCKETS), frozen
        ).write.mode("overwrite").parquet(str(DSIR_WEIGHTS / f"epoch={epoch}"))
        # monitoring sidecars: this epoch's length histogram (frozen grid)
        # and bottom-k audit sample — O(buckets)/O(k) rows apiece
        lo, width, nb = HIST_GRID
        value_histogram(
            s3.withColumn("len_chars", F.length("text").cast("long")),
            "len_chars",
            lo,
            width,
            nb,
        ).write.mode("overwrite").parquet(str(HIST / f"epoch={epoch}"))
        bottomk_sample(s3.select("doc_id"), SAMPLE_K).write.mode("overwrite").parquet(
            str(SAMPLE / f"epoch={epoch}")
        )
        self.stats[epoch] = {"in": n_in, "out": n_out}


def export(tag: str) -> str:
    dst = str(ws / f"export_{tag}")
    write_training_shards(epoch_frames(spark, str(CURATED), DOCS).drop("epoch"), dst, n_shards=N_SHARDS)
    return dst


def pipeline(sink) -> Pipeline:
    return Pipeline(CrawlSource(), sink, str(ws / "checkpoint"), group_id="curation")


def main() -> None:
    sink = CurationSink()
    # epoch 1 only, then publish
    pipeline(sink).run(spark, max_iterations=1)
    export_a = export("a")

    # resume from the checkpoint (epoch 1 is NOT re-read — the state store
    # hands the loop state=2) and drain the remaining epochs
    pipeline(sink).run_until_drained(spark, idle_iterations=2)
    export_b = export("b")

    d = shard_diff(export_a, export_b)

    # the manifest-diff invariant: stable id-hash membership means an
    # append-only corpus change touches EXACTLY the shards the new ids hash
    # into — compute that set independently and demand equality
    epochs = sorted(sink.stats)
    assert len(epochs) == 2, f"expected exactly two curated epochs, found {epochs}"
    new_docs = spark.read.parquet(str(CURATED / f"epoch={epochs[-1]}")).select("doc_id")
    expected_changed = sorted(
        r.shard for r in assign_shard(new_docs, "doc_id", N_SHARDS).select("shard").distinct().collect()
    )

    e1, e2 = (sink.stats[e] for e in epochs)
    print(f"epoch {epochs[0]}: {e1['in']} crawled -> {e1['out']} curated (cold start)")
    print(
        f"epoch {epochs[-1]}: {e2['in']} crawled -> {e2['out']} curated "
        f"(20 re-sent + 5 near-dup + 10 contaminated dropped at O(batch) cost)"
    )
    print(
        f"re-publish: shards changed {d['changed']} / unchanged {d['unchanged']} "
        f"(expected changed from the new ids: {expected_changed})"
    )

    assert e2["in"] == 41 and e2["out"] == 6, sink.stats
    assert d["only_a"] == [] and d["only_b"] == []
    assert d["changed"] == expected_changed, (d, expected_changed)
    assert len(d["unchanged"]) == N_SHARDS - len(expected_changed)
    assert len(d["unchanged"]) > 0, "probe geometry: 6 new docs must miss some shard"
    print("manifest-diff invariant holds: only the shards holding new docs re-upload")

    # DSIR frozen-table invariants: one ratio table (no epoch partitions — it
    # was trained at cold start and never retrained), and EVERY curated doc in
    # EVERY epoch has exactly one weight row — the left-join posture means the
    # second epoch's unseen-bucket docs score (contributing 0 per unseen
    # bucket) instead of vanishing from the frame.
    ratio = spark.read.parquet(str(DSIR_RATIO))
    assert "epoch" not in ratio.columns, "ratio table must be frozen, not per-epoch"
    ratio_rows = ratio.count()
    assert 0 < ratio_rows <= DSIR_BUCKETS
    for e in epochs:
        curated_ids = {
            r.doc_id
            for r in spark.read.parquet(str(CURATED / f"epoch={e}")).select("doc_id").collect()
        }
        w = spark.read.parquet(str(DSIR_WEIGHTS / f"epoch={e}")).collect()
        assert {r.doc_id for r in w} == curated_ids, f"epoch {e}: weights != curated"
        assert len(w) == len(curated_ids)
    # the 6 qx* gibberish docs are all-unseen-bigram by construction relative
    # to the target: their net affinity must not exceed the best real doc's
    w2 = spark.read.parquet(str(DSIR_WEIGHTS / f"epoch={epochs[-1]}"))
    gib_max = w2.filter(F.col("doc_id") >= 4_000_000).agg(F.max("weight")).collect()[0][0]
    w1_max = (
        spark.read.parquet(str(DSIR_WEIGHTS / f"epoch={epochs[0]}"))
        .agg(F.max("weight"))
        .collect()[0][0]
    )
    assert gib_max <= w1_max, (gib_max, w1_max)
    print(
        f"dsir frozen-table scoring: {ratio_rows} ratio rows trained once at cold "
        f"start scored both epochs (gibberish max {gib_max} <= corpus max {w1_max})"
    )

    # monitoring-sidecar fold invariants (r12 continuation): the mergeable
    # sketches' whole point — per-epoch sidecars fold to EXACTLY the view a
    # from-scratch rebuild over the full curated corpus gives, without
    # re-reading history.
    _full = epoch_frames(spark, str(CURATED), DOCS)
    _lo, _width, _nb = HIST_GRID
    _fold_hist = {
        (r.bucket, r.cnt)
        for r in histogram_merge(
            *[spark.read.parquet(str(HIST / f"epoch={e}")) for e in epochs]
        ).collect()
    }
    _rebuild_hist = {
        (r.bucket, r.cnt)
        for r in value_histogram(
            _full.withColumn("len_chars", F.length("text").cast("long")),
            "len_chars", _lo, _width, _nb,
        ).collect()
    }
    assert _fold_hist == _rebuild_hist, "histogram fold != rebuild"
    _fold_sample = {
        (r.doc_id, r.sample_rank)
        for r in bottomk_merge(
            [spark.read.parquet(str(SAMPLE / f"epoch={e}")) for e in epochs], SAMPLE_K
        ).collect()
    }
    _rebuild_sample = {
        (r.doc_id, r.sample_rank)
        for r in bottomk_sample(_full.select("doc_id"), SAMPLE_K).collect()
    }
    assert _fold_sample == _rebuild_sample, "bottom-k fold != rebuild"
    print(
        f"monitoring sidecars: {len(_fold_hist)} histogram cells and "
        f"{len(_fold_sample)} audit-sample rows fold == rebuild across {len(epochs)} epochs"
    )

    # maintenance: the epoch sink writes each epoch as its own directory of
    # task files — exactly the small-file accretion pattern OPTIMIZE exists
    # for. Compact the curated table per partition and demand the
    # reader-visible corpus is untouched: same rows, same epoch layout,
    # never packed across epochs, fewer-or-equal files.
    def _data_files(root) -> list[str]:
        return [
            f
            for f in glob.glob(f"{root}/**/*.parquet", recursive=True)
            if not f.rsplit("/", 1)[-1].startswith((".", "_"))
        ]

    _before_files = _data_files(CURATED)
    _before_corpus = sorted((r.doc_id, r.text) for r in _full.collect())
    _manifest = compact_partitioned(spark, str(CURATED), target_bytes=1 << 30).collect()
    _after_files = _data_files(CURATED)
    _after_corpus = sorted((r.doc_id, r.text) for r in epoch_frames(spark, str(CURATED), DOCS).collect())
    assert _after_corpus == _before_corpus, "compaction changed the corpus"
    assert sorted({m.partition for m in _manifest}) == [f"epoch={e}" for e in epochs]
    assert len(_after_files) <= len(_before_files)
    for e in epochs:  # one target-sized file per epoch partition afterwards
        n = len([f for f in _after_files if f"epoch={e}/" in f])
        assert n == 1, (e, n)
    print(
        f"maintenance: compacted {len(_before_files)} epoch-sink files -> "
        f"{len(_after_files)} ({len(_manifest)} manifest rows, "
        f"{sum(1 for m in _manifest if m.rewritten)} rewritten), corpus bit-identical"
    )

    # catalog: ANALYZE the curated table per partition — the per-epoch
    # min/max/null/NDV rows a stats journal keeps (partition-level min/max
    # is the data-skipping index; per-partition NDV localizes a drifted
    # epoch without scanning its neighbors).
    _stats = {
        (r.epoch, r.column): (r.min_v, r.max_v, r.n_nulls, r.n_distinct)
        for r in column_stats_grouped(
            epoch_frames(spark, str(CURATED), DOCS),
            ["epoch"],
            [("doc_id", F.col("doc_id")), ("len_chars", F.length("text").cast("long"))],
        ).collect()
    }
    assert set(_stats) == {(e, c) for e in epochs for c in ("doc_id", "len_chars")}
    for e in epochs:
        mn, mx, nn, nd = _stats[(e, "doc_id")]
        n_curated = sink.stats[e]["out"]
        assert nn == 0 and nd == n_curated, (e, _stats[(e, "doc_id")], n_curated)
        assert mn <= mx
    print(
        "catalog: per-epoch column stats journaled — "
        + "; ".join(
            f"epoch {e}: doc_id ndv={_stats[(e, 'doc_id')][3]}, "
            f"len[{_stats[(e, 'len_chars')][0]}, {_stats[(e, 'len_chars')][1]}]"
            for e in epochs
        )
    )


if __name__ == "__main__":
    main()
