"""Structured Streaming pipelines: exactly-once file ingestion across
restarts, watermarked windowed aggregation vs the batch oracle, and
bounded-state dedup."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from tamer_spark import queries as Q
from tamer_spark.streaming import run_available_now_memory, stream_parquet, windowed_agg
from tests.conftest import SF_DIR


def _drain(stream_df, checkpoint_dir, batch_fn=None, path=None, output_mode="append"):
    """Drain what exists (``Trigger.AvailableNow``), then stop, into
    ``batch_fn`` (foreachBatch) or a parquet dir at ``path``. The checkpoint
    dir carries the offsets, so a second drain reads only new files."""
    w = stream_df.writeStream.option("checkpointLocation", checkpoint_dir).outputMode(output_mode)
    w = w.foreachBatch(batch_fn) if batch_fn else w.format("parquet").option("path", path)
    w.trigger(availableNow=True).start().awaitTermination()


def test_file_stream_exactly_once_across_restarts(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("a1\na2\n")
    (src / "b.txt").write_text("b1\n")
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    _drain(spark.readStream.text(str(src)), cp, path=out)
    got1 = sorted(r.value for r in spark.read.parquet(out).collect())
    assert got1 == ["a1", "a2", "b1"]

    # new file arrives; re-run drains ONLY the new file (checkpoint resume)
    (src / "c.txt").write_text("c1\nc2\n")
    _drain(spark.readStream.text(str(src)), cp, path=out)
    got2 = sorted(r.value for r in spark.read.parquet(out).collect())
    assert got2 == ["a1", "a2", "b1", "c1", "c2"]


def test_streaming_curation_matches_batch(spark, tmp_path):
    """The cleaning tier's MAP-ONLY stages (C4 line filter, within-doc line
    dedup, the aggregate-free Gopher rule subset) compose directly into a
    Structured Streaming pipeline — no watermark, no state store, append
    mode — and a streamed run over the same files equals the batch run.
    This is the 100 TB ingest posture: clean and score documents as they
    land, leaving corpus-level stages (n-gram repetition, cross-doc span
    dedup, LSH) to per-epoch batch jobs over the landed data."""
    from tamer_spark.operators.c4 import c4_line_filter
    from tamer_spark.operators.dedup import dedup_lines_in_doc
    from tamer_spark.operators.gopher import gopher_signals

    src = tmp_path / "docs"
    rows = [
        (1, "Good first line stays right here.\nGood first line stays right here.\nno terminal"),
        (2, "Second doc has a long single line that ends with punctuation."),
        (3, "Please enable javascript to continue browsing.\nA real line of content survives here."),
        (4, ""),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(str(src))

    def curate(df):
        ld = dedup_lines_in_doc(df)
        cleaned = c4_line_filter(
            ld.select("doc_id", F.col("text_clean").alias("text")), min_sentences=1
        )
        sig = gopher_signals(
            cleaned.select("doc_id", F.col("text_clean").alias("text")),
            min_words=5,
            top_ngrams=(),
            dup_ngrams=(),
            line_signals=True,
        )
        return cleaned.select("doc_id", "text_clean", "n_lines_kept").join(
            sig.select("doc_id", "keep"), "doc_id"
        )

    batch = {
        r.doc_id: (r.text_clean, r.n_lines_kept, r.keep)
        for r in curate(spark.read.parquet(str(src))).collect()
    }

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    stream = stream_parquet(spark, str(src), "doc_id long, text string")
    # the join above is a stream-stream shape; keep the STREAM plan pure
    # map-only by composing the same stages without the join
    ld = dedup_lines_in_doc(stream)
    cleaned = c4_line_filter(
        ld.select("doc_id", F.col("text_clean").alias("text")), min_sentences=1
    )
    _drain(cleaned, cp, path=out)
    streamed = {
        r.doc_id: (r.text_clean, r.n_lines_kept)
        for r in spark.read.parquet(out).collect()
    }
    assert set(streamed) == set(batch)
    for k, (txt, nk, _keep) in batch.items():
        assert streamed[k] == (txt, nk), (k, streamed[k], batch[k])
    # the duplicated line was removed upstream, the bare line dropped by C4
    assert streamed[1][0] == "Good first line stays right here."
    assert streamed[3][0] == "A real line of content survives here."


def test_streaming_incremental_dedup_epochs(spark, tmp_path):
    """The incremental-dedup epoch posture ON the streaming runtime: each
    micro-batch folds against the persisted digest index via foreachBatch
    (survivors appended to the corpus, their digests appended to the index),
    so a document seen in ANY earlier epoch — or earlier in the same batch —
    never lands twice. This is the engine's O(batch) epoch contract driven
    by Structured Streaming's own checkpointed scheduler instead of the
    driver loop."""
    import pyspark.sql.functions as SF

    from tamer_spark.operators.dedup_incremental import (
        dedup_exact_incremental,
        exact_index,
    )
    from tamer_spark.sinks import ParquetEpochSink

    src = tmp_path / "in"
    src.mkdir()
    idx_dir, out, cp = (
        str(tmp_path / "idx"),
        str(tmp_path / "out"),
        str(tmp_path / "cp"),
    )
    corpus_sink, index_sink = ParquetEpochSink(out), ParquetEpochSink(idx_dir)
    # seed corpus + index (epoch 0)
    seed = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc")], "doc_id long, text string"
    )
    corpus_sink.write(seed, 0)
    index_sink.write(exact_index(seed), 0)

    def fold(batch_df, epoch_id):
        # epoch-idempotent writes (the engine Sink contract): a replayed
        # micro-batch overwrites its own epoch partition instead of
        # appending duplicates — crash-between-writes safe. The index read
        # is partition-pruned to PRIOR epochs: a replayed epoch must not
        # dedup against the digests its own crashed attempt already wrote
        # (that would empty the partition on replay — data loss, not
        # idempotence).
        s = batch_df.sparkSession
        idx = index_sink.read(s).filter(
            SF.col("epoch") <= epoch_id
        ).select("content_hash")
        survivors = dedup_exact_incremental(batch_df, idx).persist()
        corpus_sink.write(survivors.select("doc_id", "text"), epoch_id + 1)
        index_sink.write(
            exact_index(survivors).join(idx, "content_hash", "left_anti"),
            epoch_id + 1,
        )
        survivors.unpersist()

    stream = stream_parquet(spark, str(src), "doc_id long, text string")
    # epoch 1: one duplicate of the seed corpus + two fresh docs (one
    # duplicated WITHIN the batch — in-batch min-id wins)
    spark.createDataFrame(
        [(10, "alpha doc"), (11, "gamma doc"), (12, "gamma doc")],
        "doc_id long, text string",
    ).write.mode("append").parquet(str(src))
    _drain(stream, cp, fold)
    # epoch 2: duplicates of epoch-1 survivors + one fresh doc
    spark.createDataFrame(
        [(20, "gamma doc"), (21, "delta doc")], "doc_id long, text string"
    ).write.mode("append").parquet(str(src))
    _drain(stream, cp, fold)

    corpus = corpus_sink.read(spark)
    texts = sorted(r.text for r in corpus.collect())
    assert texts == ["alpha doc", "beta doc", "delta doc", "gamma doc"]
    assert {r.doc_id for r in corpus.collect()} == {1, 2, 11, 21}
    # the index holds exactly one digest per distinct text
    assert index_sink.read(spark).count() == 4
    # content digests in the index match the corpus's
    idx_hashes = {r.content_hash for r in index_sink.read(spark).collect()}
    corpus_hashes = {
        r.h for r in corpus.select(SF.md5("text").alias("h")).collect()
    }
    assert idx_hashes == corpus_hashes
    # crash-replay safety: re-running a committed epoch's fold (the
    # foreachBatch replay after a crash between sink write and checkpoint
    # commit) overwrites its own epoch partitions — corpus unchanged
    replay = spark.createDataFrame(
        [(20, "gamma doc"), (21, "delta doc")], "doc_id long, text string"
    )
    fold(replay, 1)  # same epoch id the second drain committed
    assert sorted(r.text for r in corpus_sink.read(spark).collect()) == texts
    assert index_sink.read(spark).count() == 4


@pytest.mark.parametrize("reader", ["lines", "parquet"])
def test_max_files_per_trigger_bounds_each_micro_batch(spark, tmp_path, reader):
    """``max_files_per_trigger`` is the ``bufferSize`` backpressure analog:
    an AvailableNow drain over three files with a bound of one runs three
    micro-batches of one file each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "in"
    src.mkdir()
    if reader == "lines":
        for i in range(3):
            (src / f"f{i}.txt").write_text(f"{i}\n{i}\n")
        stream = spark.readStream.option("maxFilesPerTrigger", "1").text(str(src))
    else:
        for i in range(3):
            pq.write_table(pa.table({"v": [i, i]}), src / f"f{i}.parquet")
        stream = stream_parquet(spark, str(src), "v long", max_files_per_trigger=1)
    batches: dict[int, list] = {}
    _drain(
        stream,
        str(tmp_path / "cp"),
        lambda df, epoch: batches.__setitem__(epoch, sorted(str(r[0]) for r in df.collect())),
    )
    assert sorted(batches) == [0, 1, 2]
    assert sorted(batches.values()) == [["0", "0"], ["1", "1"], ["2", "2"]]


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_stream_matches_batch_read(spark, tmp_path, unit):
    """events.parquet has shipped with ts as TIMESTAMP(NANOS) and as micros;
    for both, the graded gates' file stream and ``_t``'s batch read give the
    same rows, with ts floored to the same microsecond."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = [1_704_067_200_000_000_000 + 3_600_000_001_234 * i for i in range(5)]
    ts = pa.array(nanos if unit == "ns" else [n // 1000 for n in nanos], pa.int64())
    table = pa.table({"event_id": list(range(5)), "ts": ts.cast(pa.timestamp(unit))})
    pq.write_table(table, tmp_path / "events.parquet")

    def rows(df):
        assert dict(df.dtypes)["ts"] == "timestamp"
        return {(r.event_id, r.us) for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()}

    batch = rows(Q._t(spark, str(tmp_path), "events"))
    streamed = rows(run_available_now_memory(Q._events_stream(spark, str(tmp_path)), "append"))
    assert batch == streamed == {(i, n // 1000) for i, n in enumerate(nanos)}


def test_row_gate_dedup_keeps_bounded_state(spark, monkeypatch):
    """streaming_row_gates dedups through ``stream_dedup_exact`` with its
    ts column: the drained plan is ``dropDuplicatesWithinWatermark``, whose
    state a key leaves once the watermark passes it, not the unbounded
    ``dropDuplicates``."""
    from tamer_spark.streaming import readers

    drained = []

    def spy(stream_df, output_mode):
        drained.append(stream_df)
        return run_available_now_memory(stream_df, output_mode)

    monkeypatch.setattr(readers, "run_available_now_memory", spy)
    out = Q.REGISTRY["streaming_row_gates"].spark(spark, SF_DIR)
    dedup = drained[0]._jdf.queryExecution().analyzed()
    assert dedup.nodeName() == "DeduplicateWithinWatermark"
    n_events = Q._t(spark, SF_DIR, "events").count()
    assert out.filter(F.col("variant") == "dedup").count() == n_events


def test_windowed_agg_matches_batch(spark, tmp_path):
    t0 = datetime(2024, 1, 1)
    rows = [(t0 + timedelta(minutes=7 * i), i % 3, float(i)) for i in range(40)]
    schema = "ts timestamp, k int, v double"
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).write.parquet(src)

    stream = windowed_agg(
        stream_parquet(spark, src, schema),
        "ts",
        F.window("ts", "1 hour"),
        watermark="2 hours",
        keys=["k"],
        aggs=[F.count(F.lit(1)).alias("n"), F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_c")],
    )
    # update mode re-emits changed windows per epoch; upsert by window key
    upserted: dict[tuple, tuple] = {}
    _drain(
        stream,
        str(tmp_path / "cp"),
        lambda df, epoch: upserted.update(
            {(r.window_start, r.k): (r.n, r.sum_c) for r in df.collect()}
        ),
        output_mode="update",
    )
    batch = (
        spark.read.parquet(src)
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_c"))
        .collect()
    )
    assert upserted == {(r.window_start, r.k): (r.n, r.sum_c) for r in batch}


def test_sliding_window_agg_matches_batch(spark, tmp_path):
    """Sliding windows (1h window, 30m slide): every event lands in exactly
    two windows; the streamed result must match the batch double-count."""
    t0 = datetime(2024, 1, 1)
    rows = [(t0 + timedelta(minutes=11 * i), float(i)) for i in range(30)]
    schema = "ts timestamp, v double"
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).write.parquet(src)

    stream = windowed_agg(
        stream_parquet(spark, src, schema),
        "ts",
        F.window("ts", "1 hour", "30 minutes"),
        watermark="2 hours",
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    upserted: dict = {}
    _drain(
        stream,
        str(tmp_path / "cp"),
        lambda df, epoch: upserted.update({r.window_start: r.n for r in df.collect()}),
        output_mode="update",
    )
    # batch equivalent: window(ts, 1h, 30m) via the same built-in on a static read
    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
        .collect()
    )
    assert upserted == {r.window_start: r.n for r in batch}
    # sliding property: total window-membership is 2x the event count
    assert sum(upserted.values()) == 2 * len(rows)


def test_session_window_agg(spark, tmp_path):
    t0 = datetime(2024, 1, 1)
    # two sessions per user: a burst, a >30min gap, another burst
    rows = []
    for u in (1, 2):
        rows += [(t0 + timedelta(minutes=m), u) for m in (0, 5, 10)]
        rows += [(t0 + timedelta(minutes=m), u) for m in (90, 95)]
    schema = "ts timestamp, user int"
    src = str(tmp_path / "sess")
    spark.createDataFrame(rows, schema).write.parquet(src)

    out: dict = {}
    stream = windowed_agg(
        stream_parquet(spark, src, schema),
        "ts",
        F.session_window("ts", "30 minutes"),
        keys=["user"],
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    # session windows reject update mode (windows can merge); complete mode
    # re-emits the full result each epoch, which the dict upsert absorbs
    _drain(
        stream,
        str(tmp_path / "cp"),
        lambda df, e: out.update({(r.user, r.window_start): r.n_events for r in df.collect()}),
        output_mode="complete",
    )
    assert out == {
        (1, t0): 3,
        (1, t0 + timedelta(minutes=90)): 2,
        (2, t0): 3,
        (2, t0 + timedelta(minutes=90)): 2,
    }


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicate keys arriving within the watermark
    are collapsed; state is keyed on the digest, bounded by the watermark."""
    import pyspark.sql.types as T

    from tamer_spark.streaming.readers import stream_dedup_exact

    src = tmp_path / "in"
    base = datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (1, "hello world", base),
        (2, "hello world", base + timedelta(seconds=30)),  # dup content
        (3, "something else", base + timedelta(seconds=60)),
        (4, "hello world", base + timedelta(seconds=90)),  # dup again
    ]
    spark.createDataFrame(rows, "doc_id long, text string, ts timestamp").write.parquet(str(src))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = stream_parquet(spark, str(src), schema).select(
        "doc_id", "ts", F.md5("text").alias("content_hash")
    )
    deduped = stream_dedup_exact(stream, ["content_hash"], ts_col="ts", watermark="10 minutes")
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    _drain(deduped, cp, path=out)
    got = spark.read.parquet(out).collect()
    assert len(got) == 2  # one per distinct content
    assert sorted({r.content_hash for r in got}) == sorted(set(r.content_hash for r in got))


def test_streaming_exsub_removal_epochs(spark, tmp_path):
    """ExactSubstr REMOVAL on the streaming runtime: each micro-batch cuts
    its duplicated token runs against the persisted window-hash index via
    foreachBatch (rebuilt texts appended to the corpus, the batch's
    distinct window hashes appended to the index), so a verbatim run seen
    in ANY earlier epoch — or earlier in the same batch — survives exactly
    once corpus-wide while every host doc keeps its unique remainder
    (row-preserving, unlike the drop-a-doc dedup fold above)."""
    import pyspark.sql.functions as SF

    from tamer_spark.operators.runs import (
        exsub_dedup_incremental,
        exsub_window_index,
        token_window_hashes,
    )
    from tamer_spark.sinks import ParquetEpochSink

    L = 4
    src = tmp_path / "in"
    src.mkdir()
    corpus_sink = ParquetEpochSink(str(tmp_path / "out"))
    index_sink = ParquetEpochSink(str(tmp_path / "widx"))
    seed = spark.createDataFrame(
        [(1, "k1 k2 k3 k4 k5", 0)], "doc_id long, text string, n_removed long"
    )
    corpus_sink.write(seed, 0)
    seed = seed.select("doc_id", "text")
    index_sink.write(exsub_window_index(seed, length=L), 0)

    def fold(batch_df, epoch_id):
        s = batch_df.sparkSession
        idx = (
            index_sink.read(s).filter(SF.col("epoch") <= epoch_id).select("h")
        )
        cut = exsub_dedup_incremental(batch_df, idx, length=L).persist()
        corpus_sink.write(
            cut.select("doc_id", SF.col("text_dedup").alias("text"), "n_removed"),
            epoch_id + 1,
        )
        index_sink.write(
            token_window_hashes(batch_df, length=L)
            .select("h")
            .distinct()
            .join(idx, "h", "left_anti"),
            epoch_id + 1,
        )
        cut.unpersist()

    stream = stream_parquet(spark, str(src), "doc_id long, text string")
    # epoch 1: one doc embeds the seed's run (cut, remainder kept), one
    # fresh doc, and an intra-batch pair sharing a novel run
    spark.createDataFrame(
        [
            (10, "pre k1 k2 k3 k4 k5 post"),
            (11, "n1 n2 n3 n4 n5"),
            (12, "x0 n1 n2 n3 n4 n5 x1"),
        ],
        "doc_id long, text string",
    ).write.mode("append").parquet(str(src))
    _drain(stream, str(tmp_path / "cp"), fold)
    # epoch 2: a doc embedding epoch-1's novel run — the ADVANCED index
    # must cut it
    spark.createDataFrame(
        [(20, "z1 n1 n2 n3 n4 z2")], "doc_id long, text string"
    ).write.mode("append").parquet(str(src))
    _drain(stream, str(tmp_path / "cp"), fold)

    got = {
        r.doc_id: (r.text, r.n_removed)
        for r in corpus_sink.read(spark).filter(SF.col("epoch") > 0).collect()
    }
    # doc 10 lost the 5-token seed run but kept its remainder; doc 11 is
    # canonical for the novel run; doc 12 (intra-batch later (id, pos))
    # lost it; doc 20 lost it against the advanced index
    assert got[10] == ("pre post", 5)
    assert got[11] == ("n1 n2 n3 n4 n5", 0)
    assert got[12] == ("x0 x1", 5)
    assert got[20] == ("z1 z2", 4)
    # every batch doc survives as a row (row-preserving contract)
    assert set(got) == {10, 11, 12, 20}
    # crash-replay: re-running a committed epoch's fold overwrites its own
    # partitions — corpus unchanged
    replay = spark.createDataFrame(
        [(20, "z1 n1 n2 n3 n4 z2")], "doc_id long, text string"
    )
    fold(replay, 1)
    got2 = {
        r.doc_id: (r.text, r.n_removed)
        for r in corpus_sink.read(spark).filter(SF.col("epoch") > 0).collect()
    }
    assert got2 == got


def test_import_leaves_pandas_unloaded():
    """``import tamer_spark.streaming`` costs no pandas import (about 0.35 s
    of the package's import time when a stateful operator imported it
    eagerly). Run in a fresh interpreter: this one has pandas already."""
    import subprocess
    import sys
    from pathlib import Path

    code = "import sys, tamer_spark.streaming; sys.exit('pandas' in sys.modules)"
    root = Path(__file__).resolve().parents[1]
    assert subprocess.run([sys.executable, "-c", code], cwd=root).returncode == 0
