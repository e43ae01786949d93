"""Bucketed co-located joins (zero-exchange) and JVM text chunking against
a Python UDTF reference."""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from tamer_spark.functions.chunking import chunk_text_expr
from tamer_spark.plans import plan_shape
from tamer_spark.sinks.bucketed import write_bucketed
from tests.conftest import SF_DIR


def test_bucketed_join_has_no_exchange(spark):
    import shutil

    # the in-memory catalog forgets tables between sessions but their
    # warehouse directories persist; clear both or saveAsTable refuses
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("orders_b", "customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    write_bucketed(orders, "orders_b", ["o_custkey"], num_buckets=8)
    write_bucketed(customer, "customer_b", ["c_custkey"], num_buckets=8)
    joined = spark.table("orders_b").join(
        spark.table("customer_b").hint("merge"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    # both sides pre-shuffled on the join key at write time → zero exchanges
    assert plan_shape(joined).shuffles == 0
    assert joined.count() == orders.count()


def _chunk_text_udtf():
    """Reference chunker as a UDTF class: (doc_id, text, words_per_chunk) →
    (doc_id, chunk_id, chunk, n_words), normalizing as
    operators.dedup.normalize_text does on ASCII input. Made inside a
    function so the Python workers get it by value, not by test-module
    import."""

    class ChunkText:
        def eval(self, doc_id: int, text: str, words_per_chunk: int = 50):  # noqa: D102
            words = re.sub(r"\s+", " ", (text or "").lower()).strip().split(" ")
            for cid, start in enumerate(range(0, len(words), words_per_chunk)):
                piece = words[start : start + words_per_chunk]
                yield doc_id, cid, " ".join(piece), len(piece)

    return ChunkText


def test_udtf_chunking_matches_jvm_expr(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    returns = "doc_id bigint, chunk_id bigint, chunk string, n_words bigint"
    spark.udtf.register("chunk_text", udtf(_chunk_text_udtf(), returnType=returns))
    docs.createOrReplaceTempView("docs_v")
    via_udtf = spark.sql(
        "SELECT c.doc_id, c.chunk_id, c.chunk, c.n_words "
        "FROM docs_v t, LATERAL chunk_text(t.doc_id, t.text, 50) c"
    )
    via_expr = docs.select(
        "doc_id", F.posexplode(chunk_text_expr(F.col("text"), 50)).alias("chunk_id", "chunk")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long"),
        "chunk",
        F.when(F.length("chunk") == 0, 0)
        .otherwise(F.size(F.split(F.col("chunk"), " ")))
        .cast("long")
        .alias("n_words"),
    )
    a = sorted(map(tuple, via_udtf.collect()))
    b = sorted(map(tuple, via_expr.collect()))
    assert a == b
    assert len(a) > docs.count()  # real 1→N explosion


def test_chunker_word_budget():
    rows = list(_chunk_text_udtf()().eval(7, "a b c d e f g", 3))
    assert rows == [(7, 0, "a b c", 3), (7, 1, "d e f", 3), (7, 2, "g", 1)]


def test_overlap_chunking_coverage_and_stride(spark):
    import pytest

    from tamer_spark.functions.chunking import chunk_text_expr, chunk_text_overlap_expr

    words = [f"w{i}" for i in range(23)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    chunks = [
        r.c
        for r in df.select(
            F.explode(chunk_text_overlap_expr(F.col("text"), 10, 3)).alias("c")
        ).collect()
    ]
    # stride 7: starts at 0, 7, 14 -> 3 chunks; last is short (words 14..22)
    assert len(chunks) == 3
    assert chunks[0].split(" ") == words[0:10]
    assert chunks[1].split(" ") == words[7:17]
    assert chunks[2].split(" ") == words[14:23]
    # full coverage + consecutive overlap of exactly 3 where both full
    assert set(" ".join(chunks).split(" ")) == set(words)
    assert chunks[0].split(" ")[-3:] == chunks[1].split(" ")[:3]

    # overlap=0 degrades to the plain chunker
    plain = df.select(chunk_text_expr(F.col("text"), 10).alias("a")).collect()[0].a
    zero = (
        df.select(chunk_text_overlap_expr(F.col("text"), 10, 0).alias("a"))
        .collect()[0]
        .a
    )
    assert zero == plain

    # short doc -> exactly one chunk; boundary doc (n == wpc) too
    short = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert (
        short.select(chunk_text_overlap_expr(F.col("text"), 10, 3).alias("a"))
        .collect()[0]
        .a
        == ["a b c"]
    )
    exact10 = spark.createDataFrame(
        [(1, " ".join(words[:10]))], "doc_id long, text string"
    )
    assert (
        len(
            exact10.select(chunk_text_overlap_expr(F.col("text"), 10, 3).alias("a"))
            .collect()[0]
            .a
        )
        == 1
    )

    with pytest.raises(ValueError, match="overlap must be"):
        chunk_text_overlap_expr(F.col("text"), 10, 10)


def test_overlap_chunking_matches_python_replay_randomized(spark):
    import random

    from tamer_spark.functions.chunking import chunk_text_overlap_expr

    rng = random.Random(42)
    rows = [
        (i, " ".join(f"t{i}x{j}" for j in range(rng.randrange(1, 130))))
        for i in range(40)
    ]
    wpc, ov = 50, 10
    stride = wpc - ov
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.a
        for r in df.select(
            "doc_id", chunk_text_overlap_expr(F.col("text"), wpc, ov).alias("a")
        ).collect()
    }
    for i, text in rows:
        ws = text.split(" ")
        n = len(ws)
        k = 1 if n <= wpc else (n - wpc + stride - 1) // stride + 1
        want = [" ".join(ws[j * stride : j * stride + wpc]) for j in range(k)]
        assert got[i] == want, i
