"""Byte-pair-encoding tokenizer: distributed counting, driver-side merges,
Arrow-batched application.

The honest division of labor for BPE at corpus scale (GPT-2 style):

- **word frequencies** are the corpus-sized computation → distributed
  (explode → groupBy → count; shuffle is vocabulary-sized thanks to partial
  aggregation),
- **merge learning** operates on the word-frequency table (≈10⁵-10⁶ rows
  even for 100 TB of text) → driver-side pure Python, exact classic
  algorithm,
- **tokenization** of the corpus is again corpus-sized → Arrow-batched
  ``mapInPandas`` with an LRU per-word cache (words repeat heavily; the
  cache turns per-token work into per-distinct-word work).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"


def word_frequencies(df: DataFrame) -> DataFrame:
    """Distributed (word, freq) table over normalized text."""
    from tamer_spark.operators.dedup import normalize_text

    return (
        df.select(F.explode_outer(F.split(normalize_text(F.col("text")), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def learn_merges(word_freqs: list[tuple[str, int]], n_merges: int) -> list[tuple[str, str]]:
    """Classic BPE merge learning on a word-frequency dictionary.

    Deterministic: ties in pair frequency break lexicographically.
    """
    vocab: dict[tuple[str, ...], int] = {
        (*word, END): freq for word, freq in word_freqs if word
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for symbols, freq in vocab.items():
            for a, b in zip(symbols, symbols[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freq
        if not pairs:
            break
        # deterministic selection: highest freq, ties broken by the
        # lexicographically smallest pair
        top = max(pairs.values())
        best = min(p for p, f in pairs.items() if f == top)
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for symbols, freq in vocab.items():
            out = []
            i = 0
            while i < len(symbols):
                if i + 1 < len(symbols) and (symbols[i], symbols[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(symbols[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + freq
        vocab = new_vocab
    return merges


def train_bpe(
    df: DataFrame,
    n_merges: int = 200,
    max_vocab: int = 1 << 16,
) -> list[tuple[str, str]]:
    """Learn merges from the corpus word-frequency table.

    ``max_vocab`` bounds the driver-side collect: only the ``max_vocab``
    most frequent words (ties → lexicographically first, a total order, so
    truncation is deterministic) reach the merge learner. This is standard
    BPE practice — pair statistics are dominated by high-frequency words,
    and the long Zipf tail contributes noise — and it turns an unbounded
    distinct-word collect (billions of rows through the driver at web
    scale) into a fixed-size distributed top-K (TakeOrdered, never a global
    sort). With ``max_vocab`` ≥ the true vocabulary the result is identical
    to the untruncated computation (tests/test_bpe.py pins this).
    """
    top = (
        word_frequencies(df)
        .orderBy(F.col("freq").desc(), F.col("word"))
        .limit(max_vocab)
    )
    freqs = [(r.word, r.freq) for r in top.collect()]
    freqs.sort()  # deterministic input order regardless of partitioning
    return learn_merges(freqs, n_merges)


# Fixed merge table for the correctness gate (queries.py chunk_documents
# 'bpe' variant): three non-interacting merges — pairwise char-disjoint and
# no merged symbol feeds a later merge — chosen so greedy rank-priority
# application equals independent replace-all, which a DuckDB oracle can
# express exactly (space the chars, apply the merges as string replaces).
# learn_merges/train_bpe (arbitrary LEARNED tables, driver-side iteration)
# are pinned by pytest instead: the merge recurrence is not SQL-expressible.
GATE_MERGES: list[tuple[str, str]] = [("t", "h"), ("i", "n"), ("e", END)]


def _encoder(merges: list[tuple[str, str]]):
    ranks = {pair: i for i, pair in enumerate(merges)}

    @lru_cache(maxsize=65536)
    def encode_word(word: str) -> tuple[str, ...]:
        symbols = [*word, END]
        while len(symbols) > 1:
            best, best_rank = None, None
            for i, pair in enumerate(zip(symbols, symbols[1:])):
                r = ranks.get(pair)
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            symbols[best : best + 2] = [symbols[best] + symbols[best + 1]]
        return tuple(symbols)

    return encode_word


def apply_bpe(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize documents: (id, tokens array<string>, n_tokens)."""
    import pandas as pd

    from tamer_spark.operators.dedup import normalize_text

    merges_local = list(merges)  # serialized into the UDF closure

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        encode_word = _encoder(merges_local)
        for pdf in batches:
            toks = [
                [t for w in text.split(" ") if w for t in encode_word(w)]
                for text in pdf["_norm"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "tokens": toks, "n_tokens": [len(t) for t in toks]}
            )

    prepared = df.select("doc_id", normalize_text(F.col("text")).alias("_norm"))
    return prepared.mapInPandas(run, "doc_id long, tokens array<string>, n_tokens long")
