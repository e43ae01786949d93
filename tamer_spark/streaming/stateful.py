"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference's whole engine is one stateful operator (consume state → emit
records + next state, Tamer.scala:150-186). In-stream, per-key versions of
that pattern — running totals, custom folds — map onto
``applyInPandasWithState``: Spark keeps the per-key state in its checkpointed
state store (exactly-once across restarts), we supply the fold. Dedup-by-key
needs no fold: ``readers.stream_dedup_exact`` is Spark's own bounded-state
operator.

State-size discipline at scale: per-key state must be O(1) (a few counters),
never a growing collection; use timeouts to expire idle keys.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stateful_running_totals(df, key_col: str, value_col: str):
    """Per-key running (count, sum) maintained in the streaming state store.

    Emits one row per key per micro-batch with the cumulative totals — the
    reference's state-fold shape (#4) expressed as a first-class streaming
    operator. ``value_col`` is summed in integer cents for determinism.
    """

    def fold(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        count, total_c = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            count += len(pdf)
            total_c += int((pdf[value_col] * 100).round().astype("int64").sum())
        state.update((count, total_c))
        yield pd.DataFrame({key_col: [key[0]], "n": [count], "total_c": [total_c]})

    return df.groupBy(key_col).applyInPandasWithState(
        fold,
        outputStructType=f"{key_col} long, n long, total_c long",
        stateStructType="count long, total_c long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

