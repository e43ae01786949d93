from tamer_spark.functions.hashing import stable_hash64
from tamer_spark.functions.text import (
    words,
    word_count,
    text_stats_cols,
    token_count_col,
    scrub_pii_col,
    pii_count_cols,
    trim_nonempty_sql,
)

__all__ = [
    "stable_hash64",
    "words",
    "word_count",
    "text_stats_cols",
    "token_count_col",
    "scrub_pii_col",
    "pii_count_cols",
    "trim_nonempty_sql",
]
