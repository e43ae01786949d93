from tamer_spark.streaming.readers import (
    run_available_now,
    run_available_now_memory,
    stream_lines,
    stream_parquet,
    windowed_agg,
)
from tamer_spark.streaming.stateful import stateful_running_totals

__all__ = [
    "stream_lines",
    "stream_parquet",
    "windowed_agg",
    "run_available_now",
    "run_available_now_memory",
    "stateful_running_totals",
]
