from tamer_spark.streaming.readers import (
    run_available_now_memory,
    stream_parquet,
    windowed_agg,
)

__all__ = [
    "stream_parquet",
    "windowed_agg",
    "run_available_now_memory",
]
