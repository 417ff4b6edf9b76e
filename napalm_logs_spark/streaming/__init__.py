from .sink import exactly_once_parquet_sink
from .pipeline import build_stream, run_stream_once

__all__ = [
    "exactly_once_parquet_sink",
    "build_stream",
    "run_stream_once",
]
