"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen_if_narrow_scan(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the input has far fewer partitions than the
    cluster has cores (small-file single-split scans, common in tests and
    tiny dims, serialize CPU-heavy narrow stages onto one core).

    At real scale a 100 TB scan already has thousands of splits and this
    is a no-op — no shuffle is inserted.  The threshold is << cores so a
    reasonably-split input is never reshuffled.

    Streaming DataFrames pass through untouched (micro-batch split count
    is the source's concern — ``streaming/pipeline.py`` has its own
    repartition guard — and ``.rdd`` is illegal on a streaming plan).
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 1):
        return df.repartition(target)
    return df
