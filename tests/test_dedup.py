"""TTL dedup semantics (reference server.py:301-320, buffer/memory.py)."""

import datetime

import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.operators.dedup import (
    dedup_gap_session,
    dedup_streaming,
    dedup_ttl_exact,
)

BASE = datetime.datetime(2017, 7, 20, 21, 45, 59)


def _df(spark, offsets, key="k1"):
    rows = [
        (key, i, "agent", f"msg-{key}", None, BASE + datetime.timedelta(seconds=o))
        for i, o in enumerate(offsets)
    ]
    return spark.createDataFrame(
        rows, "os string, turn_idx int, role string, message string, host string, ts timestamp"
    ).withColumn("host", F.lit("h1"))


def test_exact_ttl_anchored(spark):
    # 0s keep, 3s drop, 6s: gap-from-anchor 6 >= 5 → KEEP (anchored at 0,
    # not refreshed by the 3s duplicate)
    out = dedup_ttl_exact(_df(spark, [0, 3, 6]), ttl_seconds=5.0)
    assert sorted(r.turn_idx for r in out.collect()) == [0, 2]


def test_exact_ttl_long_burst_suppression_reopens(spark):
    # continuous burst at 0,2,4,6: anchor 0 keeps; 2,4 dropped; 6 kept
    # (6-0 >= 5) → new anchor; this is where gap-session differs
    out = dedup_ttl_exact(_df(spark, [0, 2, 4, 6]), ttl_seconds=5.0)
    assert sorted(r.turn_idx for r in out.collect()) == [0, 3]
    gap = dedup_gap_session(_df(spark, [0, 2, 4, 6]), ttl_seconds=5.0)
    assert sorted(r.turn_idx for r in gap.collect()) == [0]


def test_gap_session_equiv_for_short_bursts(spark):
    df = _df(spark, [0, 1, 10, 11, 30])
    exact = sorted(r.turn_idx for r in dedup_ttl_exact(df, 5.0).collect())
    gap = sorted(r.turn_idx for r in dedup_gap_session(df, 5.0).collect())
    assert exact == gap == [0, 2, 4]


def test_keys_do_not_interfere(spark):
    df = _df(spark, [0, 1]).union(_df(spark, [0.5], key="k2"))
    out = dedup_ttl_exact(df, 5.0)
    assert out.count() == 2  # one per key


def test_streaming_dedup_drops_within_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    _df(spark, [0, 1, 2]).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "conv_id string, os string, turn_idx int, role string, message string, "
            "host string, ts timestamp"
        ).parquet(src)
    )
    deduped = dedup_streaming(stream, watermark="10 seconds")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from dedup_stream_test").collect()
    # dropDuplicatesWithinWatermark keeps the first ARRIVAL per key;
    # arrival order across tasks is not event-time order, so only the
    # count is deterministic here (exact anchored-TTL semantics live in
    # the batch dedup_ttl_exact; there is no exact streaming form)
    assert len(got) == 1
