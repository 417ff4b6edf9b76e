"""Streaming pipeline: exactly-once sink, checkpoint resume, per-sink
filters, lineage columns, stable output ordering."""

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.sources.transcripts import (
    golden_transcripts_pandas,
    transcripts_df,
)
from napalm_logs_spark.streaming.pipeline import run_stream_once
from napalm_logs_spark.streaming.maintenance import read_table
from napalm_logs_spark.streaming.sink import SinkSpec


@pytest.fixture()
def dirs(tmp_path):
    return {
        "src": str(tmp_path / "src"),
        "out": str(tmp_path / "out"),
        "out2": str(tmp_path / "out2"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _write_batch(spark, src, pdf):
    transcripts_df(spark, pdf).coalesce(1).write.mode("append").parquet(src)


def test_stream_end_to_end_and_resume(spark, dirs):
    pdf = golden_transcripts_pandas()
    first, second = pdf.iloc[:60], pdf.iloc[60:]

    _write_batch(spark, dirs["src"], first)
    run_stream_once(spark, dirs["src"], [dirs["out"]], dirs["ckpt"], dedup=False)
    n1 = read_table(spark, dirs["out"]).count()
    assert n1 > 0

    # resume from checkpoint with new files — old files must not re-read
    _write_batch(spark, dirs["src"], second)
    run_stream_once(spark, dirs["src"], [dirs["out"]], dirs["ckpt"], dedup=False)
    out = read_table(spark, dirs["out"])
    total = out.count()

    # every golden conv exactly the batch-path number of envelopes: no
    # dups, no losses across the restart
    per_conv = out.groupBy("conv_id").count()
    assert per_conv.filter(F.col("count") > 2).count() == 0
    assert out.select("conv_id").distinct().count() == len(pdf)
    assert total > n1

    # lineage columns present, multiple batch ids
    assert set(["_batch_id", "_task_partition"]).issubset(set(out.columns))
    assert out.select("_batch_id").distinct().count() >= 2


def test_replayed_batch_is_idempotent(spark, dirs):
    pdf = golden_transcripts_pandas().iloc[:40]
    _write_batch(spark, dirs["src"], pdf)
    run_stream_once(spark, dirs["src"], [dirs["out"]], dirs["ckpt"], dedup=False)
    before = read_table(spark, dirs["out"]).count()

    # simulate a retried micro-batch: wipe the checkpoint so the same
    # input replays with the same batch id — the sink must overwrite,
    # not append
    import shutil

    shutil.rmtree(dirs["ckpt"])
    run_stream_once(spark, dirs["src"], [dirs["out"]], dirs["ckpt"], dedup=False)
    after = read_table(spark, dirs["out"]).count()
    assert after == before


def test_per_sink_filters(spark, dirs):
    pdf = golden_transcripts_pandas().iloc[:40]
    _write_batch(spark, dirs["src"], pdf)
    sinks = [
        SinkSpec(path=dirs["out"], send_raw=True, send_unknown=True),
        SinkSpec(path=dirs["out2"], whitelist=("INTERFACE_DOWN",),
                 strip_message_details=True),
    ]
    run_stream_once(
        spark, dirs["src"], None, dirs["ckpt"], sinks=sinks, dedup=False
    )
    full = read_table(spark, dirs["out"])
    filtered = read_table(spark, dirs["out2"])
    assert filtered.count() < full.count()
    errs = {r.error for r in filtered.select("error").distinct().collect()}
    assert errs == {"INTERFACE_DOWN"}
    assert "message_details" not in filtered.columns


def test_output_sorted_within_partitions(spark, dirs):
    pdf = golden_transcripts_pandas().iloc[:40]
    _write_batch(spark, dirs["src"], pdf)
    run_stream_once(spark, dirs["src"], [dirs["out"]], dirs["ckpt"], dedup=False)
    # each parquet file must be internally sorted by (conv_id, turn_idx)
    for f in glob.glob(dirs["out"] + "/_batch_id=*/part-*.parquet"):
        rows = spark.read.parquet(f).select("conv_id", "turn_idx").collect()
        keys = [(r.conv_id, r.turn_idx) for r in rows]
        assert keys == sorted(keys), f
