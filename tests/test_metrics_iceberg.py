"""Observability (metrics table) + Iceberg source degradation."""

import json
import os

from napalm_logs_spark.sources.transcripts import (
    golden_transcripts_pandas,
    transcripts_df,
)
from napalm_logs_spark.streaming.pipeline import run_stream_once


def test_metrics_jsonl_per_batch(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    mpath = str(tmp_path / "metrics.jsonl")
    pdf = golden_transcripts_pandas().iloc[:40]
    transcripts_df(spark, pdf).coalesce(1).write.parquet(src)
    run_stream_once(spark, src, [out], ckpt, dedup=False, metrics_jsonl=mpath)
    rows = [json.loads(l) for l in open(mpath)]
    assert rows, "no metrics captured"
    row = rows[0]
    assert row["num_input_rows"] == 40
    assert row["observed"]["n_rows"] >= 40  # explode can exceed input
    assert "n_raw" in row["observed"] and "n_unknown" in row["observed"]
    assert row["batch_id"] == 0
    assert row["duration_ms"]["addBatch"] >= 0
    assert row["state_operators"] == []

    # dedup on: the state operator reports its commit time and its
    # partitioning (one state store instance per shuffle partition)
    dpath = str(tmp_path / "dedup.jsonl")
    run_stream_once(spark, src, [str(tmp_path / "dout")], str(tmp_path / "dckpt"),
                    dedup=True, metrics_jsonl=dpath)
    drows = [json.loads(l) for l in open(dpath)]
    # one row per committed batch, the last (watermark-eviction) one too
    commits = sorted(int(f) for f in os.listdir(str(tmp_path / "dckpt" / "commits"))
                     if f.isdigit())
    assert [r["batch_id"] for r in drows] == commits
    row = drows[0]
    assert {"addBatch", "triggerExecution"} <= set(row["duration_ms"])
    (op,) = row["state_operators"]
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert op["num_shuffle_partitions"] == parts
    assert op["num_state_store_instances"] == parts
    assert op["commit_time_ms"] >= 0


def test_iceberg_source_degrades_without_jar(spark):
    import pytest

    from napalm_logs_spark.streaming.iceberg import (
        iceberg_available,
        iceberg_transcript_stream,
    )

    assert iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="--packages"):
        iceberg_transcript_stream(spark, "lake.transcripts")


def test_pipeline_routes_iceberg_source(spark):
    import pytest

    from napalm_logs_spark.streaming.pipeline import build_stream

    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        build_stream(spark, "iceberg:lake.transcripts")
