"""End-to-end streaming wiring.

readStream (parquet/Iceberg transcript table) → vectorized normalize →
watermark dedup → exactly-once multi-sink foreachBatch.

The reference's process graph (listener → server → device → publisher)
collapses into this single streaming query; its ZMQ HWM backpressure
becomes ``maxFilesPerTrigger`` / micro-batch admission; its watchdog
becomes checkpoint recovery.  Checkpointing makes the query resumable:
a restart replays the last uncommitted batch, and the idempotent sink
makes the replay invisible (exactly-once end-to-end).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.dedup import dedup_streaming
from ..operators.normalize import normalize
from ..sources.transcripts import TRANSCRIPT_SCHEMA
from .sink import SinkSpec, exactly_once_parquet_sink


def transcript_stream(
    spark: SparkSession,
    source_dir: str,
    *,
    max_files_per_trigger: int | None = None,
    source_format: str = "parquet",
):
    """The transcript source as a streaming DataFrame; every query of
    ``run`` reads it through here.

    ``source_dir`` is a parquet (or, with ``source_format="json"``,
    JSON-lines) directory, or ``iceberg:<table>`` to tail the
    transcripts Iceberg table (north-rule source; requires the runtime
    jar — see :mod:`.iceberg`).  JSON ingest is PERMISSIVE: a corrupt
    line becomes a null-text row, which the engine's own fallback
    semantics already classify (the reference's raw/unknown path for
    unparseable input, server.py:183)."""
    if source_dir.startswith("iceberg:"):
        from .iceberg import iceberg_transcript_stream

        return iceberg_transcript_stream(
            spark,
            source_dir[len("iceberg:"):],
            max_files_per_micro_batch=max_files_per_trigger,
        )
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if source_format == "json":
        return reader.option("mode", "PERMISSIVE").json(source_dir)
    return reader.parquet(source_dir)


def build_stream(
    spark: SparkSession,
    source_dir: str,
    *,
    registry=None,
    max_files_per_trigger: int | None = None,
    watermark: str = "30 seconds",
    dedup: bool = True,
    source_format: str = "parquet",
):
    """Transcript source (:func:`transcript_stream`) → normalized (and
    optionally deduped) streaming DataFrame."""
    stream = transcript_stream(
        spark,
        source_dir,
        max_files_per_trigger=max_files_per_trigger,
        source_format=source_format,
    )
    env = normalize(stream, registry)
    if dedup:
        env = dedup_streaming(env, watermark=watermark)
    return env


def run_stream_once(
    spark: SparkSession,
    source_dir: str,
    sink_dirs,
    checkpoint_dir: str,
    *,
    registry=None,
    sinks=None,
    metrics_jsonl: str | None = None,
    **kwargs,
):
    """Run the pipeline over all currently-available input
    (Trigger.AvailableNow), blocking until done.  Re-invoking with new
    source files resumes from the checkpoint — already-processed files
    are not re-read, and replayed batches overwrite themselves.

    ``metrics_jsonl`` attaches observed metrics + a progress recorder
    writing one JSONL row per micro-batch (the metrics table)."""
    from .metrics import ProgressRecorder, with_observed_metrics

    env = build_stream(spark, source_dir, registry=registry, **kwargs)
    recorder = None
    if metrics_jsonl is not None:
        env = with_observed_metrics(env)
        recorder = ProgressRecorder(metrics_jsonl)
        spark.streams.addListener(recorder)
    if sinks is None:
        sinks = [SinkSpec(path=p, send_raw=True, send_unknown=True) for p in sink_dirs]
    try:
        query = (
            env.writeStream.foreachBatch(exactly_once_parquet_sink(sinks))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        if recorder is not None and (last := query.lastProgress) is not None:
            # listener events are delivered asynchronously on the bus —
            # give them a moment to drain after termination, until the
            # query's last batch (often a no-data watermark-eviction
            # batch) has its row
            import time

            want = (str(last["id"]), last["batchId"])
            for _ in range(100):
                if any((r["query_id"], r["batch_id"]) == want for r in recorder.rows):
                    break
                time.sleep(0.1)
    finally:
        if recorder is not None:
            spark.streams.removeListener(recorder)
    return query


def run_orphan_alerts_once(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    horizon_seconds: int = 60,
    watermark: str = "2 minutes",
    max_files_per_trigger: int | None = None,
    source_format: str = "parquet",
) -> None:
    """Companion alert query off the same transcript source: agent turns
    with no tool response within ``horizon_seconds`` (request-timeout
    alarms) appended to ``sink_dir``.

    Runs as a stream-stream left-outer interval join
    (:func:`...cep.orphan_agent_turns` with ``streaming=True``).
    Separate checkpoint: the alert query's watermark/state lifecycle is
    independent of the envelope pipeline's.
    """
    from ..operators.cep import orphan_agent_turns

    alerts = orphan_agent_turns(
        transcript_stream(
            spark,
            source_dir,
            max_files_per_trigger=max_files_per_trigger,
            source_format=source_format,
        ),
        horizon_seconds=horizon_seconds,
        streaming=True,
        watermark=watermark,
    )
    q = (
        alerts.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
