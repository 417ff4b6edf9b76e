"""Exactly-once multi-sink publishing.

The reference fan-outs each event to N publisher processes, each with
its own error white/blacklist and optional projection
(publisher.py:183-209, base.py:206-242).  Here one ``foreachBatch``
writes every configured sink per micro-batch, idempotently:

* each batch writes to a ``_batch_id=<n>`` subdirectory with
  ``mode=overwrite`` — a retried/replayed batch overwrites its own
  directory instead of duplicating rows (idempotent MERGE-by-batch
  semantics on a plain parquet lakehouse layout; on Iceberg this maps
  to MERGE on the same key);
* rows carry per-partition lineage (``_batch_id``,
  ``_task_partition``) and are sorted within partitions by
  ``(conv_id, turn_idx)`` — the reference's per-device in-order
  delivery invariant (device.py:265-276);
* per-sink error filters replicate the publisher defaults: RAW and
  UNKNOWN are denied unless the sink opts in (``send_raw`` /
  ``send_unknown``, base.py:206-242).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class SinkSpec:
    """One publisher: output path + filters + projection.

    ``console=True`` makes this sink a debug printer instead of a
    parquet writer — the reference's CLI/log transports
    (transport/cli.py:14-24, transport/log.py:18-42): each micro-batch
    prints up to ``console_rows`` envelopes (ordered) to stdout.

    ``kafka_bootstrap`` makes it a Kafka publisher (reference
    transport/kafka.py:26-58): each micro-batch's filtered envelopes go
    to ``kafka_topic`` as canonical-JSON records keyed by conv_id.
    Batch writes to Kafka are at-least-once under foreachBatch retries
    (no idempotent overwrite on a log) — consumers dedupe on
    (conv_id, turn_idx, _batch_id) if they need exactly-once.

    ``http_url`` makes it an HTTP publisher (reference
    transport/http.py:42-176): each partition POSTs its filtered
    envelopes as JSON-array chunks from the executors (at-least-once,
    see :mod:`.http_sink`).
    """

    path: str = ""
    whitelist: tuple = ()       # error codes to allow (empty = all)
    blacklist: tuple = ()       # error codes to deny
    send_raw: bool = False
    send_unknown: bool = False
    strip_message_details: bool = False
    console: bool = False
    console_rows: int = 20
    kafka_bootstrap: str = ""
    kafka_topic: str = "napalm-logs"
    serializer: str = "json"    # K6 matrix; "msgpack" = reference default
    http_url: str = ""          # K4: POST envelopes from the executors
    http_batch: int = 200

    def __post_init__(self):
        # a parquet sink without a path would silently write
        # "_batch_id=N" into the driver's CWD
        if (
            not self.console
            and not self.kafka_bootstrap
            and not self.http_url
            and not self.path
        ):
            raise ValueError(
                "SinkSpec requires a path unless console=True, "
                "kafka_bootstrap or http_url is set"
            )
        from ..operators.serialize import get_serializer

        get_serializer(self.serializer)  # fail fast on unknown names


def _apply_sink_filters(df: DataFrame, sink: SinkSpec) -> DataFrame:
    denied = set(sink.blacklist)
    if not sink.send_raw:
        denied.add("RAW")
    if not sink.send_unknown:
        denied.add("UNKNOWN")
    if sink.whitelist:
        df = df.filter(F.col("error").isin(list(sink.whitelist)))
    if denied:
        df = df.filter(~F.col("error").isin(list(denied)))
    if sink.strip_message_details and "message_details" in df.columns:
        df = df.drop("message_details")
    return df


ORDER_COLS = ("conv_id", "turn_idx")


def exactly_once_parquet_sink(sinks):
    """Build a foreachBatch function writing each micro-batch to every
    sink idempotently with lineage columns and stable ordering."""
    sinks = list(sinks)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        enriched = (
            batch_df.withColumn("_batch_id", F.lit(int(batch_id)))
            .withColumn("_task_partition", F.spark_partition_id())
            .sortWithinPartitions(*ORDER_COLS)
        )
        # cache only when >1 sink will consume the batch: with a single
        # sink the DataFrame is scanned exactly once and persist() is
        # pure overhead (a full extra serialization of every batch)
        cached = len(sinks) > 1
        if cached:
            enriched.persist()
        try:
            for sink in sinks:
                out = _apply_sink_filters(enriched, sink)
                if sink.console:
                    print(f"-- batch {int(batch_id)} --")
                    out.orderBy(*ORDER_COLS).show(sink.console_rows, truncate=False)
                    continue
                if sink.kafka_bootstrap:
                    from .kafka_sink import (
                        envelope_to_kafka_records,
                        kafka_available,
                    )

                    if not kafka_available(out.sparkSession):
                        raise RuntimeError(
                            "Kafka sink configured but the connector is not "
                            "on the classpath; launch with --packages "
                            "org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>"
                        )
                    (
                        envelope_to_kafka_records(
                            out, sink.kafka_topic, serializer=sink.serializer
                        )
                        .write.format("kafka")
                        .option("kafka.bootstrap.servers", sink.kafka_bootstrap)
                        .save()
                    )
                    continue
                if sink.http_url:
                    from .http_sink import http_envelope_publish

                    # at-least-once under batch retries (no idempotent
                    # overwrite on an HTTP endpoint; see http_sink docs)
                    http_envelope_publish(
                        out, sink.http_url, batch_size=sink.http_batch
                    )
                    continue
                target = os.path.join(sink.path, f"_batch_id={int(batch_id)}")
                out.write.mode("overwrite").parquet(target)
        finally:
            if cached:
                enriched.unpersist()

    return _write


def read_sink(spark, path: str) -> DataFrame:
    """Read a sink directory back (all batches), restoring _batch_id.
    Compaction-aware: after :func:`.maintenance.compact_sink` the read
    unions the compacted generation with the uncompacted tail."""
    from .maintenance import read_table

    return read_table(spark, path)
