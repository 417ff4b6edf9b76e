"""Exactly-once multi-sink publishing — the one publisher module.

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

Each :class:`SinkSpec` names exactly one target: a parquet path, the
console, a Kafka topic (SURVEY K2) or an HTTP endpoint (K4).  Kafka and
HTTP publish the same payload, :func:`..operators.serialize.serialize_envelopes`
over ``PAYLOAD_COLS`` (K6).  Neither a log nor an endpoint offers an
idempotent overwrite, so both are at-least-once under batch retries
(the reference's queue has the same contract).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..jvm import jvm_class_available
from ..operators.serialize import get_serializer, serialize_envelopes


@dataclass(frozen=True)
class SinkSpec:
    """One publisher: exactly one target + filters + projection.

    ``path`` makes it a parquet writer.  ``console=True`` makes it a
    debug printer — the reference's CLI/log transports
    (transport/cli.py:14-24, transport/log.py:18-42): each micro-batch
    prints up to ``console_rows`` envelopes (ordered) to stdout.

    ``kafka_bootstrap`` makes it a Kafka publisher (reference
    transport/kafka.py:26-58): each micro-batch's filtered envelopes go
    to ``kafka_topic`` as records keyed by conv_id, so one conversation
    always lands in one Kafka partition (per-key ordering), with the
    payload in ``serializer`` (msgpack = the reference's wire default,
    binary values).

    ``http_url`` makes it an HTTP publisher (reference
    transport/http.py:42-176): each partition POSTs its filtered
    envelopes as JSON-array chunks of ``http_batch`` from the executors.
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
    kafka_topic: str = "napalm-logs"  # reference transport/kafka.py:43
    serializer: str = "json"    # K6 matrix; "msgpack" = reference default
    http_url: str = ""          # K4: POST envelopes from the executors
    http_batch: int = 200

    def __post_init__(self):
        # a parquet sink without a path would silently write
        # "_batch_id=N" into the driver's CWD; a second target would be
        # silently ignored by the fan-out
        targets = (self.path, self.console, self.kafka_bootstrap, self.http_url)
        if sum(map(bool, targets)) != 1:
            raise ValueError(
                "SinkSpec requires exactly one of path, console=True, "
                "kafka_bootstrap or http_url"
            )
        get_serializer(self.serializer)  # fail fast on unknown names

    @property
    def target(self) -> str:
        """Where this sink publishes: its path, ``console``, the Kafka
        bootstrap servers or the HTTP URL."""
        if self.console:
            return "console"
        return self.path or self.kafka_bootstrap or self.http_url


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


def _kafka_records(out: DataFrame, sink: SinkSpec) -> DataFrame:
    """Envelope rows → Kafka record shape ``(key, value, topic)``."""
    return serialize_envelopes(out, sink.serializer).select(
        F.col("conv_id").cast("string").alias("key"),
        F.col("payload").alias("value"),
        F.lit(sink.kafka_topic).alias("topic"),
    )


def _http_poster(url: str, batch_size: int):
    """Partition function POSTing JSON-array chunks to ``url``.

    Raises on any non-2xx response so Spark retries the task — transient
    endpoint failures surface as task retries, like the reference's
    worker re-queue.  Only the stdlib is used, so it runs on any
    executor image.
    """

    def poster(rows) -> None:
        import itertools
        import urllib.request

        rows = iter(rows)
        while chunk := list(itertools.islice(rows, batch_size)):
            data = "[" + ",".join(row["payload"] for row in chunk) + "]"
            req = urllib.request.Request(
                url,
                data=data.encode("utf-8"),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urllib.request.urlopen(req, timeout=10.0) as resp:
                if not (200 <= resp.status < 300):
                    raise RuntimeError(
                        f"HTTP sink: {url} returned {resp.status}"
                    )

    return poster


def _publish(out: DataFrame, sink: SinkSpec, batch_id: int) -> None:
    """Write one sink's filtered envelopes of one micro-batch to its
    target."""
    if sink.console:
        print(f"-- batch {batch_id} --")
        out.orderBy(*ORDER_COLS).show(sink.console_rows, truncate=False)
    elif sink.kafka_bootstrap:
        if not jvm_class_available(
            out.sparkSession, "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        ):
            raise RuntimeError(
                "Kafka sink configured but the connector is not "
                "on the classpath; launch with --packages "
                "org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>"
            )
        (
            _kafka_records(out, sink)
            .write.format("kafka")
            .option("kafka.bootstrap.servers", sink.kafka_bootstrap)
            .save()
        )
    elif sink.http_url:
        # executor-side POSTs: no driver collect, N partitions post in
        # parallel like the reference's worker pool
        serialize_envelopes(out, "json").select("payload").foreachPartition(
            _http_poster(sink.http_url, sink.http_batch)
        )
    else:
        target = os.path.join(sink.path, f"_batch_id={batch_id}")
        out.write.mode("overwrite").parquet(target)


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
                _publish(_apply_sink_filters(enriched, sink), sink, int(batch_id))
        finally:
            if cached:
                enriched.unpersist()

    return _write
