"""Iceberg transcript source with graceful degradation.

The engine's canonical lakehouse format is Apache Iceberg (the north
rule's table layer).  ``run --source iceberg:<table>`` tails the
transcripts table through :func:`iceberg_transcript_stream`.  This
sandbox ships no ``iceberg-spark-runtime`` jar and has no network, so
the source probes for Iceberg support at runtime and raises with the
launch recipe when it is absent; a parquet directory source is the
drop-in stand-in.  The sink side stays the partitioned-parquet layout
of ``sink.exactly_once_parquet_sink`` (idempotent per-batch-id replace
≙ Iceberg overwrite on the batch-id partition).

On a real cluster, enable with:

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=<path>
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog class is loadable in this JVM
    (probed through Spark's classloader, so ``--packages``-provided
    runtime jars are detected — see :mod:`..jvm`)."""
    from ..jvm import jvm_class_available

    return jvm_class_available(spark, "org.apache.iceberg.spark.SparkCatalog")


def iceberg_transcript_stream(
    spark: SparkSession,
    table: str,
    max_files_per_micro_batch: int | None = None,
    stream_from_timestamp_ms: int | None = None,
) -> DataFrame:
    """Streaming read of the transcripts Iceberg table (the north-rule
    source): incremental snapshot tailing with optional per-micro-batch
    admission bound (the backpressure knob on this source — Iceberg's
    ``streaming-max-files-per-micro-batch``) and optional start point
    (``stream-from-timestamp``).

    Degrades exactly like the Kafka source when the runtime jar is
    absent: raises with the spark-submit recipe instead of failing
    deep inside query planning.  For jar-less environments the parquet
    directory source in :mod:`.pipeline` is the drop-in stand-in
    (identical downstream pipeline).
    """
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath; launch with "
            "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> "
            "and a configured SparkCatalog, or point the pipeline at a "
            "parquet directory source instead"
        )
    reader = spark.readStream.format("iceberg")
    if max_files_per_micro_batch:
        reader = reader.option(
            "streaming-max-files-per-micro-batch", str(max_files_per_micro_batch)
        )
    if stream_from_timestamp_ms is not None:
        reader = reader.option(
            "stream-from-timestamp", str(stream_from_timestamp_ms)
        )
    return reader.load(table)
