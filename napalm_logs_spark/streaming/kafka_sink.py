"""Kafka publisher record shape (SURVEY §2.6 K2).

The reference's Kafka transport (``transport/kafka.py:26-58``) opens a
``KafkaProducer`` and sends each serialized envelope to a topic
(default ``napalm-logs``).  The Spark re-expression is declarative:
serialize the envelope with the K6 serializer, key by ``conv_id`` so
per-conversation ordering rides the Kafka partition (the same
per-device in-order contract as the reference's per-OS socket,
`device.py:265-276`), and write each micro-batch with
``write.format("kafka")``.

The ``run`` path publishes through ``SinkSpec.kafka_bootstrap`` inside
the exactly-once fan-out (:mod:`.sink`), which probes the classpath for
the connector and fails with an actionable message when it is absent.
The serialization path itself (:func:`envelope_to_kafka_records`) is
pure DataFrame code and fully tested offline (round-trips through
``from_json``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_TOPIC = "napalm-logs"  # reference transport/kafka.py:43

#: canonical envelope payload fields, in the reference's envelope order
#: (device.py:336-351); struct field order is fixed so the JSON bytes
#: are deterministic
_PAYLOAD_COLS = (
    "error", "host", "ip", "timestamp", "yang_message", "message_details",
    "yang_model", "os", "facility", "severity", "state", "state_tag",
    "conv_id", "turn_idx",
)


def kafka_available(spark: SparkSession) -> bool:
    """True when the Kafka data-source provider is loadable in this JVM
    (probed through Spark's classloader — see :mod:`..jvm`)."""
    from ..jvm import jvm_class_available

    return jvm_class_available(
        spark, "org.apache.spark.sql.kafka010.KafkaSourceProvider"
    )


def envelope_to_kafka_records(
    env: DataFrame, topic: str = DEFAULT_TOPIC, serializer: str = "json"
) -> DataFrame:
    """Envelope rows → Kafka record shape ``(key, value, topic)``.

    ``value`` is the serialized envelope — ``json`` (default here;
    pure-JVM ``to_json``) or any name from the K6 serializer matrix
    (``msgpack`` is the reference's wire default,
    serializer/__init__.py:24-45 — binary value, Arrow-batched python
    pack).  ``key`` is ``conv_id`` so one conversation always lands in
    one Kafka partition (per-key ordering).  Usable on batch and
    streaming frames alike, and unit-testable without a broker.
    """
    from ..operators.serialize import serialize_envelopes

    # explicit nulls for the json path: the reference envelope always
    # carries every key (device.py:336-351) — consumers schema-validate
    # on the fixed shape, so dropped-null variable-shape records would
    # break them.  serialize_envelopes owns the shared
    # to_json → pandas-UDF bridge (one place for the type mapping).
    cols = tuple(c for c in _PAYLOAD_COLS if c in env.columns)
    out = serialize_envelopes(env, serializer, payload_cols=cols, out_col="value")
    return out.select(
        F.col("conv_id").cast("string").alias("key"),
        "value",
        F.lit(topic).alias("topic"),
    )
