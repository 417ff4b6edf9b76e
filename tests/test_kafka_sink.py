"""Kafka publisher sink (K2) + console sink (K3) tests.

No broker/connector in the sandbox, so the tests cover (a) graceful
degradation with an actionable error, (b) the record serialization
path round-tripped through ``from_json``, (c) the console debug sink.
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.jvm import jvm_class_available
from napalm_logs_spark.streaming.sink import (
    SinkSpec,
    _kafka_records,
    exactly_once_parquet_sink,
)

KAFKA = SinkSpec(kafka_bootstrap="localhost:9092")


def _env_df(spark):
    rows = [
        ("c-1", 0, "INTERFACE_DOWN", "edge01", "openconfig-interfaces", 7, 5),
        ("c-1", 1, "INTERFACE_UP", "edge01", "openconfig-interfaces", 7, 5),
        ("c-2", 0, "RAW", "core02", "raw", None, None),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, error string, host string, "
        "yang_model string, facility int, severity int",
    )


def test_record_shape_and_roundtrip(spark):
    env = _env_df(spark)
    rec = _kafka_records(env, KAFKA)
    assert rec.columns == ["key", "value", "topic"]
    back = rec.select(
        "key",
        "topic",
        F.from_json(
            "value",
            "error string, host string, yang_model string, facility int, "
            "severity int, conv_id string, turn_idx int",
        ).alias("r"),
    ).select("key", "topic", "r.*")
    got = {(r.key, r.turn_idx): r for r in back.collect()}
    assert len(got) == 3
    r = got[("c-1", 0)]
    assert (r.error, r.host, r.facility, r.topic) == (
        "INTERFACE_DOWN", "edge01", 7, "napalm-logs"
    )
    # key carries conv_id (per-conversation ordering within a Kafka
    # partition — the reference's per-device in-order contract)
    assert all(r.key == r.conv_id for r in back.collect())


def test_null_fields_explicit_in_json(spark):
    # the reference envelope always carries every key (device.py:336-351)
    # -> nulls serialize explicitly, keeping the record shape fixed
    rec = _kafka_records(
        _env_df(spark), SinkSpec(kafka_bootstrap="h:9092", kafka_topic="t2")
    )
    raw_row = rec.filter(F.col("key") == "c-2").collect()[0]
    assert raw_row.topic == "t2"
    assert '"facility":null' in raw_row.value
    assert '"error":"RAW"' in raw_row.value


def test_console_sink_prints_batches(spark):
    env = _env_df(spark)
    sink = exactly_once_parquet_sink(
        [SinkSpec(console=True, send_raw=True, send_unknown=True, console_rows=5)]
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        sink(env, 7)
    out = buf.getvalue()
    assert "-- batch 7 --" in out
    assert "INTERFACE_DOWN" in out and "RAW" in out


def test_console_sink_respects_error_filters(spark):
    env = _env_df(spark)
    sink = exactly_once_parquet_sink([SinkSpec(console=True)])  # RAW denied
    buf = io.StringIO()
    with redirect_stdout(buf):
        sink(env, 0)
    out = buf.getvalue()
    assert "INTERFACE_DOWN" in out and "RAW" not in out


def test_fanout_kafka_sinkspec_degrades(spark):
    """A kafka SinkSpec inside the fan-out raises an actionable error
    when the connector is absent — never a silent drop."""
    if jvm_class_available(  # pragma: no cover
        spark, "org.apache.spark.sql.kafka010.KafkaSourceProvider"
    ):
        pytest.skip("connector present")
    sink = exactly_once_parquet_sink([KAFKA])
    with pytest.raises(RuntimeError, match="--packages"):
        sink(_env_df(spark), 0)


def test_sinkspec_requires_path_unless_console_or_kafka():
    with pytest.raises(ValueError):
        SinkSpec(send_raw=True)
    SinkSpec(console=True)
    SinkSpec(kafka_bootstrap="h:9092")
    SinkSpec(http_url="http://h/e")
    # a second target would be silently ignored by the fan-out
    with pytest.raises(ValueError, match="exactly one"):
        SinkSpec(path="/tmp/y", kafka_bootstrap="b:9092")
    with pytest.raises(ValueError, match="exactly one"):
        SinkSpec(console=True, http_url="http://h/e")


def test_sinkspec_target_names_its_one_target():
    assert SinkSpec(path="/tmp/y").target == "/tmp/y"
    assert SinkSpec(console=True).target == "console"
    assert SinkSpec(kafka_bootstrap="b:9092").target == "b:9092"
    assert SinkSpec(http_url="http://h/e").target == "http://h/e"


def test_msgpack_wire_format_roundtrip(spark):
    """serializer='msgpack' (the reference's wire default) produces
    binary values a reference client unpacks to the same envelope the
    JSON path carries."""
    import json

    from napalm_logs_spark.operators.serialize import unpackb

    env = _env_df(spark)
    mp = _kafka_records(
        env, SinkSpec(kafka_bootstrap="h:9092", serializer="msgpack")
    )
    assert dict(mp.dtypes)["value"] == "binary"
    jrows = _kafka_records(env, KAFKA).collect()
    want = sorted(
        json.dumps(json.loads(r.value), sort_keys=True) for r in jrows
    )
    got = sorted(
        json.dumps(unpackb(bytes(r.value)), sort_keys=True)
        for r in mp.collect()
    )
    assert got == want


def test_sinkspec_rejects_unknown_serializer(tmp_path):
    import pytest as _pytest

    from napalm_logs_spark.operators.serialize import InvalidSerializerException

    with _pytest.raises(InvalidSerializerException):
        SinkSpec(path=str(tmp_path), serializer="protobuf")
    SinkSpec(path=str(tmp_path), serializer="msgpack")  # valid
