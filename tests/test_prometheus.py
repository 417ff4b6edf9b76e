"""Prometheus transport parity (reference transport/prometheus.py):
per-error counters, interface/family state gauges, exposition text."""

import datetime as dt

import pytest


def _env_df(spark):
    rows = [
        # (conv, idx, ts, error, host, entity, state, state_tag)
        ("c1", 0, dt.datetime(2017, 7, 20, 0, 0, 0), "INTERFACE_DOWN", "edge01", "eth0", 0, None),
        ("c1", 1, dt.datetime(2017, 7, 20, 0, 1, 0), "INTERFACE_UP", "edge01", "eth0", 1, None),
        ("c1", 2, dt.datetime(2017, 7, 20, 0, 2, 0), "INTERFACE_DOWN", "edge01", "eth0", 0, None),
        ("c2", 0, dt.datetime(2017, 7, 20, 0, 0, 30), "INTERFACE_UP", "core02", "xe-0/0/0", 1, None),
        ("c2", 1, dt.datetime(2017, 7, 20, 0, 3, 0), "USER_ENTER_CONFIG_MODE", "core02", "luke", None, None),
        ("c3", 0, dt.datetime(2017, 7, 20, 0, 4, 0), "MAJOR_ALARM_SET", "edge01", None, 1, "major_alarm"),
        ("c3", 1, dt.datetime(2017, 7, 20, 0, 5, 0), "MAJOR_ALARM_CLEARED", "edge01", None, 0, "major_alarm"),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, ts timestamp, error string, "
        "host string, entity string, state long, state_tag string",
    )


def test_counters_and_gauges(spark):
    from napalm_logs_spark.streaming.prometheus import error_counters, state_gauges

    env = _env_df(spark)
    c = {(r.metric, r.host, r.entity): r.value for r in error_counters(env).collect()}
    assert c[("napalm_logs_interface_down", "edge01", "eth0")] == 2.0
    assert c[("napalm_logs_interface_up", "edge01", "eth0")] == 1.0
    assert c[("napalm_logs_user_enter_config_mode", "core02", "luke")] == 1.0

    g = {(r.metric, r.host, r.entity): r.value for r in state_gauges(env).collect()}
    # last write wins: eth0 ends DOWN (0), xe-0/0/0 ends UP (1)
    assert g[("napalm_logs_interface_state", "edge01", "eth0")] == 0.0
    assert g[("napalm_logs_interface_state", "core02", "xe-0/0/0")] == 1.0
    # state_tag overrides the derived family name (prometheus.py:43-46)
    assert g[("napalm_logs_major_alarm", "edge01", None)] == 0.0


def test_exposition_text(spark, tmp_path):
    from napalm_logs_spark.streaming.prometheus import exposition, write_textfile

    env = _env_df(spark)
    lines = [r.line for r in exposition(env).collect()]
    assert 'napalm_logs_interface_state{host="edge01",entity="eth0"} 0' in lines
    assert 'napalm_logs_interface_down{host="edge01",entity="eth0"} 2' in lines
    # entity label omitted when absent (reference gauges without detail
    # carry only host)
    assert 'napalm_logs_major_alarm{host="edge01"} 0' in lines

    path = str(tmp_path / "metrics.prom")
    n = write_textfile(env, path)
    text = open(path).read()
    assert n == len(lines)
    assert "# TYPE napalm_logs_interface_state gauge" in text
    assert "# TYPE napalm_logs_interface_down counter" in text
    # deterministic: a second render is byte-identical
    write_textfile(env, path)
    assert open(path).read() == text


def test_label_escaping(spark):
    from napalm_logs_spark.streaming.prometheus import error_counters, render_lines

    env = spark.createDataFrame(
        [("c", 0, dt.datetime(2017, 1, 1), "RAW", 'h"o\\st', 'e\nnt', None, None)],
        "conv_id string, turn_idx int, ts timestamp, error string, "
        "host string, entity string, state long, state_tag string",
    )
    [r] = render_lines(error_counters(env), "counter").collect()
    assert r.line == 'napalm_logs_raw{host="h\\"o\\\\st",entity="e\\nnt"} 1'


def test_end_to_end_from_normalize(spark):
    """Real envelopes through the real pipeline produce a well-formed
    exposition with the reference's metric families."""
    from napalm_logs_spark.operators.normalize import normalize
    from napalm_logs_spark.sources.transcripts import transcripts_df
    from synth import synth_transcripts_pandas
    from napalm_logs_spark.streaming.prometheus import exposition

    env = normalize(
        transcripts_df(spark, synth_transcripts_pandas(n_convs=20, turns_per_conv=10, seed=42))
    )
    rows = exposition(env).collect()
    metrics = {r.metric for r in rows}
    assert any(m.startswith("napalm_logs_bgp") for m in metrics)
    assert "napalm_logs_interface_state" in metrics
    for r in rows:
        assert r.line.startswith(r.metric + "{")
