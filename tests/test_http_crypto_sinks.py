"""K4 HTTP publisher sink (local stdlib server)."""

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def http_collector():
    """Local HTTP endpoint collecting POSTed JSON arrays."""
    received = []

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append(json.loads(body))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/events", received
    srv.shutdown()


def _envelopes(spark, n=10):
    rows = [
        (f"c{i % 3}", i, "INTERFACE_UP", "junos", f"host{i}") for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, error string, os string, host string"
    )


def test_http_sink_posts_from_executors(spark, http_collector):
    url, received = http_collector
    from napalm_logs_spark.streaming.http_sink import http_envelope_publish

    env = _envelopes(spark, 10).repartition(3)
    http_envelope_publish(env, url, batch_size=4)
    got = [e for chunk in received for e in chunk]
    assert len(got) == 10
    assert {e["host"] for e in got} == {f"host{i}" for i in range(10)}
    # canonical K6 payload: every declared field present (explicit nulls)
    assert "error" in got[0] and "os" in got[0]


def test_http_sink_inside_fanout_respects_filters(spark, http_collector):
    url, received = http_collector
    from napalm_logs_spark.streaming.sink import SinkSpec, exactly_once_parquet_sink

    env = _envelopes(spark, 6).withColumn(
        "error", F.when(F.col("turn_idx") % 2 == 0, "RAW").otherwise("INTERFACE_UP")
    )
    sink = exactly_once_parquet_sink(
        [SinkSpec(http_url=url, http_batch=2)]  # default: RAW/UNKNOWN denied
    )
    sink(env, 0)
    got = [e for chunk in received for e in chunk]
    assert len(got) == 3
    assert all(e["error"] == "INTERFACE_UP" for e in got)


def test_http_sink_error_propagates(spark):
    from napalm_logs_spark.streaming.http_sink import http_envelope_publish

    env = _envelopes(spark, 3)
    with pytest.raises(Exception):
        # nothing listens on this port -> the task must FAIL (at-least-
        # once semantics), not silently drop the batch
        http_envelope_publish(env, "http://127.0.0.1:9/events")

