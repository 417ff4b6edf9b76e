"""HTTP publisher sink (SURVEY §2.6 K4) — executor-side POSTs.

The reference's HTTP transport POSTs each serialized event to an
endpoint from an async worker queue (`transport/http.py:42-176`); the
Alerta variant shapes the payload for the Alerta API
(`transport/alerta.py:28-87` — its alarm SEMANTICS are first-class
operators here, `operators/cep.py` C1/C2).

Spark re-expression: inside the exactly-once ``foreachBatch`` fan-out,
each partition posts its envelopes as JSON-array chunks straight from
the EXECUTORS (``df.foreachPartition`` — no driver collect, no single
egress bottleneck; N partitions post in parallel exactly like the
reference's worker pool).  Payload serialization reuses the canonical
K6 envelope JSON (:func:`..streaming.kafka_sink.envelope_to_kafka_records`).

Delivery is at-least-once under micro-batch retries (an HTTP endpoint
offers no idempotent overwrite; the reference's queue has the same
contract) — receivers dedupe on (conv_id, turn_idx, _batch_id) when
they need exactly-once.  Only the stdlib is used (urllib), so the sink
works on any executor image.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def http_poster(url: str, batch_size: int = 200):
    """Partition function POSTing JSON-array chunks to ``url``.

    Raises on any non-2xx response so Spark retries the task — the
    at-least-once contract; transient endpoint failures surface as task
    retries, exactly like the reference's worker re-queue.
    """

    def poster(rows) -> None:
        import urllib.request

        buf: list[str] = []

        def flush() -> None:
            if not buf:
                return
            data = ("[" + ",".join(buf) + "]").encode("utf-8")
            req = urllib.request.Request(
                url,
                data=data,
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urllib.request.urlopen(req, timeout=10.0) as resp:
                if not (200 <= resp.status < 300):
                    raise RuntimeError(
                        f"HTTP sink: {url} returned {resp.status}"
                    )
            buf.clear()

        for row in rows:
            buf.append(row["value"])
            if len(buf) >= batch_size:
                flush()
        flush()

    return poster


def http_envelope_publish(
    env: DataFrame, url: str, batch_size: int = 200
) -> None:
    """POST every envelope in ``env`` (a materialized micro-batch or a
    batch DataFrame) to ``url`` from the executors."""
    from .kafka_sink import envelope_to_kafka_records

    recs = envelope_to_kafka_records(env).select("value")
    recs.foreachPartition(http_poster(url, batch_size))
