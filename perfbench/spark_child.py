"""Spark-side programs the harness starts as child processes.

    python3 perfbench/spark_child.py paced CONFIG.json
    python3 perfbench/spark_child.py ladder CONFIG.json

``paced`` runs the product's stream (``build_stream`` +
``exactly_once_parquet_sink``, with the ``run --metrics`` recorder) under
a processing-time trigger until the harness asks it to stop.  ``ladder``
drains one input through rungs that each add one layer, timing every
rung from outside.  Both use the CLI's session settings and write one
JSON result file.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from perfbench.stats import commit_times, median  # noqa: E402
from perfbench.trace import Spans  # noqa: E402

# The CLI's session (napalm_logs_spark/__main__.py ``_session``), repeated
# here so the benchmark drives only public functions.
SHUFFLE_PARTITIONS = 32
STATE_STORE = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def session(master: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(master)
        .appName("napalm-logs-spark")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.streaming.stateStore.providerClass", STATE_STORE)
        .getOrCreate()
    )


def session_env(spark) -> dict:
    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "state_store_provider": conf.get("spark.sql.streaming.stateStore.providerClass"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "arrow_max_records_per_batch": conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
    }


class ProgressLog(StreamingQueryListener):
    """Spark's own progress JSON, for what the product's record lacks."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _wait_events(log: ProgressLog, want: int, timeout_s: float = 5.0) -> None:
    """Listener events arrive asynchronously after the query returns."""
    end = time.time() + timeout_s
    while len(log.events) < want and time.time() < end:
        time.sleep(0.05)


def _sink_specs(cfg: dict, path: str):
    from napalm_logs_spark.streaming.sink import SinkSpec

    return [SinkSpec(path=path, send_raw=cfg["send_raw"], send_unknown=cfg["send_unknown"])]


def paced(spark, cfg: dict) -> dict:
    from napalm_logs_spark.profiles import load_registry
    from napalm_logs_spark.streaming.metrics import ProgressRecorder, with_observed_metrics
    from napalm_logs_spark.streaming.pipeline import build_stream
    from napalm_logs_spark.streaming.sink import exactly_once_parquet_sink

    registry = load_registry()
    env = with_observed_metrics(build_stream(spark, cfg["src"], registry=registry))
    recorder = ProgressRecorder(cfg["metrics"])
    spark.streams.addListener(recorder)
    log = None
    if cfg["trace"]:
        log = ProgressLog()
        spark.streams.addListener(log)
    query = (
        env.writeStream.foreachBatch(exactly_once_parquet_sink(_sink_specs(cfg, cfg["sink"])))
        .option("checkpointLocation", cfg["checkpoint"])
        .trigger(processingTime=cfg["trigger"])
        .start()
    )
    started = time.time()
    with open(cfg["ready"] + ".tmp", "w") as fh:
        json.dump({"query_started": started}, fh)
    os.rename(cfg["ready"] + ".tmp", cfg["ready"])
    while not os.path.exists(cfg["stop"]) and time.time() < cfg["deadline"]:
        if query.exception() is not None:
            break
        time.sleep(0.05)
    error = query.exception()
    query.stop()
    out = {"query_started": started, "env": session_env(spark),
           "error": str(error) if error else None}
    if log is not None:
        _wait_events(log, len(commit_times(cfg["checkpoint"])))
        spark.streams.removeListener(log)
        out["progress"] = log.events
    spark.streams.removeListener(recorder)
    if cfg.get("ladder") and error is None:
        out["ladder"] = ladder(spark, cfg["ladder"])  # the session is warm already
    return out


def _identity(batches):
    yield from batches


def ladder(spark, cfg: dict) -> dict:
    """Rungs: scan -> +Arrow round trip -> +normalize -> +dedup -> +sink.
    A layer's cost is the gap between its rung and the one below."""
    spans = Spans(cfg["run_id"], first_id=cfg["first_span_id"])
    from napalm_logs_spark.profiles import load_registry
    from napalm_logs_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from napalm_logs_spark.streaming.pipeline import build_stream, run_stream_once

    with spans.span("profiles.load_registry"):
        t = time.time()
        registry = load_registry()
        load_s = time.time() - t
    counter = itertools.count()

    def fresh(tag):
        return os.path.join(cfg["work"], f"{tag}-{next(counter)}")

    def noop(df):
        q = (df.writeStream.format("noop")
             .option("checkpointLocation", fresh("ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def scan(src):
        noop(spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src))

    def arrow(src):
        df = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
        noop(df.mapInPandas(_identity, schema=TRANSCRIPT_SCHEMA))

    def normalize(src):
        noop(build_stream(spark, src, registry=registry, dedup=False))

    def dedup(src):
        noop(build_stream(spark, src, registry=registry))

    last = {}

    def full(src, listener=None):
        last["sink"], last["ck"], last["metrics"] = fresh("sink"), fresh("ck"), fresh("m") + ".jsonl"
        if listener is not None:
            spark.streams.addListener(listener)
        try:
            run_stream_once(spark, src, [last["sink"]], last["ck"],
                            sinks=_sink_specs(cfg, last["sink"]), registry=registry,
                            metrics_jsonl=last["metrics"])
        finally:
            if listener is not None:
                spark.streams.removeListener(listener)

    rungs = [("sources.scan", scan), ("arrow.identity", arrow),
             ("normalize.rung", normalize), ("dedup.rung", dedup), ("sink.rung", full)]
    src = cfg["src"]
    out: dict = {"profiles_load_s": load_s, "env": session_env(spark)}

    def timed(name, fn, *args, **kw):
        attrs = {"input": os.path.basename(args[0])} if isinstance(args[0], str) else {}
        with spans.span(name, **attrs) as sid:
            t = time.time()
            fn(*args, **kw)
            return time.time() - t, sid

    if cfg["warm"]:
        timed("pipeline.warmup", full, cfg["warm"])  # JVM, Python workers, regex caches
    if cfg["rungs"]:
        out["rungs"] = {name: timed(name, fn, src)[0] for name, fn in rungs}
        log = ProgressLog()
        out["traced_full_s"], sid = timed("pipeline.traced_full", full, src, listener=log)
        _wait_events(log, len(commit_times(last["ck"])))
        spans.add_batches(log.events, sid)
        out["progress"] = log.events
        out["last_sink"], out["last_metrics"] = last["sink"], last["metrics"]

        from napalm_logs_spark.operators.normalize import normalize as normalize_df
        from napalm_logs_spark.streaming.sink import exactly_once_parquet_sink

        batch = normalize_df(spark.read.parquet(src), registry).persist()
        batch.count()
        write = exactly_once_parquet_sink(_sink_specs(cfg, fresh("sinkw")))
        out["sink_write_s"] = median([timed("sink.write", write, batch, 0)[0] for _ in range(2)])
        batch.unpersist()
    out["subset_full_s"] = timed("pipeline.subset_full", full, cfg["subset"])[0]
    out["spans"] = spans.rows
    return out


def main(argv) -> int:
    if len(argv) != 3 or argv[1] not in ("paced", "ladder"):
        print("usage: spark_child.py paced|ladder CONFIG.json", file=sys.stderr)
        return 2
    with open(argv[2]) as fh:
        cfg = json.load(fh)
    spark = session(cfg["master"])
    try:
        result = paced(spark, cfg) if argv[1] == "paced" else ladder(spark, cfg)
    finally:
        spark.stop()
    with open(cfg["result"] + ".tmp", "w") as fh:
        json.dump(result, fh, default=str)
    os.rename(cfg["result"] + ".tmp", cfg["result"])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
