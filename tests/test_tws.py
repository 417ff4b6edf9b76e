"""Orphan-alert semantics of the transcript alert query.

These cases were first written against a transformWithState processor
(one timer per pending agent turn).  The alert query now runs as the
stream-stream left-outer interval join of
:func:`napalm_logs_spark.operators.cep.orphan_agent_turns`, so each case
replays its scenario through :func:`run_orphan_alerts_once` batch by
batch, then appends a far-future answered pair that moves both
watermarks past every horizon, and reads the alerts the sink holds.
"""

import datetime

from napalm_logs_spark.operators.cep import orphan_agent_turns
from napalm_logs_spark.streaming.pipeline import run_orphan_alerts_once

BASE = datetime.datetime(2017, 7, 20, 21, 0, 0)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
HORIZON = 10
WATERMARK = "30 seconds"


def _ts(off):
    return BASE + datetime.timedelta(seconds=off)


#: an agent turn answered inside the horizon, far past every other row:
#: it advances both sides' watermarks and is itself never an orphan
SENTINEL = [
    ("c9", 0, "agent", "s", None, _ts(2000)),
    ("c9", 1, "tool", "t", "search", _ts(2001)),
]


class _AlertQuery:
    def __init__(self, spark, tmp_path):
        self.spark = spark
        self.src = str(tmp_path / "src")
        self.sink = str(tmp_path / "sink")
        self.ckpt = str(tmp_path / "ckpt")

    def feed(self, rows):
        """Append ``rows`` as one source file and run the query once;
        returns every alert the sink holds so far."""
        self.spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.src)
        run_orphan_alerts_once(
            self.spark,
            self.src,
            self.sink,
            self.ckpt,
            horizon_seconds=HORIZON,
            watermark=WATERMARK,
        )
        try:
            got = self.spark.read.parquet(self.sink).collect()
        except Exception:  # nothing committed to the sink yet
            return []
        return sorted((r.conv_id, r.agent_turn, r.agent_text) for r in got)


def test_processor_orphan_fires_on_timer(spark, tmp_path):
    q = _AlertQuery(spark, tmp_path)
    assert q.feed([("c1", 0, "agent", "ask", None, _ts(0))]) == []
    assert q.feed(SENTINEL) == [("c1", 0, "ask")]
    # a later batch does not fire it again: emitted exactly once
    later = [(c, i, ro, tx, to, ts + datetime.timedelta(seconds=1000))
             for (c, i, ro, tx, to, ts) in SENTINEL]
    assert q.feed(later) == [("c1", 0, "ask")]


def test_processor_tool_in_window_clears(spark, tmp_path):
    q = _AlertQuery(spark, tmp_path)
    q.feed([("c1", 0, "agent", "ask", None, _ts(0))])
    q.feed([("c1", 1, "tool", "resp", "search", _ts(5))])
    assert q.feed(SENTINEL) == []


def test_processor_tool_after_horizon_does_not_clear(spark, tmp_path):
    q = _AlertQuery(spark, tmp_path)
    q.feed([
        ("c1", 0, "agent", "ask", None, _ts(0)),
        ("c1", 1, "tool", "late", "search", _ts(15)),
    ])
    assert [(c, t) for (c, t, _x) in q.feed(SENTINEL)] == [("c1", 0)]


def test_processor_out_of_order_tool_clears_late_agent(spark, tmp_path):
    q = _AlertQuery(spark, tmp_path)
    # the TOOL arrives first; it must be remembered
    q.feed([("c1", 1, "tool", "resp", "search", _ts(8))])
    # then its out-of-order agent (still inside the watermark delay)
    q.feed([("c1", 0, "agent", "ask", None, _ts(2))])
    assert q.feed(SENTINEL) == []


def test_processor_prunes_tools_below_watermark(spark, tmp_path):
    """A tool turn no late agent can still pair with leaves the join
    state once the watermark passes it: state stays bounded by the
    horizon plus the watermark delay."""
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))

    def run(rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        query = (
            orphan_agent_turns(
                spark.readStream.schema(SCHEMA).parquet(src),
                horizon_seconds=HORIZON,
                streaming=True,
                watermark=WATERMARK,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return sum(
            op["numRowsTotal"] for op in query.lastProgress["stateOperators"]
        )

    tools = [("c1", i, "tool", "resp", "search", _ts(8 + i)) for i in range(5)]
    assert run(tools) >= len(tools)
    # the watermark passes every tool ts: only the sentinel's rows remain
    assert run(SENTINEL) <= len(SENTINEL)


def test_processor_matches_batch_operator(spark, tmp_path):
    """The alert query and the batch interval join agree on a mixed
    scenario."""
    rows = [
        ("c1", 0, "agent", "ask a", None, _ts(0)),
        ("c1", 1, "tool", "t", "search", _ts(5)),
        ("c1", 2, "agent", "ask b", None, _ts(20)),
        ("c2", 0, "agent", "ask c", None, _ts(0)),
        ("c2", 1, "tool", "t", "search", _ts(15)),
    ]
    batch = sorted(
        (r.conv_id, r.agent_turn, r.agent_text)
        for r in orphan_agent_turns(
            spark.createDataFrame(rows, SCHEMA), horizon_seconds=HORIZON
        ).collect()
    )
    q = _AlertQuery(spark, tmp_path)
    q.feed(rows)
    assert q.feed(SENTINEL) == batch == [("c1", 2, "ask b"), ("c2", 0, "ask c")]
