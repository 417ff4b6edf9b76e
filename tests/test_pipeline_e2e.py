"""Composite end-to-end: raw transcripts → normalize → state events →
open/close transitions, with the flap scenario from FIXTURES.md §3a;
JSON-lines ingest and resumed drains through the ``run`` pipeline."""

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.operators.cep import state_events, transitions
from napalm_logs_spark.operators.normalize import normalize
from napalm_logs_spark.profiles import load_registry
from napalm_logs_spark.sources.transcripts import TRANSCRIPT_SCHEMA

BASE = datetime.datetime(2017, 7, 20, 21, 45, 59)

DOWN = (
    "<28>Jul 20 21:45:59 vmx01 mib2d[2424]: SNMP_TRAP_LINK_DOWN: ifIndex 502, "
    "ifAdminStatus down(2), ifOperStatus down(2), ifName xe-0/0/0"
)
UP = (
    "<28>Jul 20 21:45:59 vmx01 mib2d[2424]: SNMP_TRAP_LINK_UP: ifIndex 502, "
    "ifAdminStatus up(1), ifOperStatus up(1), ifName xe-0/0/0"
)


@pytest.fixture(scope="module")
def flap_transcripts(spark):
    rows = []
    # hot conv: xe-0/0/0 flaps 4 times within 60s
    for i, text in enumerate([DOWN, UP, DOWN, UP]):
        rows.append(("conv-hot", i, "agent", text, None, BASE + datetime.timedelta(seconds=10 * i)))
    # cold conv: one DOWN only
    rows.append(("conv-cold", 0, "agent", DOWN.replace("vmx01", "vmx02"), None, BASE))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


def test_batch_cep_composite(spark, flap_transcripts):
    registry = load_registry()
    env = normalize(flap_transcripts, registry).filter(
        ~F.col("error").isin("RAW", "UNKNOWN")
    )
    ev = state_events(env)
    tr = transitions(ev)
    got = sorted(
        (r.host, r.entity, r.turn_idx, r.status) for r in tr.collect()
    )
    assert ("vmx01", "xe-0/0/0", 0, "open") in got
    assert ("vmx01", "xe-0/0/0", 1, "closed") in got
    assert ("vmx02", "xe-0/0/0", 0, "open") in got


def test_jsonl_source_end_to_end(spark, tmp_path):
    """JSON-lines transcripts (incl. one corrupt line) flow through the
    same pipeline; the corrupt row surfaces via the engine's own
    fallback classification rather than failing the stream."""
    import json as _json

    from napalm_logs_spark.streaming.pipeline import run_stream_once
    from napalm_logs_spark.streaming.maintenance import read_table
    from napalm_logs_spark.streaming.sink import SinkSpec

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"conv_id": "c1", "turn_idx": 0, "role": "agent",
         "text": "<28>Jul 20 21:45:59 vmx01 mib2d[2424]: SNMP_TRAP_LINK_DOWN: "
                 "ifIndex 502, ifAdminStatus down(2), ifOperStatus down(2), "
                 "ifName xe-0/0/0",
         "tool": None, "ts": "2017-07-20T21:45:59.000Z"},
        {"conv_id": "c1", "turn_idx": 1, "role": "user",
         "text": "hello world", "tool": None,
         "ts": "2017-07-20T21:46:00.000Z"},
    ]
    with open(src / "part-0.json", "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")
        fh.write('{"conv_id": broken\n')  # corrupt line

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_stream_once(
        spark, str(src), [out], ckpt,
        sinks=[SinkSpec(path=out, send_raw=True, send_unknown=True)],
        dedup=False, source_format="json",
    )
    back = read_table(spark, out)
    errors = {r.error for r in back.select("error").collect()}
    assert "INTERFACE_DOWN" in errors       # real envelope from JSON ingest
    assert back.count() >= 2                # corrupt row didn't kill the run
    # the corrupt line's null text stays null, never the string "None"
    unknown = sorted(
        r.message_details for r in back.filter("error = 'UNKNOWN'").collect()
    )
    assert unknown == ['{"message":"hello world"}', '{"message":null}']


def test_null_text_unknown_envelope_pandas():
    """A null text and the literal text "None" publish different
    UNKNOWN envelopes."""
    from napalm_logs_spark.operators.normalize import normalize_pandas

    pdf = pd.DataFrame({
        "conv_id": ["c1", "c1", "c1"],
        "turn_idx": [0, 1, 2],
        "role": ["agent"] * 3,
        "text": [None, "None", "hi"],
        "tool": [None] * 3,
        "ts": [pd.Timestamp("2017-07-20 21:45:59")] * 3,
    })
    out = normalize_pandas(pdf, load_registry())
    assert list(out["error"]) == ["UNKNOWN"] * 3
    assert list(out["message_details"]) == [
        '{"message":null}', '{"message":"None"}', '{"message":"hi"}'
    ]


def test_soak_state_bounded_across_resumed_runs(spark, tmp_path):
    """Simulated multi-day operation: 5 sequential checkpoint-resumed
    drains, each a new batch of transcripts one 'hour' later.  The
    watermark must EVICT old dedup state (state size stays bounded by
    the horizon instead of accumulating 10^12 keys), and the output
    stays exactly-once across all resumes."""
    import datetime as dt
    import json as _json

    from napalm_logs_spark.streaming.pipeline import run_stream_once
    from napalm_logs_spark.streaming.maintenance import read_table
    from napalm_logs_spark.streaming.sink import SinkSpec

    base = dt.datetime(2017, 7, 20, 0, 0, 0)
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    metrics = str(tmp_path / "m.jsonl")

    n_per_run, n_runs = 40, 5
    for run in range(n_runs):
        rows = [
            (
                f"c{run}_{i}",          # fresh keys each run: old state is dead weight
                0,
                "agent",
                f"<28>Jul 20 21:45:59 vmx01 mib2d[2424]: hello {run} {i}",
                None,
                base + dt.timedelta(hours=run, seconds=i),
            )
            for i in range(n_per_run)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run_stream_once(
            spark, src, [out], ckpt,
            sinks=[SinkSpec(path=out, send_raw=True, send_unknown=True)],
            dedup=True, watermark="30 seconds",
            metrics_jsonl=metrics,
        )

    got = read_table(spark, out)
    # exactly-once across 5 resumed drains: every row exactly once
    assert got.count() == n_per_run * n_runs
    assert got.select("conv_id").distinct().count() == n_per_run * n_runs

    # state boundedness: the LAST run's dedup state must hold ~one
    # run's keys (previous hours are watermark-evicted), not 5 runs'
    state_rows = []
    for line in open(metrics):
        rec = _json.loads(line)
        for op in rec.get("state_operators") or []:
            state_rows.append((rec["batch_id"], op["num_rows_total"]))
    assert state_rows, "no state metrics captured"
    final_state = state_rows[-1][1]
    assert final_state <= 2 * n_per_run, (
        f"dedup state grew unbounded: {state_rows}"
    )
