"""CEP operators: up/down pairing, gauges, transitions, agent↔tool
interval join, sequences, funnels and threshold alerts."""

import datetime

import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.operators.cep import (
    agent_tool_pairs,
    last_state_gauge,
    state_events,
    transitions,
)

BASE = datetime.datetime(2017, 7, 20, 21, 0, 0)


@pytest.fixture(scope="module")
def env(spark):
    """Synthetic envelope rows: xe-0/0/0 flaps on host r1; xe-1 stable."""
    rows = []
    seq = [
        ("INTERFACE_DOWN", "xe-0/0/0", 0),
        ("INTERFACE_UP", "xe-0/0/0", 10),
        ("INTERFACE_DOWN", "xe-0/0/0", 20),
        ("INTERFACE_UP", "xe-0/0/0", 30),
        ("INTERFACE_DOWN", "xe-1", 5),
        ("OSPF_NEIGHBOR_UP", "10.0.0.2", 15),
        ("SOME_OTHER_ERROR", "x", 50),
    ]
    for i, (error, entity, off) in enumerate(seq):
        rows.append(
            (
                "conv-1", i, "agent", None,
                BASE + datetime.timedelta(seconds=off),
                "junos", error, "r1", entity, None,
            )
        )
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, tool string, ts timestamp,"
        "os string, error string, host string, entity string, state long",
    )


def test_state_events_broadcast_pairing(env):
    ev = state_events(env)
    got = {(r.error, r.family, r.state01) for r in ev.collect()}
    assert ("INTERFACE_DOWN", "interface", 0) in got
    assert ("INTERFACE_UP", "interface", 1) in got
    assert ("OSPF_NEIGHBOR_UP", "ospf_neighbor", 1) in got
    assert not any(e == "SOME_OTHER_ERROR" for e, _, _ in got)
    plan = ev._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_last_state_gauge(env):
    gauge = {
        (r.host, r.family, r.entity): r.state
        for r in last_state_gauge(state_events(env)).collect()
    }
    assert gauge[("r1", "interface", "xe-0/0/0")] == 1  # last event UP
    assert gauge[("r1", "interface", "xe-1")] == 0
    assert gauge[("r1", "ospf_neighbor", "10.0.0.2")] == 1


def test_transitions_open_close(env):
    tr = transitions(state_events(env))
    xe0 = sorted(
        (r.turn_idx, r.status) for r in tr.collect() if r.entity == "xe-0/0/0"
    )
    # every state change is a transition (first event included)
    assert xe0 == [(0, "open"), (1, "closed"), (2, "open"), (3, "closed")]


def test_agent_tool_pairs_batch(spark):
    rows = [
        ("c1", 0, "agent", "do it", None, BASE),
        ("c1", 1, "tool", None, "grep", BASE + datetime.timedelta(seconds=5)),
        ("c1", 2, "tool", None, "calc", BASE + datetime.timedelta(seconds=120)),  # beyond horizon
        ("c2", 0, "agent", "orphan", None, BASE),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = agent_tool_pairs(df, horizon_seconds=60).collect()
    pairs = {(r.conv_id, r.agent_turn, r.tool_turn) for r in out}
    assert ("c1", 0, 1) in pairs
    assert ("c1", 0, 2) not in pairs
    assert ("c2", 0, None) in pairs  # orphan kept (left outer)


def test_agent_tool_pairs_streaming_drops_late(spark, tmp_path):
    src = str(tmp_path / "pairs_src")
    rows = [
        ("c1", 0, "agent", "go", None, BASE),
        ("c1", 1, "tool", None, "grep", BASE + datetime.timedelta(seconds=5)),
    ]
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).parquet(src)
    out = agent_tool_pairs(stream, horizon_seconds=60, streaming=True)
    q = (
        out.writeStream.format("memory").queryName("at_pairs")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.sql("select * from at_pairs").collect()
    assert {(r.agent_turn, r.tool_turn) for r in got} == {(0, 1)}


def test_pattern_sequence_ordered_within_horizon(spark):
    from napalm_logs_spark.operators.cep import pattern_sequence

    rows = [
        # conv a: DOWN(0) -> UP(10) -> DOWN(20): matches D-U-D
        ("a", 0, BASE, "INTERFACE_DOWN"),
        ("a", 1, BASE + datetime.timedelta(seconds=10), "INTERFACE_UP"),
        ("a", 2, BASE + datetime.timedelta(seconds=20), "INTERFACE_DOWN"),
        # conv b: UP before DOWN — order wrong, no match
        ("b", 0, BASE, "INTERFACE_UP"),
        ("b", 1, BASE + datetime.timedelta(seconds=5), "INTERFACE_DOWN"),
        # conv c: right order but outside the horizon
        ("c", 0, BASE, "INTERFACE_DOWN"),
        ("c", 1, BASE + datetime.timedelta(seconds=10), "INTERFACE_UP"),
        ("c", 2, BASE + datetime.timedelta(seconds=500), "INTERFACE_DOWN"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, error string"
    )
    got = pattern_sequence(
        df,
        steps=[
            F.col("error") == "INTERFACE_DOWN",
            F.col("error") == "INTERFACE_UP",
            F.col("error") == "INTERFACE_DOWN",
        ],
        within_seconds=60,
    ).collect()
    assert len(got) == 1
    (m,) = got
    assert (m.conv_id, m.turn0, m.turn1, m.turn2, m.span_seconds) == ("a", 0, 1, 2, 20)


def test_pattern_sequence_multiple_combinations(spark):
    """Every qualifying (e1<e2) combination is a match row (the SQL
    self-join semantics the oracle mirrors)."""
    from napalm_logs_spark.operators.cep import pattern_sequence

    rows = [
        ("a", 0, BASE, "X"),
        ("a", 1, BASE + datetime.timedelta(seconds=1), "X"),
        ("a", 2, BASE + datetime.timedelta(seconds=2), "Y"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, error string"
    )
    got = pattern_sequence(
        df, steps=[F.col("error") == "X", F.col("error") == "Y"], within_seconds=60
    ).collect()
    assert sorted((m.turn0, m.turn1) for m in got) == [(0, 2), (1, 2)]


def test_pattern_sequence_streaming_three_step_chain(spark, tmp_path):
    """Streaming form: the 3-step chain runs as two stream-stream
    interval joins with per-step watermarks, append mode."""
    from napalm_logs_spark.operators.cep import pattern_sequence

    src, ckpt = str(tmp_path / "seq_src"), str(tmp_path / "seq_ckpt")
    schema = "conv_id string, turn_idx int, ts timestamp, error string"
    rows = [
        ("a", 0, BASE, "DOWN"),
        ("a", 1, BASE + datetime.timedelta(seconds=10), "UP"),
        ("a", 2, BASE + datetime.timedelta(seconds=20), "DOWN"),
        ("b", 0, BASE, "UP"),
        ("b", 1, BASE + datetime.timedelta(seconds=5), "DOWN"),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = pattern_sequence(
        stream,
        steps=[F.col("error") == "DOWN", F.col("error") == "UP",
               F.col("error") == "DOWN"],
        within_seconds=60,
        streaming=True,
        watermark="1 second",
    )
    q = (
        out.writeStream.format("memory").queryName("seq_stream")
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.sql("select * from seq_stream").collect()
    assert [(m.conv_id, m.turn0, m.turn1, m.turn2) for m in got] == [("a", 0, 1, 2)]


# ---------------------------------------------------------------------------
# alarm gauge families (transport/prometheus.py:458-540 semantics)


def test_alarm_gauges_from_golden_fixtures(spark):
    """SYSTEM_ALARM sets 1 / SYSTEM_ALARM_CLEARED sets 0 per
    (host, component); {MINOR,MAJOR}_ALARM_{SET,CLEARED} set 1/0 per
    (host, alarm_reason) — driven by the reference's own junos alarm
    fixtures end-to-end through normalize."""
    import pandas as pd

    from napalm_logs_spark.operators.cep import last_state_gauge, state_events
    from napalm_logs_spark.operators.normalize import normalize
    from napalm_logs_spark.sources.transcripts import (
        BASE_TS,
        golden_cases,
        transcripts_df,
    )
    from datetime import timedelta

    cases = [
        c for c in golden_cases()
        if c["os"] == "junos" and "ALARM" in c["error"]
    ]
    assert len(cases) >= 6
    rows = [
        {
            "conv_id": f"{c['error']}#{c['case']}",
            "turn_idx": 0,
            "role": "agent",
            "text": c["text"],
            "tool": None,
            "ts": BASE_TS + timedelta(seconds=i),
        }
        for i, c in enumerate(cases)
    ]
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    env = normalize(transcripts_df(spark, pdf))
    gauge = last_state_gauge(state_events(env))
    got = {
        (r.host, r.family, r.entity): r.state for r in gauge.collect()
    }
    # the SET/CLEARED pairs share (host, entity) so the later event wins;
    # every fixture host is vmx01 and the default supply/reason entities
    # collide across SET and CLEARED cases — assert per-family coverage
    fams = {k[1] for k in got}
    assert {"system_alarm", "minor_alarm", "major_alarm"} <= fams
    # entity keys follow the prometheus label choice
    sys_entities = {k[2] for k in got if k[1] == "system_alarm"}
    assert "supply" in sys_entities and "FPC 0" in sys_entities
    minor_entities = {k[2] for k in got if k[1] == "minor_alarm"}
    assert "RE 0 /var partition usage is high" in minor_entities
    # states are 0/1 only
    assert set(got.values()) <= {0, 1}
    # an entity seen only in a SET case gauges 1
    assert got[("vmx01", "system_alarm", "FPC 0")] == 1


def test_transitions_alarm_polarity(spark):
    """Alarm families invert the up/down polarity: SYSTEM_ALARM (1)
    opens the alert and SYSTEM_ALARM_CLEARED (0) closes it — real junos
    fixture lines through normalize."""
    import pandas as pd

    from napalm_logs_spark.operators.normalize import normalize
    from napalm_logs_spark.sources.transcripts import golden_cases, transcripts_df

    by_err = {}
    for c in golden_cases():
        if c["os"] == "junos" and c["case"] == "default":
            by_err.setdefault(c["error"], c["text"])
    pdf = pd.DataFrame([
        {"conv_id": "c1", "turn_idx": turn, "role": "agent", "text": by_err[err],
         "tool": None, "ts": BASE + datetime.timedelta(seconds=sec)}
        for turn, err, sec in ((0, "SYSTEM_ALARM", 0), (1, "SYSTEM_ALARM_CLEARED", 30))
    ])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    tr = transitions(state_events(normalize(transcripts_df(spark, pdf))))
    got = sorted(
        (r.family, r.entity, r.state01, r.prev_state, r.status) for r in tr.collect()
    )
    assert got == [
        ("system_alarm", "supply", 0, 1, "closed"),
        ("system_alarm", "supply", 1, None, "open"),
    ]


def test_orphan_agent_turns_batch(spark):
    from datetime import datetime, timedelta

    from napalm_logs_spark.operators.cep import orphan_agent_turns

    base = datetime(2017, 7, 20, 21, 0, 0)
    rows = [
        # answered within horizon
        ("c1", 0, "agent", "ask1", None, base),
        ("c1", 1, "tool", None, "search", base + timedelta(seconds=10)),
        # orphan: tool reply arrives AFTER the horizon
        ("c1", 2, "agent", "ask2", None, base + timedelta(seconds=100)),
        ("c1", 3, "tool", None, "calc", base + timedelta(seconds=300)),
        # orphan: never answered
        ("c2", 0, "agent", "ask3", None, base),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = sorted(
        (r.conv_id, r.agent_turn)
        for r in orphan_agent_turns(df, horizon_seconds=60).collect()
    )
    assert got == [("c1", 2), ("c2", 0)]


def test_orphan_agent_turns_streaming_waits_for_watermark(spark, tmp_path):
    """Streaming orphan alerts fire only once the watermark proves no
    tool turn can still arrive — a row in batch 1 becomes an orphan
    only after batch 2's data advances the watermark past its horizon."""
    import datetime as dt

    from napalm_logs_spark.operators.cep import orphan_agent_turns

    base = dt.datetime(2017, 7, 20, 21, 0, 0)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    src, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run(_name):
        # memory sink can't recover from checkpoints -> file sink
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = (
            orphan_agent_turns(stream, horizon_seconds=60, streaming=True,
                               watermark="30 seconds")
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        try:
            return {r.agent_turn for r in spark.read.parquet(out).collect()}
        except Exception:
            return set()

    spark.createDataFrame(
        [("c1", 0, "agent", "ask", None, base)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    assert run("orphans_1") == set()  # watermark hasn't passed the horizon

    # late traffic that PASSES the role filters (watermarks sit after
    # them) pushes both sides' watermarks well past base+60+30; the c9
    # agent itself is answered within the horizon, so it is NOT an orphan
    spark.createDataFrame(
        [("c9", 5, "agent", "ask-late", None, base + dt.timedelta(seconds=600)),
         ("c9", 6, "tool", None, "search", base + dt.timedelta(seconds=601))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    assert run("orphans_2") == {0}   # the c1 orphan alert fires exactly now


def test_hysteresis_latches_and_releases(spark):
    import datetime as dt

    from napalm_logs_spark.operators.cep import hysteresis_alerts

    base = dt.datetime(2017, 7, 20, 0, 0, 0)
    rows = []
    # windows (1h): w0: 4 events -> latch ON; w1: 2 events (between lo
    # and hi) -> stays ON; w2: 1 event (< lo) -> releases; w3: 3 -> ON
    for w, k in enumerate([4, 2, 1, 3]):
        for j in range(k):
            rows.append((7, "error", base + dt.timedelta(hours=w, minutes=j)))
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = sorted(
        (r.win_start, r.n, r.alert)
        for r in hysteresis_alerts(df, hi=3, lo=2).collect()
    )
    alerts = [a for _, _, a in out]
    ns = [n for _, n, _ in out]
    assert ns == [4, 2, 1, 3]
    assert alerts == [1, 1, 0, 1]


def test_hysteresis_releases_across_silent_gap(spark):
    """A latched alert must RELEASE over a silent period (round-3
    ADVICE): densify=True fills empty windows with n=0, so the next
    active window does not inherit a stale latch."""
    import datetime as dt

    from napalm_logs_spark.operators.cep import hysteresis_alerts

    base = dt.datetime(2017, 7, 20, 0, 0, 0)
    rows = []
    # w0: 4 events -> latch ON; w1..w2: SILENT (0 < lo -> release);
    # w3: 2 events (between lo and hi) -> must stay OFF, not re-latch
    for w, k in [(0, 4), (3, 2)]:
        for j in range(k):
            rows.append((7, "error", base + dt.timedelta(hours=w, minutes=j)))
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = sorted(
        (r.win_start, r.n, r.alert)
        for r in hysteresis_alerts(df, hi=3, lo=2).collect()
    )
    assert [n for _, n, _ in out] == [4, 0, 0, 2]
    assert [a for _, _, a in out] == [1, 0, 0, 0]

    # densify=False restores the sparse legacy semantics: the gap is
    # invisible and the latch carries into w3
    sparse = sorted(
        (r.win_start, r.n, r.alert)
        for r in hysteresis_alerts(df, hi=3, lo=2, densify=False).collect()
    )
    assert [n for _, n, _ in sparse] == [4, 2]
    assert [a for _, _, a in sparse] == [1, 1]


def test_rate_anomaly_z_flat_and_shallow_branches(spark):
    """Hand-computed verdicts for all three regimes: a z-scored spike
    over a varying baseline, the flat-baseline (sd = 0) first
    deviation, and the shallow-baseline (n_baseline < min) abstain —
    with silent windows densified into the baseline as n = 0."""
    import datetime as dt

    import numpy as np

    from napalm_logs_spark.operators.cep import rate_anomaly

    base = dt.datetime(2017, 7, 20, 0, 0, 0)
    rows = []
    # user 1: hourly counts [2, 1, 2, 1, 9] -> the last window's
    # trailing-4 baseline is [2,1,2,1]: mu=1.5, sample sd=sqrt(1/3)
    for w, k in enumerate([2, 1, 2, 1, 9]):
        for j in range(k):
            rows.append((1, base + dt.timedelta(hours=w, minutes=j)))
    # user 2: flat [1, 1, 1] then a silent hour then 2 -> baseline of
    # the last window is [1,1,1,0]: VARYING (the silent window broke
    # the flat run), while window 3 (n=0) sees flat [1,1,1], sd=0,
    # 0 > 1 false -> no anomaly
    for w, k in [(0, 1), (1, 1), (2, 1), (4, 2)]:
        for j in range(k):
            rows.append((2, base + dt.timedelta(hours=w, minutes=j)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.user_id, r.win_start): r
        for r in rate_anomaly(
            df, key="user_id", window_seconds=3600,
            baseline=4, min_baseline=3, z_hi=2.0,
        ).collect()
    }
    t0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())

    spike = got[(1, t0 + 4 * 3600)]
    mu, sd = 1.5, np.sqrt(1.0 / 3.0)
    assert spike.n == 9 and spike.n_baseline == 4
    assert spike.mu == round(mu, 6)
    assert spike.z == round((9 - mu) / sd, 6)
    assert spike.anomaly == 1
    # windows 0..2 have n_baseline < 3: abstain whatever the count
    for w in range(3):
        r = got[(1, t0 + w * 3600)]
        assert r.anomaly == 0 and r.z is None
    # user 2, window 3 (densified n=0): flat baseline, no deviation up
    quiet = got[(2, t0 + 3 * 3600)]
    assert quiet.n == 0 and quiet.z is None and quiet.anomaly == 0
    # user 2, window 4: flat-... baseline [1,1,1,0] varies -> z path
    burst = got[(2, t0 + 4 * 3600)]
    assert burst.n == 2 and burst.n_baseline == 4
    assert burst.z is not None and burst.anomaly == 1


def test_rate_anomaly_flat_baseline_first_deviation(spark):
    """sd = 0 with n > mu flags even though z is undefined."""
    import datetime as dt

    from napalm_logs_spark.operators.cep import rate_anomaly

    base = dt.datetime(2017, 7, 20, 0, 0, 0)
    rows = []
    for w, k in enumerate([2, 2, 2, 5]):
        for j in range(k):
            rows.append((1, base + dt.timedelta(hours=w, minutes=j)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        r.win_start: r
        for r in rate_anomaly(
            df, key="user_id", window_seconds=3600,
            baseline=4, min_baseline=3, z_hi=2.0,
        ).collect()
    }
    t0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    r = out[t0 + 3 * 3600]
    assert r.n == 5 and r.mu == 2.0 and r.z is None and r.anomaly == 1


def _funnel_events(spark, rows):
    # rows: (key, event_type, seconds-offset)
    return spark.createDataFrame(
        [
            (k, e, BASE + datetime.timedelta(seconds=off))
            for k, e, off in rows
        ],
        "user_id string, event_type string, ts timestamp",
    )


def _steps():
    return [
        F.col("event_type") == "view",
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    ]


def test_windowed_funnel_levels_and_window_anchor(spark):
    from napalm_logs_spark.operators.cep import windowed_funnel

    df = _funnel_events(spark, [
        # u1: full conversion inside the window
        ("u1", "view", 0), ("u1", "click", 10), ("u1", "purchase", 20),
        # u2: click/purchase before the first view — must not count;
        # the only click >= t1(view@5) is click@9, then no purchase>=9
        ("u2", "click", 0), ("u2", "view", 5), ("u2", "purchase", 8),
        ("u2", "click", 9),
        # u3: purchase outside the ANCHOR window (anchor at view@0,
        # window 30 s): click@25 ok, purchase@40 too late
        ("u3", "view", 0), ("u3", "click", 25), ("u3", "purchase", 40),
        # u4: never starts the funnel
        ("u4", "purchase", 3), ("u4", "click", 4),
    ])
    out = {
        r["user_id"]: r
        for r in windowed_funnel(
            df, _steps(), window_seconds=30, key="user_id"
        ).collect()
    }
    assert out["u1"]["level"] == 3
    assert out["u2"]["level"] == 2 and out["u2"]["t3_us"] is None
    assert out["u3"]["level"] == 2 and out["u3"]["t3_us"] is None
    assert out["u4"]["level"] == 0 and out["u4"]["t1_us"] is None


def test_windowed_funnel_tie_chain_and_greedy_anchor(spark):
    from napalm_logs_spark.operators.cep import windowed_funnel

    df = _funnel_events(spark, [
        # same-microsecond tie chains (>= semantics)
        ("t1", "view", 0), ("t1", "click", 0), ("t1", "purchase", 0),
        # greedy anchor: earliest view@0 anchors the window even though
        # a later view@100 would have allowed the purchase@110
        ("g1", "view", 0), ("g1", "view", 100),
        ("g1", "click", 101), ("g1", "purchase", 110),
    ])
    out = {
        r["user_id"]: r
        for r in windowed_funnel(
            df, _steps(), window_seconds=30, key="user_id"
        ).collect()
    }
    assert out["t1"]["level"] == 3
    assert out["t1"]["t1_us"] == out["t1"]["t3_us"]
    assert out["g1"]["level"] == 1  # documented greedy-anchor semantics


def test_funnel_counts_conversions(spark):
    from napalm_logs_spark.operators.cep import (
        funnel_counts, windowed_funnel,
    )

    df = _funnel_events(spark, [
        ("a", "view", 0), ("a", "click", 1), ("a", "purchase", 2),
        ("b", "view", 0), ("b", "click", 1),
        ("c", "view", 0),
        ("d", "error", 0),
    ])
    lv = windowed_funnel(df, _steps(), window_seconds=60, key="user_id")
    rows = {r["step"]: r for r in funnel_counts(lv, 3).collect()}
    assert [rows[i]["n_keys"] for i in (1, 2, 3)] == [3, 2, 1]
    assert rows[1]["conv_from_prev"] == 1.0
    assert rows[2]["conv_from_prev"] == round(2 / 3, 6)
    assert rows[3]["conv_from_first"] == round(1 / 3, 6)
