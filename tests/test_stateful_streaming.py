"""Stateful streaming operators: windowed flaps and sessions, and the
applyInPandasWithState entity state machine — including state carried
across micro-batches and across checkpoint restarts."""

import datetime

from napalm_logs_spark.streaming.stateful import entity_state_stream

BASE = datetime.datetime(2017, 7, 20, 21, 0, 0)


def _run_windowed(spark, build_query, src, ckpt, out):
    """availableNow run of a windowed streaming agg to a parquet sink;
    append-mode windows emit once the (checkpointed) watermark passes
    their end — the caller appends a late sentinel and runs again."""
    q = (
        build_query()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_flaps_streaming_sliding_window(spark, tmp_path):
    """C5 in streaming form: sliding-window transition counts with an
    event-time watermark; windows seal exactly-once across two runs of
    one checkpoint."""
    from napalm_logs_spark.operators.cep import flaps

    src, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "out")
    schema = "host string, family string, entity string, ts timestamp"
    burst = [
        ("r1", "interface", "xe-0", BASE + datetime.timedelta(seconds=s))
        for s in (0, 8, 16, 24)
    ] + [("r1", "interface", "xe-1", BASE + datetime.timedelta(seconds=4))]
    spark.createDataFrame(burst, schema).coalesce(1).write.mode("append").parquet(src)

    def build():
        stream = spark.readStream.schema(schema).parquet(src)
        return flaps(
            stream.withWatermark("ts", "1 second"),
            window="60 seconds", slide="10 seconds", min_transitions=3,
        )

    _run_windowed(spark, build, src, ckpt, out)
    # sentinel far in the future seals every burst window
    spark.createDataFrame(
        [("zz", "interface", "zz", BASE + datetime.timedelta(seconds=3600))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    _run_windowed(spark, build, src, ckpt, out)

    got = [r for r in spark.read.parquet(out).collect() if r.host != "zz"]
    assert got, "no sealed flap windows emitted"
    assert {r.entity for r in got} == {"xe-0"}  # xe-1 never reaches 3
    assert max(r.n_transitions for r in got) == 4
    # windows only ever count events inside [start, end)
    for r in got:
        assert (r.win_end - r.win_start).total_seconds() == 60

    # re-running with no new data must not re-emit sealed windows
    # (exactly-once across resumes)
    _run_windowed(spark, build, src, ckpt, out)
    again = [r for r in spark.read.parquet(out).collect() if r.host != "zz"]
    assert len(again) == len(got)


def test_session_window_streaming(spark, tmp_path):
    """Session windows per conv_id in streaming mode: a >gap quiet
    period splits the conversation; sealed sessions emit in append mode."""
    from napalm_logs_spark.operators.cep import session_stats

    src, ckpt, out = str(tmp_path / "ssrc"), str(tmp_path / "sckpt"), str(tmp_path / "sout")
    schema = "conv_id string, turn_idx int, ts timestamp"
    rows = [
        ("c1", 0, BASE),
        ("c1", 1, BASE + datetime.timedelta(seconds=10)),
        ("c1", 2, BASE + datetime.timedelta(seconds=20)),
        ("c1", 3, BASE + datetime.timedelta(seconds=400)),   # new session
        ("c1", 4, BASE + datetime.timedelta(seconds=410)),
        ("c2", 0, BASE + datetime.timedelta(seconds=5)),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def build():
        stream = spark.readStream.schema(schema).parquet(src)
        return session_stats(stream.withWatermark("ts", "1 second"), gap="300 seconds")

    _run_windowed(spark, build, src, ckpt, out)
    spark.createDataFrame(
        [("zz", 0, BASE + datetime.timedelta(seconds=7200))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    _run_windowed(spark, build, src, ckpt, out)

    got = {
        (r.conv_id, r.n_turns, r.first_turn, r.last_turn)
        for r in spark.read.parquet(out).collect()
        if r.conv_id != "zz"
    }
    assert got == {("c1", 3, 0, 2), ("c1", 2, 3, 4), ("c2", 1, 0, 0)}


def test_entity_state_machine_stream(spark, tmp_path):
    src, ckpt = str(tmp_path / "esrc"), str(tmp_path / "eckpt")
    rows = [
        ("r1", "interface", "xe-0", BASE, 0, "INTERFACE_DOWN", 0),
        ("r1", "interface", "xe-0", BASE + datetime.timedelta(seconds=10), 1, "INTERFACE_UP", 1),
        ("r1", "interface", "xe-0", BASE + datetime.timedelta(seconds=20), 1, "INTERFACE_UP", 2),  # no change
        ("r1", "interface", "xe-1", BASE + datetime.timedelta(seconds=5), 1, "INTERFACE_UP", 3),
    ]
    schema = "host string, family string, entity string, ts timestamp, state01 int, error string, turn_idx int"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = entity_state_stream(stream)
    q = (
        out.writeStream.format("memory").queryName("fsm_stream")
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.sql("select * from fsm_stream").collect()
    xe0 = sorted(
        ((r.ts, r.status, r.prev_state) for r in got if r.entity == "xe-0"),
    )
    assert [(s, p) for _, s, p in xe0] == [("open", None), ("closed", 0)]
    xe1 = [r for r in got if r.entity == "xe-1"]
    assert len(xe1) == 1 and xe1[0].status == "closed"


def test_alarm_families_in_streaming_fsm(spark, tmp_path):
    """The streaming entity FSM inherits the alarm gauge families:
    SYSTEM_ALARM opens at state 1, SYSTEM_ALARM_CLEARED closes at 0 —
    driven by real junos fixture lines through normalize across TWO
    micro-batches (state carried between batches)."""
    import pandas as pd

    from napalm_logs_spark.operators.cep import state_events
    from napalm_logs_spark.operators.normalize import normalize
    from napalm_logs_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA,
        golden_cases,
    )

    by_err = {}
    for c in golden_cases():
        if c["os"] == "junos" and c["case"] == "default":
            by_err.setdefault(c["error"], c["text"])
    set_txt = by_err["SYSTEM_ALARM"]
    clr_txt = by_err["SYSTEM_ALARM_CLEARED"]

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    def write_batch(text, turn, sec):
        pdf = pd.DataFrame(
            [{"conv_id": "c1", "turn_idx": turn, "role": "agent",
              "text": text, "tool": None,
              "ts": BASE + datetime.timedelta(seconds=sec)}]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write_batch(set_txt, 0, 0)      # batch 1: alarm set
    write_batch(clr_txt, 1, 30)     # batch 2: alarm cleared

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    fsm = entity_state_stream(state_events(normalize(stream)))
    q = (
        fsm.writeStream.format("memory").queryName("alarm_fsm")
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (r.family, r.entity, r.state01, r.prev_state, r.status)
        for r in spark.sql("select * from alarm_fsm").collect()
    )
    # alarm polarity: SET (1) opens the alert, CLEARED (0) closes it
    assert got == [
        ("system_alarm", "supply", 0, 1, "closed"),
        ("system_alarm", "supply", 1, None, "open"),
    ]


def test_entity_fsm_state_survives_checkpoint_restart(spark, tmp_path):
    """The FSM's last-state survives a full query restart: run 1 sees
    the alarm SET; run 2 (same checkpoint, new data) must emit ONLY the
    cleared transition — i.e. it remembered state 1 across restarts."""
    import pandas as pd

    from napalm_logs_spark.operators.cep import state_events
    from napalm_logs_spark.operators.normalize import normalize
    from napalm_logs_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA,
        golden_cases,
    )

    by_err = {}
    for c in golden_cases():
        if c["os"] == "junos" and c["case"] == "default":
            by_err.setdefault(c["error"], c["text"])

    src, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "out")

    def write_batch(text, turn, sec):
        pdf = pd.DataFrame(
            [{"conv_id": "c1", "turn_idx": turn, "role": "agent",
              "text": text, "tool": None,
              "ts": BASE + datetime.timedelta(seconds=sec)}]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
        q = (
            entity_state_stream(state_events(normalize(stream)))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    write_batch(by_err["SYSTEM_ALARM"], 0, 0)
    run()
    got1 = spark.read.parquet(out).collect()
    assert [(r.state01, r.prev_state, r.status) for r in got1] == [(1, None, "open")]

    write_batch(by_err["SYSTEM_ALARM_CLEARED"], 1, 30)
    run()
    got2 = sorted(
        (r.state01, r.prev_state, r.status) for r in spark.read.parquet(out).collect()
    )
    assert got2 == [(0, 1, "closed"), (1, None, "open")]

