"""CLI entry point + the demo profile corpus (standalone operation)."""

import datetime
import json
import os

import pandas as pd
import pytest

from napalm_logs_spark.profiles.registry import load_registry
from napalm_logs_spark.operators.normalize import normalize_pandas


DEMO_PROFILE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "profiles")


def test_builtin_profiles_standalone():
    reg = load_registry(DEMO_PROFILE_DIR)
    assert "demo" in reg.oses
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"],
            "turn_idx": [0],
            "role": ["agent"],
            "text": ["<30>Jul 20 21:45:59 sw1 LINKD: link eth0/1 changed state to down"],
            "tool": [None],
            "ts": [pd.Timestamp("2017-07-20 21:45:59")],
        }
    )
    out = normalize_pandas(pdf, reg)
    out = out[~out["error"].isin(["RAW", "UNKNOWN"])]
    assert len(out) == 1
    row = out.iloc[0]
    assert row["os"] == "demo" and row["error"] == "LINK_STATE"
    assert json.loads(row["yang_message"]) == {
        "interfaces": {"interface": {"eth0/1": {"state": {"oper_status": "DOWN"}}}}
    }
    assert row["entity"] == "eth0/1"


def test_cli_normalize_and_run(spark, tmp_path):
    # reuse the test session's JVM: getOrCreate inside main() attaches
    from napalm_logs_spark.__main__ import main
    from napalm_logs_spark.sources.transcripts import (
        golden_transcripts_pandas,
        transcripts_df,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    metrics = str(tmp_path / "m.jsonl")
    transcripts_df(spark, golden_transcripts_pandas().iloc[:30]).coalesce(1).write.parquet(src)

    assert main(["normalize", "--source", src, "--output", out]) == 0
    assert spark.read.parquet(out).count() >= 30

    assert main([
        "run", "--source", src, "--sink", sink, "--checkpoint", ckpt,
        "--metrics", metrics, "--no-dedup",
    ]) == 0
    from napalm_logs_spark.streaming.maintenance import read_table

    n1 = read_table(spark, sink).count()
    assert n1 >= 30
    assert json.loads(open(metrics).readline())["num_input_rows"] == 30

    # a second batch lands, then the maintenance job compacts batch 0
    transcripts_df(spark, golden_transcripts_pandas().iloc[30:40]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert main([
        "run", "--source", src, "--sink", sink, "--checkpoint", ckpt,
        "--metrics", metrics, "--no-dedup",
    ]) == 0
    n2 = read_table(spark, sink).count()
    assert n2 > n1
    assert main(["compact", "--table", sink]) == 0
    assert read_table(spark, sink).count() == n2
    assert not os.path.isdir(sink + "/_batch_id=0")
    assert os.path.isdir(sink + "/_compacted_upto=0")


_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def test_cli_leaves_caller_session_unchanged(spark, tmp_path):
    """main() on a caller's session hands it back with the caller's
    settings: shuffle partitions and state-store provider included."""
    from napalm_logs_spark.__main__ import main
    from napalm_logs_spark.sources.transcripts import (
        golden_transcripts_pandas,
        transcripts_df,
    )

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    transcripts_df(spark, golden_transcripts_pandas().iloc[:5]).write.parquet(src)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.unset(_PROVIDER)
    try:
        assert main(["normalize", "--source", src, "--output", out]) == 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get(_PROVIDER, None) is None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_cli_session_sizes_partitions_to_cores(spark):
    from napalm_logs_spark.__main__ import _restore, _session

    before = spark.conf.get("spark.sql.shuffle.partitions")
    s, previous = _session("local[*]", None)
    try:
        assert s is spark and previous is not None
        assert s.conf.get("spark.sql.shuffle.partitions") == str(
            spark.sparkContext.defaultParallelism)
        assert s.conf.get(_PROVIDER).endswith("RocksDBStateStoreProvider")
    finally:
        _restore(s, previous)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_cli_resume_keeps_checkpoint_partitions(spark, tmp_path):
    """A checkpoint created with explicit state partitions resumes with
    them when the flag is gone (as checkpoints made at the old default
    of 32 do): the state still catches the keys of the first batch."""
    from napalm_logs_spark.__main__ import main
    from napalm_logs_spark.operators.dedup import DEFAULT_KEY
    from napalm_logs_spark.sources.transcripts import (
        golden_transcripts_pandas,
        transcripts_df,
    )
    from napalm_logs_spark.streaming.maintenance import read_table

    src, sink = str(tmp_path / "src"), str(tmp_path / "sink")
    ckpt, metrics = str(tmp_path / "ckpt"), str(tmp_path / "m.jsonl")
    # every ts inside one 20 s span: the resumed batch's copies stay
    # above the 30 s watermark, so only the dedup state can drop them
    pdf = golden_transcripts_pandas().iloc[:20]
    transcripts_df(spark, pdf).coalesce(1).write.parquet(src)
    cli = ["run", "--source", src, "--sink", sink, "--checkpoint", ckpt,
           "--metrics", metrics]
    assert main(["--shuffle-partitions", "3"] + cli) == 0
    n1 = read_table(spark, sink).count()
    transcripts_df(spark, pdf).coalesce(1).write.mode("append").parquet(src)
    assert main(cli) == 0

    # one record per data batch; no-data (eviction) batches are skipped
    ops = [r["state_operators"] for r in map(json.loads, open(metrics))
           if r["num_input_rows"]]
    assert [[op["num_shuffle_partitions"] for op in o] for o in ops] == [[3], [3]]
    assert ops[1][0]["num_rows_updated"] == 0
    kept = read_table(spark, sink)
    assert kept.count() == n1 > 0
    assert kept.groupBy(*DEFAULT_KEY).count().filter("count > 1").count() == 0


def test_cli_run_keeps_every_unknown_envelope(spark, tmp_path):
    """UNKNOWN envelopes never enter the dedup buffer (the reference
    dedups after identifying the OS), so distinct free-text turns all
    publish; a same-key syslog duplicate 2 s apart still collapses."""
    from napalm_logs_spark.__main__ import main
    from napalm_logs_spark.streaming.maintenance import read_table

    base = datetime.datetime(2017, 7, 20, 21, 45, 0)
    line = "<28>Jul 20 21:45:59 vmx01 mib2d[2424]: SNMP_TRAP_LINK_DOWN: ifIndex 502"
    rows = [
        ("c1", 0, "user", "is the core link healthy?", None, base),
        ("c1", 1, "user", "please check again", None, base + datetime.timedelta(seconds=10)),
        ("c1", 2, "user", "any news on that?", None, base + datetime.timedelta(seconds=20)),
        ("c2", 0, "agent", line, None, base),
        ("c2", 1, "agent", line, None, base + datetime.timedelta(seconds=2)),
    ]
    src, sink = str(tmp_path / "src"), str(tmp_path / "sink")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).coalesce(1).write.parquet(src)
    assert main([
        "run", "--source", src, "--sink", sink, "--checkpoint", str(tmp_path / "ckpt"),
    ]) == 0

    got = read_table(spark, sink).collect()
    unknown = sorted((r.conv_id, r.turn_idx) for r in got if r.os == "unknown")
    assert unknown == [("c1", 0), ("c1", 1), ("c1", 2)]
    syslog = [r for r in got if r.os != "unknown"]
    assert len(syslog) == 1 and syslog[0].conv_id == "c2"


@pytest.mark.parametrize("source_format", ["parquet", "json"])
def test_cli_orphan_alerts(spark, tmp_path, source_format):
    # the alert query reads the same source, in the same format, as run
    import datetime

    from napalm_logs_spark.__main__ import main

    BASE = datetime.datetime(2017, 7, 20, 21, 0, 0)
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    rows = [
        ("c1", 0, "agent", "ask a", None, BASE),
        ("c1", 1, "tool", "t", "search", BASE + datetime.timedelta(seconds=5)),
        ("c2", 0, "agent", "ask b", None, BASE),
    ]
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    orph = str(tmp_path / "orphans")

    def append(batch):
        writer = spark.createDataFrame(batch, schema).coalesce(1).write.mode("append")
        writer.format(source_format).save(src)

    append(rows)

    cli = [
        "run", "--source", src, "--source-format", source_format,
        "--sink", sink, "--checkpoint", ckpt,
        "--no-dedup", "--orphan-sink", orph, "--orphan-horizon", "10",
        "--watermark", "0 seconds",
    ]
    assert main(cli) == 0

    # a far-future agent+tool pair advances BOTH sides' watermarks past
    # c2's horizon (itself answered in time, so not an orphan); the
    # second run resumes the alert query from its own checkpoint
    sentinel = [
        ("c9", 0, "agent", "s", None, BASE + datetime.timedelta(seconds=2000)),
        ("c9", 1, "tool", "t", "search", BASE + datetime.timedelta(seconds=2001)),
    ]
    append(sentinel)
    assert main(cli) == 0
    got = spark.read.parquet(orph).collect()
    assert [(r.conv_id, r.agent_turn) for r in got] == [("c2", 0)]


def test_cli_neardup(spark, tmp_path):
    import numpy as np

    from napalm_logs_spark.__main__ import main

    rng = np.random.RandomState(5)
    base = rng.randn(6, 8)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
    rows.append((50, [float(x) for x in base[3] + 1e-4 * rng.randn(8)]))
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(
        1
    ).write.parquet(src)
    out, idx, ckpt = (str(tmp_path / d) for d in ("out", "idx", "ckpt"))
    assert main([
        "neardup", "--source", src, "--out", out, "--index", idx,
        "--checkpoint", ckpt,
    ]) == 0
    from napalm_logs_spark.streaming.maintenance import read_table

    kept = {r.vec_id for r in read_table(spark, out).collect()}
    assert kept == {0, 1, 2, 3, 4, 5}, kept  # 50 dropped (near-copy of 3)
    # the index is a compactable lakehouse table
    assert main(["compact", "--table", idx, "--upto", "0"]) == 0


def test_cli_docfilter(spark, tmp_path):
    from napalm_logs_spark.__main__ import main

    good = (
        "the cat and the dog have a long conversation about the weather "
        "that goes on with many plain words in it " * 3
    )
    rows = [
        (1, good + " mail me at a.b@example.com or 10.1.2.3"),
        (2, "x y z"),  # fails gopher min_words
        (3, good),
    ]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(src)
    assert main([
        "docfilter", "--source", src, "--output", out,
        "--gopher", "--pii-scrub", "--langid",
    ]) == 0
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 3}, "doc 2 must fail the Gopher gates"
    assert "<EMAIL>" in got[1].text and "<IP>" in got[1].text
    assert "example.com" not in got[1].text
    assert got[1].n_email == 1 and got[1].n_ipv4 == 1
    assert got[3].lang_pred == "en"


def test_cli_dedup(spark, tmp_path):
    from napalm_logs_spark.__main__ import main

    body = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        (1, body * 4),
        (2, body * 4),                     # exact dup of 1
        (3, body * 4 + "with a tiny tail"),  # near-dup of 1 (high jaccard)
        (4, "a completely different document about spark shuffles"),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(src)

    out1 = str(tmp_path / "exact")
    assert main(["dedup", "--source", src, "--output", out1]) == 0
    assert {r.doc_id for r in spark.read.parquet(out1).collect()} == {1, 3, 4}

    out2 = str(tmp_path / "mh")
    assert main([
        "dedup", "--source", src, "--output", out2,
        "--method", "minhash", "--threshold", "0.7",
    ]) == 0
    assert {r.doc_id for r in spark.read.parquet(out2).collect()} == {1, 4}


def test_cli_config_file_multi_sink_fanout(spark, tmp_path, monkeypatch):
    """A deployment-style YAML config (reference scripts/cli.py:272-282)
    drives the whole run: source/checkpoint from the file, a multi-sink
    fan-out with per-sink filters the flags can't express, ${ENV}
    interpolation, and CLI-flag precedence over file values."""
    from napalm_logs_spark.__main__ import main
    from napalm_logs_spark.sources.transcripts import (
        golden_transcripts_pandas,
        transcripts_df,
    )
    from napalm_logs_spark.streaming.maintenance import read_table

    src = str(tmp_path / "src")
    all_sink = str(tmp_path / "all")
    filt_sink = str(tmp_path / "filtered")
    ckpt = str(tmp_path / "ckpt")
    transcripts_df(spark, golden_transcripts_pandas().iloc[:30]).coalesce(
        1
    ).write.parquet(src)

    monkeypatch.setenv("NLS_TEST_SRC", src)
    cfg = tmp_path / "deploy.yaml"
    cfg.write_text(f"""
source: ${{NLS_TEST_SRC}}
checkpoint: {ckpt}
no_dedup: true
watermark: 10 seconds
sinks:
  - path: {all_sink}
    send_raw: true
    send_unknown: true
  - path: {filt_sink}
    whitelist: [INTERFACE_DOWN]
""")
    assert main(["--config-file", str(cfg), "run"]) == 0
    n_all = read_table(spark, all_sink).count()
    filtered = read_table(spark, filt_sink)
    n_filt = filtered.count()
    assert n_all > n_filt > 0
    errs = {r.error for r in filtered.select("error").distinct().collect()}
    assert errs == {"INTERFACE_DOWN"}

    # flag precedence: an explicit --sink ADDS to the config fan-out,
    # an explicit --checkpoint OVERRIDES the file's value
    extra = str(tmp_path / "extra")
    ckpt2 = str(tmp_path / "ckpt2")
    assert main([
        "--config-file", str(cfg), "run",
        "--sink", extra, "--checkpoint", ckpt2,
    ]) == 0
    assert read_table(spark, extra).count() == n_all


def test_cli_config_file_errors(tmp_path):
    from napalm_logs_spark.config import build_sinks, load_config

    bad = tmp_path / "bad.yaml"
    bad.write_text("source: ${NLS_UNSET_VAR_XYZ}\n")
    import pytest as _pytest

    with _pytest.raises(KeyError, match="NLS_UNSET_VAR_XYZ"):
        load_config(str(bad))
    with _pytest.raises(ValueError, match="bad sink entry"):
        build_sinks([{"path": "/x", "whitelst": ["typo"]}])


def test_cli_run_requires_source_from_somewhere(capsys):
    from napalm_logs_spark.__main__ import main
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["run", "--sink", "/tmp/x"])


def _run_flags():
    """A parser with the kinds of flag ``run`` has."""
    import argparse

    p = argparse.ArgumentParser(prog="run")
    p.add_argument("--source")
    p.add_argument("--sink", action="append")
    p.add_argument("--checkpoint")
    p.add_argument("--source-format", default="parquet", choices=("parquet", "json"))
    p.add_argument("--no-dedup", action="store_true")
    p.add_argument("--max-files-per-trigger", type=int)
    return p


def test_config_scalar_sink_becomes_list():
    from napalm_logs_spark.config import merge_config

    p = _run_flags()
    args = p.parse_args([])
    merge_config(args, {"sink": "/data/out", "source": "/data/in"}, [], (p,))
    assert args.sink == ["/data/out"]  # not iterated char-by-char later
    # explicit flag wins over the file
    args2 = p.parse_args(["--sink", "/flag"])
    merge_config(args2, {"sink": "/file"}, ["--sink", "/flag"], (p,))
    assert args2.sink == ["/flag"]


def test_config_values_parse_like_their_flags():
    from napalm_logs_spark.config import merge_config

    p = _run_flags()
    args = p.parse_args([])
    # "5" is what a ${ENV} interpolation yields
    merge_config(args, {
        "max_files_per_trigger": "5", "no_dedup": False,
        "source_format": "json", "sink": ["/a", "/b"],
    }, [], (p,))
    assert args.max_files_per_trigger == 5
    assert args.no_dedup is False
    assert (args.source_format, args.sink) == ("json", ["/a", "/b"])


@pytest.mark.parametrize("line", [
    "source_format: JSON",
    'no_dedup: "false"',
    "max_files_per_trigger: five",
    "shuffle_partitions: many",
    "max_files_per_trigger: true",
])
def test_cli_config_value_outside_its_flag_is_refused(tmp_path, capsys, line):
    """A config value the flag itself would refuse exits through the
    parser, naming the key, before any Spark work."""
    from napalm_logs_spark.__main__ import main

    cfg = tmp_path / "c.yaml"
    cfg.write_text(line + "\n")
    with pytest.raises(SystemExit) as exc:
        main([
            "--config-file", str(cfg), "run", "--source", str(tmp_path / "none"),
            "--sink", str(tmp_path / "out"), "--checkpoint", str(tmp_path / "ck"),
        ])
    assert exc.value.code == 2
    assert f"config file: {line.split(':')[0]}:" in capsys.readouterr().err


def test_config_scalar_whitelist_and_abbreviated_flags():
    import pytest as _pytest

    from napalm_logs_spark.config import _flag_given, build_sinks, merge_config

    # a natural single-value YAML scalar becomes a one-element tuple
    [spec] = build_sinks([{"path": "/x", "whitelist": "INTERFACE_DOWN"}])
    assert spec.whitelist == ("INTERFACE_DOWN",)
    with _pytest.raises(ValueError, match="string or a"):
        build_sinks([{"path": "/x", "blacklist": None}])
    # argparse prefix abbreviations count as explicitly given — the
    # file must NOT override `--check /my/ckpt`
    dests = ("checkpoint", "source", "source_format", "sink")
    assert _flag_given(["--check", "/my/ckpt"], "checkpoint", dests)
    assert _flag_given(["--checkpoint=/c"], "checkpoint", dests)
    assert not _flag_given(["--source", "/s"], "checkpoint", dests)
    # `--source` is a whole flag, not an abbreviation of --source-format:
    # a config file's source_format must still apply
    assert _flag_given(["--source", "/s"], "source", dests)
    assert not _flag_given(["--source", "/s"], "source_format", dests)
    assert _flag_given(["--source-f", "json"], "source_format", dests)
    p = _run_flags()
    args = p.parse_args(["--source", "/x"])
    merge_config(
        args, {"source": "/file", "source_format": "json"},
        ["run", "--source", "/x"], (p,),
    )
    assert (args.source, args.source_format) == ("/x", "json")
