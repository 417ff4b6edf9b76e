"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re

import pandas as pd
import pyarrow as pa
import pytest

from perfbench import gen, oracle, run, stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def registry():
    from napalm_logs_spark.profiles import load_registry

    return load_registry()


@pytest.fixture(scope="module")
def templates(registry):
    return gen.verified_templates(registry)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_same_seed_writes_byte_identical_inputs(tmp_path, templates):
    plan = gen.paced_plan(3, 4, (2, 3, 5), warmup_files=2)
    for name in ("a", "b", "c"):
        seed = 7 if name != "c" else 8
        gen.make_drain(str(tmp_path / name / "drain"), seed=seed, n_turns=600, n_files=3,
                       syslog_share=0.5, templates=templates)
        gen.make_paced(str(tmp_path / name / "paced"), seed=seed, plan=plan,
                       syslog_share=1.0, templates=templates, static_files=2)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_substituted_texts_are_unique_except_bursts(templates):
    src = gen.TurnSource(3, templates, 1.0)
    texts = [src.next() for _ in range(3000)]
    firsts = [t for t, offset, _ in texts if offset == 0.0]
    assert len(set(firsts)) == len(firsts)
    assert any(offset for _, offset, _ in texts)  # bursts exist
    assert all(offset < gen.TTL_S for _, offset, _ in texts)


def _expected_and_sink(registry, templates):
    src = gen.TurnSource(11, templates, 0.5)
    items = [src.next() for _ in range(400)]
    turns = gen.turns_frame([t for t, _, _ in items],
                            [gen.BASE_EPOCH + i * 0.01 + o for i, (_, o, _) in enumerate(items)],
                            0, 11, [s for _, _, s in items])
    from napalm_logs_spark.operators.normalize import normalize_pandas

    env = normalize_pandas(turns, registry)
    expected = oracle.Expected.build(env, ttl_s=gen.TTL_S, send_raw=True, send_unknown=False)
    kept = oracle.sink_filter(oracle.anchored_ttl(env, gen.TTL_S), send_raw=True, send_unknown=False)
    cols = list(oracle.ENVELOPE_COLS) + list(oracle.TURN_COLS)
    return expected, kept[cols].reset_index(drop=True)


def _as_sink(df: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(df, preserve_index=False)


def test_oracle_accepts_the_expected_sink(registry, templates):
    expected, sink = _expected_and_sink(registry, templates)
    res = oracle.compare(expected, _as_sink(sink))
    assert res.mismatched_keys == 0 and not res.failed_turns


@pytest.mark.parametrize("fault", ["drop", "duplicate", "alter"])
def test_oracle_catches_injected_faults(registry, templates, fault):
    expected, sink = _expected_and_sink(registry, templates)
    row = sink.iloc[[5]]
    if fault == "drop":
        bad = sink.drop(index=5)
    elif fault == "duplicate":
        bad = pd.concat([sink, row], ignore_index=True)
    else:
        bad = sink.copy()
        bad.loc[5, "yang_message"] = (bad.loc[5, "yang_message"] or "") + " "
    res = oracle.compare(expected, _as_sink(bad))
    assert res.mismatched_keys == 1
    assert (row["conv_id"].iloc[0], int(row["turn_idx"].iloc[0])) in res.failed_turns


def test_anchored_ttl_does_not_refresh_on_suppressed_rows():
    env = pd.DataFrame({
        "conv_id": ["c"] * 4, "turn_idx": [0, 1, 2, 3],
        "ts": gen.utc([0.0, 3.0, 6.0, 10.0]),
        "os": ["eos"] * 4, "host": ["h"] * 4, "message": ["m"] * 4,
    })
    kept = oracle.anchored_ttl(env, 5.0)
    assert list(kept["turn_idx"]) == [0, 2]


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    names = list(e2e) + list(layer) + [w["name"] for w in bench["workloads"]]
    assert all(NAME_RE.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def _log(path: str, lines) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_paced_latency_from_a_hand_built_commit_log(tmp_path):
    ck = tmp_path / "ck"
    for d in ("sources/0", "offsets", "commits"):
        (ck / d).mkdir(parents=True)
    entry = '{{"path":"file:///src/{}","timestamp":0,"batchId":{}}}'
    # file-source batches 0 and 1; query batch 1 is a no-data batch, so
    # query batch 2 reads file-source batch 1
    _log(ck / "sources/0/0", ["v1", entry.format("f00000.parquet", 0), entry.format("f00001.parquet", 0)])
    _log(ck / "sources/0/1", ["v1", entry.format("f00002.parquet", 1), entry.format("f00003.parquet", 1)])
    for batch, log_offset, commit in ((0, 0, 105.0), (1, 0, 106.0), (2, 1, 112.0)):
        _log(ck / f"offsets/{batch}", ["v1", "{}", json.dumps({"logOffset": log_offset})])
        _log(ck / f"commits/{batch}", ["v1", "{}"])
        os.utime(ck / f"commits/{batch}", (commit, commit))
    (ck / "commits/.0.crc").write_text("x")

    batch_of = stats.file_batches(str(ck))
    assert batch_of == {"f00000.parquet": 0, "f00001.parquet": 0,
                        "f00002.parquet": 2, "f00003.parquet": 2}
    commits = stats.commit_times(str(ck))
    assert commits == {0: 105.0, 1: 106.0, 2: 112.0}
    due = {"f00000.parquet": 100.0, "f00001.parquet": 101.0,
           "f00002.parquet": 102.0, "f00003.parquet": 111.0}
    lat = stats.file_latencies(due, batch_of, commits)
    assert lat == {"f00000.parquet": 5.0, "f00001.parquet": 4.0,
                   "f00002.parquet": 10.0, "f00003.parquet": 1.0}
    assert stats.backlog(due, batch_of, commits, 106.5) == 1  # f00002 waits
    summary = stats.stage_summary(list(due), due, batch_of, commits, limit_s=8.0, files_per_s=1.0)
    assert summary["p50_s"] == 4.5
    assert summary["late_files"] == 1
    assert not summary["sustained"]
    missing = stats.file_latencies({"f00009.parquet": 1.0}, batch_of, commits)
    assert missing == {"f00009.parquet": None}
    for batch, start in ((0, 100.5), (1, 105.5), (2, 110.0)):
        os.utime(ck / f"offsets/{batch}", (start, start))
    assert stats.busy_seconds(str(ck), since=105.0) == 0.5 + 2.0
