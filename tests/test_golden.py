"""The golden corpus: every reference fixture case must normalize to the
exact expected envelope (timestamp popped, per the reference's own
harness rule — tests/test_config.py:195-209), and the corpus must be
bidirectionally complete (every case produced an envelope; every
envelope maps to a case)."""

import json

import pandas as pd
import pytest

from napalm_logs_spark.operators.normalize import normalize_pandas
from napalm_logs_spark.profiles import load_registry
from napalm_logs_spark.sources.transcripts import (
    golden_cases,
    golden_transcripts_pandas,
)


@pytest.fixture(scope="module")
def registry():
    return load_registry()


@pytest.fixture(scope="module")
def golden_out(registry):
    pdf = golden_transcripts_pandas()
    out = normalize_pandas(pdf, registry)
    return pdf, out[out["error"] != "RAW"]


def row_to_envelope(row) -> dict:
    """Envelope row → reference-shaped dict for golden comparison."""
    got = {
        "error": row["error"],
        "host": row["host"],
        "ip": row["ip"],
        "yang_model": row["yang_model"],
        "os": row["os"],
    }
    if row["yang_message"] is not None:
        got["yang_message"] = json.loads(row["yang_message"])
    if row["message_details"] is not None:
        got["message_details"] = json.loads(row["message_details"])
    if pd.notna(row["facility"]):
        got["facility"] = int(row["facility"])
    if pd.notna(row["severity"]):
        got["severity"] = int(row["severity"])
    if pd.notna(row["state"]):
        got["state"] = int(row["state"])
    if row["state_tag"] is not None:
        got["state_tag"] = row["state_tag"]
    return got


def test_golden_corpus_complete_and_exact(golden_out):
    pdf, out = golden_out
    cases = {f"{c['os']}#{c['error']}#{c['case']}": c for c in golden_cases()}
    assert len(cases) >= 133

    # completeness: one envelope per case, no extras
    assert set(out["conv_id"]) == set(cases), (
        "cases without envelope or envelopes without case"
    )
    failures = []
    for conv_id, grp in out.groupby("conv_id"):
        if len(grp) != 1:
            failures.append((conv_id, f"{len(grp)} envelopes"))
            continue
        expected = dict(cases[conv_id]["expected"])
        assert expected.pop("timestamp", False), f"{conv_id}: fixture lacks timestamp"
        row = grp.iloc[0]
        assert pd.notna(row["timestamp"]), f"{conv_id}: no timestamp produced"
        got = row_to_envelope(row)
        if got != expected:
            failures.append((conv_id, {"expected": expected, "got": got}))
    assert not failures, json.dumps(failures[:3], indent=2, default=str)


def test_golden_timestamps_event_time(golden_out):
    """With the fixture-era default year, parseable syslog dates resolve
    to exact epochs (e.g. junos INTERFACE_DOWN → 2017-07-20T21:45:59Z)."""
    _, out = golden_out
    row = out[out["conv_id"] == "junos#INTERFACE_DOWN#default"].iloc[0]
    assert int(row["timestamp"]) == 1500587159


def test_two_runs_byte_identical(registry):
    pdf = golden_transcripts_pandas()
    a = normalize_pandas(pdf, registry)
    b = normalize_pandas(pdf, registry)
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_unknown_fallback(registry):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"],
            "turn_idx": [0],
            "role": ["agent"],
            "text": ["totally not a syslog line"],
            "tool": [None],
            "ts": [pd.Timestamp("2017-07-20 21:45:59")],
        }
    )
    out = normalize_pandas(pdf, registry)
    assert len(out) == 1
    row = out.iloc[0]
    assert row["os"] == "unknown"
    assert row["error"] == "UNKNOWN"
    assert json.loads(row["message_details"]) == {"message": "totally not a syslog line"}
    # determinism deviation: fallback is event time, not now()
    assert int(row["timestamp"]) == 1500587159


def test_raw_fallback(registry):
    # valid junos prefix, tag that matches no message profile
    text = "<28>Jul 20 21:45:59 vmx01 mib2d[2424]: NO_SUCH_TAG_EVER: some body"
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"],
            "turn_idx": [0],
            "role": ["agent"],
            "text": [text],
            "tool": [None],
            "ts": [pd.Timestamp("2017-07-20 21:45:59")],
        }
    )
    out = normalize_pandas(pdf, registry)
    raw = out[out["error"] == "RAW"]
    assert len(raw) >= 1
    row = raw.iloc[0]
    assert row["yang_model"] == "raw"
    assert row["yang_message"] is None
    details = json.loads(row["message_details"])
    assert details["host"] == "vmx01"
    assert details["facility"] == 3 and details["severity"] == 4


def test_output_contract(registry):
    """What the Arrow path and perfbench's oracle read off the frame:
    column order, dtypes, explode order, and the UNKNOWN/RAW shapes."""
    from napalm_logs_spark.operators.normalize import DEFAULT_IP, _OUT_COLS

    golden = golden_transcripts_pandas()
    edge = pd.DataFrame(
        {
            "conv_id": ["null", "hello", "junk", "raw"],
            "turn_idx": [0, 1, 2, 3],
            "role": ["agent"] * 4,
            "text": [
                None, "hello", "<13>junk",
                "<28>Jul 20 21:45:59 vmx01 mib2d[2424]: NO_SUCH_TAG_EVER: some body",
            ],
            "tool": [None] * 4,
            "ts": [pd.NaT, pd.Timestamp("2017-07-20 21:45:59"), pd.NaT, pd.NaT],
        }
    )
    pdf = pd.concat([golden, edge], ignore_index=True)
    out = normalize_pandas(pdf, registry)

    assert list(out.columns) == _OUT_COLS
    ints = {"turn_idx", "timestamp", "facility", "severity", "state"}
    for col in _OUT_COLS:
        want = "datetime64[ns]" if col == "ts" else "Int64" if col in ints else "object"
        assert str(out[col].dtype) == want, col

    # the output index is the input position, repeated on explode; each
    # row's envelopes are contiguous, in input order, by OS name
    assert out.index.is_monotonic_increasing
    assert set(out.index) == set(range(len(pdf)))
    for _pos, oses in out.groupby(level=0, sort=False)["os"]:
        assert list(oses) == sorted(oses)
    multi = out[out["conv_id"] == "eos#AGENT_INITIALIZED#default"]
    assert list(multi["os"]) == ["eos", "netiron"]
    assert multi.index.nunique() == 1

    by_conv = out.set_index("conv_id")
    for conv, text in (("null", None), ("hello", "hello"), ("junk", "<13>junk")):
        row = by_conv.loc[conv]
        assert (row["os"], row["error"], row["yang_model"], row["host"]) == (
            "unknown", "UNKNOWN", "unknown", "unknown")
        assert row["ip"] == DEFAULT_IP
        assert json.loads(row["message_details"]) == {"message": text}
        for col in ("yang_message", "state_tag", "tag", "message", "entity"):
            assert row[col] is None, (conv, col)
        for col in ("facility", "severity", "state"):
            assert row[col] is pd.NA, (conv, col)
    assert by_conv.loc["null", "message_details"] == '{"message":null}'
    assert by_conv.loc["null", "timestamp"] is pd.NA  # null ts: no fallback
    assert by_conv.loc["hello", "timestamp"] == 1500587159  # event time

    raw = by_conv.loc["raw"]
    assert (raw["os"], raw["error"], raw["yang_model"]) == ("junos", "RAW", "raw")
    assert raw["yang_message"] is None and raw["state_tag"] is None
    assert raw["entity"] is None and raw["state"] is pd.NA
    assert (raw["host"], raw["tag"], raw["message"]) == (
        "vmx01", "NO_SUCH_TAG_EVER", "some body")
    assert (raw["facility"], raw["severity"], raw["timestamp"]) == (3, 4, 1500587159)
    assert json.loads(raw["message_details"])["tag"] == "NO_SUCH_TAG_EVER"


def test_every_profile_has_a_fixture_and_vice_versa(registry):
    """Bidirectional completeness, reference test_config.py:85-131: every
    message profile has >= 1 golden case, and every golden case dir maps
    to a profile error of its OS."""
    import os as _os

    from napalm_logs_spark.sources.transcripts import DEFAULT_GOLDEN_DIR

    problems = []
    for os_name, osp in registry.oses.items():
        os_dir = _os.path.join(DEFAULT_GOLDEN_DIR, os_name)
        dirs = set(_os.listdir(os_dir)) if _os.path.isdir(os_dir) else set()
        errors = {
            mp.error for index in osp.dispatch.values()
            for mps in index.values() for mp in mps
        }
        for missing in sorted(errors - dirs):
            problems.append(f"{os_name}/{missing}: profile without fixture")
        for extra in sorted(dirs - errors):
            problems.append(f"{os_name}/{extra}: fixture without profile")
    assert not problems, problems


def test_unpickled_registry_copies_are_freed(registry):
    """Every micro-batch hands each Python worker a freshly unpickled
    registry; normalizing with it must keep nothing of the copy alive
    (a plan cache keyed by ``id(mapping)`` kept ~0.3 MB per copy)."""
    import gc
    import pickle
    import tracemalloc

    pdf = golden_transcripts_pandas()
    blob = pickle.dumps(registry)
    normalize_pandas(pdf, pickle.loads(blob))  # warm the regex and date caches
    gc.collect()
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        for _ in range(20):
            normalize_pandas(pdf, pickle.loads(blob))
        gc.collect()
        grown = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
    assert grown < 1_000_000, f"{grown} bytes retained by 20 registry copies"


def test_missing_golden_dir_names_the_override(monkeypatch, tmp_path):
    """With no repo-local fixtures and no ``NLS_GOLDEN_DIR``, the golden
    source says what to set instead of reading another checkout."""
    from napalm_logs_spark.sources import transcripts

    fixtures = transcripts.DEFAULT_GOLDEN_DIR
    monkeypatch.delenv("NLS_GOLDEN_DIR", raising=False)
    monkeypatch.setattr(transcripts, "DEFAULT_GOLDEN_DIR", str(tmp_path / "missing"))
    with pytest.raises(FileNotFoundError, match="NLS_GOLDEN_DIR"):
        list(golden_cases())
    monkeypatch.setenv("NLS_GOLDEN_DIR", fixtures)
    assert len(list(golden_cases())) >= 133
