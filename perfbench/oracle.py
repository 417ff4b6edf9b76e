"""Independent expected sink, and the per-key comparison with Spark's.

    python3 perfbench/oracle.py SRC_DIR OUT.parquet

normalizes every turn of a parquet input directory with pure pandas.

Expected sink = ``normalize_pandas`` on every input turn (pure pandas, no
Spark), then the reference's anchored-TTL dedup (key ``os, host,
message``; a kept row suppresses same-key rows for the TTL and suppressed
rows do not refresh the anchor — reference server.py:301-320,
buffer/memory.py:26-41), then the sink's RAW/UNKNOWN filters.  The
comparison is per dedup key: kept count and envelope bytes.  Which turn
of a burst was kept is not compared, because Spark's choice inside a
micro-batch is not deterministic.
"""

from __future__ import annotations

import glob
import multiprocessing
import os
import sys
from collections import defaultdict
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ENVELOPE_COLS = (
    "os", "error", "host", "ip", "timestamp", "facility", "severity",
    "yang_model", "yang_message", "message_details", "state", "state_tag",
    "tag", "message", "entity",
)
KEY_COLS = ("os", "host", "message")
TURN_COLS = ("conv_id", "turn_idx")
CHUNK_ROWS = 10_000  # the Arrow batch size Spark hands mapInPandas

_registry = None  # per worker process, set by _init_worker


def _init_worker() -> None:
    global _registry
    from napalm_logs_spark.profiles import load_registry

    _registry = load_registry()


def _normalize_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
    from napalm_logs_spark.operators.normalize import normalize_pandas

    return normalize_pandas(pdf, _registry)


def normalize_all(turns: pd.DataFrame, workers: int) -> pd.DataFrame:
    """``normalize_pandas`` over every turn, in Arrow-batch-sized chunks
    spread over ``workers`` spawned processes."""
    chunks = [turns.iloc[i:i + CHUNK_ROWS] for i in range(0, len(turns), CHUNK_ROWS)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(workers, mp_context=ctx, initializer=_init_worker) as ex:
        frames = list(ex.map(_normalize_chunk, chunks))
    return pd.concat(frames, ignore_index=True)


def _columns(df, names) -> dict:
    """Named columns as lists of plain Python values (int, str, None)."""
    if isinstance(df, pa.Table):
        return {c: df.column(c).to_pylist() for c in names}
    out = {}
    for c in names:
        col = df[c].astype(object)
        out[c] = col.where(col.notna(), None).tolist()
    return out


def envelopes(df) -> list[tuple]:
    """One tuple of envelope values per row (lineage columns excluded)."""
    cols = _columns(df, ENVELOPE_COLS)
    return list(zip(*(cols[c] for c in ENVELOPE_COLS)))


def anchored_ttl(env: pd.DataFrame, ttl_s: float) -> pd.DataFrame:
    """The reference's dedup, row by row in event-time order."""
    if env.empty:
        return env
    order = env.sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
    cols = _columns(order, KEY_COLS)
    keys = zip(*(cols[c] for c in KEY_COLS))
    secs = pd.to_datetime(order["ts"], utc=True).astype("int64").to_numpy() / 1e9
    anchors: dict = {}
    keep = np.zeros(len(order), dtype=bool)
    for i, (key, t) in enumerate(zip(keys, secs)):
        anchor = anchors.get(key)
        if anchor is None or t - anchor >= ttl_s:
            anchors[key] = t
            keep[i] = True
    return order[keep]


def sink_filter(env: pd.DataFrame, *, send_raw: bool, send_unknown: bool) -> pd.DataFrame:
    denied = set()
    if not send_raw:
        denied.add("RAW")
    if not send_unknown:
        denied.add("UNKNOWN")
    return env[~env["error"].isin(denied)] if denied else env


def index(df) -> tuple[dict, dict]:
    """dedup key -> envelopes (in a fixed order), and key -> turns."""
    cols = _columns(df, ENVELOPE_COLS + TURN_COLS)
    keys = list(zip(*(cols[c] for c in KEY_COLS)))
    envs = defaultdict(list)
    turns = defaultdict(set)
    for key, env, turn in zip(keys, zip(*(cols[c] for c in ENVELOPE_COLS)),
                              zip(*(cols[c] for c in TURN_COLS))):
        envs[key].append(env)
        turns[key].add(turn)
    return {k: sorted(v, key=repr) if len(v) > 1 else v for k, v in envs.items()}, turns


@dataclass
class Expected:
    """What a correct sink holds, plus which turns feed each key."""

    keys: dict            # key -> envelopes, see index()
    turns_of_key: dict    # key -> {(conv_id, turn_idx)} before dedup
    rows: int = field(default=0)

    @classmethod
    def build(cls, env: pd.DataFrame, *, ttl_s: float, send_raw: bool,
              send_unknown: bool) -> "Expected":
        published = sink_filter(env, send_raw=send_raw, send_unknown=send_unknown)
        kept = sink_filter(anchored_ttl(env, ttl_s), send_raw=send_raw,
                           send_unknown=send_unknown)
        return cls(index(kept)[0], index(published)[1], len(kept))


@dataclass
class Check:
    rows: int
    mismatched_keys: int
    failed_turns: set


def compare(expected: Expected, sink: pa.Table) -> Check:
    """Per dedup key: kept count and envelope bytes must match."""
    got, sink_turns = index(sink)
    failed: set = set()
    bad = 0
    for key in expected.keys.keys() | got.keys():
        if expected.keys.get(key) != got.get(key):
            bad += 1
            failed |= expected.turns_of_key.get(key, set())
            failed |= sink_turns.get(key, set())
    return Check(sink.num_rows, bad, failed)


def read_sink(path: str) -> pa.Table:
    """Every committed ``_batch_id=N`` directory of a parquet sink."""
    cols = list(ENVELOPE_COLS) + list(TURN_COLS)
    files = sorted(glob.glob(os.path.join(path, "_batch_id=*", "*.parquet")))
    tables = [pq.read_table(f, columns=cols) for f in files]
    tables = [t for t in tables if t.num_rows]
    if not tables:
        return pa.table({c: pa.array([], pa.string()) for c in cols})
    return pa.concat_tables(tables)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: oracle.py SRC_DIR OUT.parquet")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    files = sorted(glob.glob(os.path.join(sys.argv[1], "*.parquet")))
    turns = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    normalize_all(turns, workers=min(4, os.cpu_count() or 1)).to_parquet(sys.argv[2], index=False)
