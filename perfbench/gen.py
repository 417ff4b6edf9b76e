"""Seeded, semantics-neutral input generator.

A turn is either a verified golden syslog line with a per-row host (and,
where the profile resolves it, a per-row time of day) substituted in, or
a line of seeded chat text that no OS profile matches.  Every text is
unique except exact-duplicate bursts, which span less than the dedup TTL,
so the reference's anchored TTL and ``dropDuplicatesWithinWatermark``
keep the same rows.  The product only ever sees the parquet files written
here; the same seed writes byte-identical files.

Run as a program, this module is the paced workload's open-loop writer:

    python3 perfbench/gen.py paced-writer CONFIG.json
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import sys
import time
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2
TTL_S = 5.0  # reference default expire_time, also the CLI's --dedup-ttl
BASE_EPOCH = datetime(2017, 7, 20, 21, 45, 59, tzinfo=timezone.utc).timestamp()
DRAIN_STEP_S = 0.01  # event-time spacing of drain turns
TURNS_PER_CONV = 16
BURST_P = 0.035  # chance that a syslog turn starts a duplicate burst

ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

_HMS_RE = re.compile(r"(?<!\d)([01]\d|2[0-3]):([0-5]\d):([0-5]\d)(?!\d)")

_WORDS = (
    "please can you check why the link is still down again after last "
    "night maintenance window router switch config backup deploy rollback "
    "ticket team tonight morning thanks sure looks fine to me let us retry "
    "upgrade firmware rack power cable vendor support escalate monitor "
    "graph latency packet loss route peer session flapping alert noisy"
).split()
_TAGS = ("<br>", "<b>", "<pre>", "<think>", "<ok>", "<user>", "<eof>")
_COLON_BITS = ("note:", "status: ok", "fyi:", "re:", "eta:", "a:b", "update:")


@dataclass(frozen=True)
class Template:
    text: str
    host: str
    hms: str | None  # first HH:MM:SS of the text, when the profile resolves it


def utc(epochs) -> pd.DatetimeIndex:
    """Epoch seconds -> UTC timestamps, rounded to whole microseconds."""
    micros = np.round(np.asarray(epochs, dtype="float64") * 1e6).astype("int64")
    return pd.to_datetime(micros, unit="us", utc=True)


def host_name(seed: int, serial: int) -> str:
    return f"n{seed % 100000}-{serial:07d}"


def chat_text(rng: random.Random, seed: int, serial: int) -> str:
    """Free-form chat; some lines carry ``<`` and ``:`` so the cheap
    prefix gates do not reject them for free, but no ``<digits>`` pri."""
    words = rng.choices(_WORDS, k=rng.randint(6, 16))
    if rng.random() < 0.6:
        words.insert(rng.randrange(len(words) + 1), rng.choice(_TAGS))
    if rng.random() < 0.6:
        words.insert(rng.randrange(len(words) + 1), rng.choice(_COLON_BITS))
    if rng.random() < 0.3:
        words.insert(rng.randrange(len(words) + 1),
                     f"{rng.randrange(24):02d}:{rng.randrange(60):02d}")
    words.append(f"#{seed}-{serial}")
    return " ".join(words)


def _frame(texts, ts_epoch: float) -> pd.DataFrame:
    n = len(texts)
    return pd.DataFrame(
        {
            "conv_id": [f"v{i}" for i in range(n)],
            "turn_idx": pd.array([0] * n, dtype="int32"),
            "role": ["agent"] * n,
            "text": list(texts),
            "tool": [None] * n,
            "ts": utc([ts_epoch] * n),
        }
    )


def verified_templates(registry) -> list[Template]:
    """Golden lines whose host (and time) substitution still normalizes
    to the same (os, error) list, with the new host on every envelope,
    no UNKNOWN envelope, and envelopes that do not depend on ``ts``."""
    from napalm_logs_spark.operators.normalize import normalize_pandas
    from napalm_logs_spark.sources.transcripts import golden_cases

    from .oracle import envelopes

    texts = [c["text"] for c in golden_cases()]
    golden = normalize_pandas(_frame(texts, BASE_EPOCH), registry)
    host_a, host_b = host_name(0, 0), host_name(99999, 9999999)
    new_hms = "03:07:11"
    variants = []  # (case, kind, text, host)
    for i, text in enumerate(texts):
        env = golden[golden["conv_id"] == f"v{i}"]
        hosts = set(env["host"])
        if len(hosts) != 1 or "UNKNOWN" in set(env["error"]):
            continue
        host = hosts.pop()
        if not host or text.count(host) != 1:
            continue
        variants.append((i, "a", text.replace(host, host_a, 1), host_a))
        variants.append((i, "b", text.replace(host, host_b, 1), host_b))
        m = _HMS_RE.search(text)
        if m:
            variants.append(
                (i, "t", text.replace(host, host_a, 1).replace(m.group(0), new_hms, 1), host_a)
            )
    vtexts = [v[2] for v in variants]
    env1 = normalize_pandas(_frame(vtexts, BASE_EPOCH), registry)
    env2 = normalize_pandas(_frame(vtexts, BASE_EPOCH + 86400 * 3 + 17), registry)
    by_variant1 = dict(tuple(env1.groupby("conv_id")))
    by_variant2 = dict(tuple(env2.groupby("conv_id")))

    def ok(j, case, host, shift):
        e1, e2 = by_variant1.get(f"v{j}"), by_variant2.get(f"v{j}")
        g = golden[golden["conv_id"] == f"v{case}"]
        if e1 is None or e2 is None or len(e1) != len(g):
            return False
        if envelopes(e1) != envelopes(e2):
            return False  # envelope would depend on the row's event time
        if list(zip(e1["os"], e1["error"])) != list(zip(g["os"], g["error"])):
            return False
        if set(e1["host"]) != {host}:
            return False
        if shift is not None:
            want = [int(t) + shift for t in g["timestamp"]]
            return [int(t) for t in e1["timestamp"]] == want
        return True

    status: dict[int, dict] = {}
    for j, (case, kind, _, host) in enumerate(variants):
        shift = None
        if kind == "t":
            m = _HMS_RE.search(texts[case])
            h, mi, s = (int(x) for x in m.groups())
            shift = (3 * 3600 + 7 * 60 + 11) - (h * 3600 + mi * 60 + s)
        status.setdefault(case, {})[kind] = ok(j, case, host, shift)
    out = []
    for case, st in sorted(status.items()):
        if not (st.get("a") and st.get("b")):
            continue
        text = texts[case]
        host = golden[golden["conv_id"] == f"v{case}"]["host"].iloc[0]
        hms = _HMS_RE.search(text).group(0) if st.get("t") else None
        out.append(Template(text=text, host=host, hms=hms))
    return out


class TurnSource:
    """Endless seeded stream of (text, burst_offset_s, is_syslog)."""

    def __init__(self, seed: int, templates: list[Template], syslog_share: float):
        self.rng = random.Random(seed)
        self.seed = seed
        self.templates = templates
        self.syslog_share = syslog_share
        self.serial = 0
        self._pending: list = []

    def end_bursts(self) -> None:
        self._pending = []

    def next(self):
        if self._pending:
            return self._pending.pop(0)
        rng = self.rng
        self.serial += 1
        if rng.random() >= self.syslog_share:
            return chat_text(rng, self.seed, self.serial), 0.0, False
        t = self.templates[rng.randrange(len(self.templates))]
        text = t.text.replace(t.host, host_name(self.seed, self.serial), 1)
        if t.hms is not None:
            hms = f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
            text = text.replace(t.hms, hms, 1)
        if rng.random() < BURST_P:
            # exact duplicates 1..3 s after the first: inside the 5 s TTL
            self._pending = [(text, float(j), True) for j in range(1, rng.randint(2, 4))]
        return text, 0.0, True


def turns_frame(texts, ts_epochs, first_row: int, seed: int, syslog) -> pd.DataFrame:
    rows = range(first_row, first_row + len(texts))
    return pd.DataFrame(
        {
            "conv_id": [f"c{seed}-{r // TURNS_PER_CONV:06d}" for r in rows],
            "turn_idx": pd.array([r % TURNS_PER_CONV for r in rows], dtype="int32"),
            "role": ["agent" if s else "user" for s in syslog],
            "text": list(texts),
            "tool": [None] * len(texts),
            "ts": utc(ts_epochs),
        }
    )


def paced_file(k: int) -> str:
    return f"f{k:05d}.parquet"


def write_parquet(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, schema=ARROW_SCHEMA, preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def _publish_dir(tmp: str, final: str) -> None:
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def make_drain(out_dir: str, *, seed: int, n_turns: int, n_files: int,
               syslog_share: float, templates: list[Template]) -> dict:
    """Write ``n_files`` parquet files of seeded turns (cached by caller)."""
    src = TurnSource(seed, templates, syslog_share)
    texts, ts, syslog = [], [], []
    for i in range(n_turns):
        text, offset, is_syslog = src.next()
        # a burst copy follows the previous copy (or the burst's first turn) by 1 s
        ts.append(ts[-1] + 1.0 if offset else BASE_EPOCH + i * DRAIN_STEP_S)
        texts.append(text)
        syslog.append(is_syslog)
    df = turns_frame(texts, ts, 0, seed, syslog)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "src"))
    bounds = [round(k * n_turns / n_files) for k in range(n_files + 1)]
    for k in range(n_files):
        write_parquet(df.iloc[bounds[k]:bounds[k + 1]],
                      os.path.join(tmp, "src", f"part-{k:05d}.parquet"))
    meta = {
        "gen_version": GEN_VERSION, "seed": seed, "turns": n_turns,
        "files": n_files, "syslog_turns": int(sum(syslog)),
        "turns_per_file": [bounds[k + 1] - bounds[k] for k in range(n_files)],
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    _publish_dir(tmp, out_dir)
    return meta


def paced_plan(seconds: float, files_per_s: float, stage_turns, warmup_files: int) -> list[dict]:
    """Open-loop schedule: warm-up files (stage -1, written at once and
    committed before the clock starts), then three stages of equal
    length, one file every 1/files_per_s seconds; a stage's offered rate
    is its turns per file times files_per_s."""
    plan = [{"file": k, "stage": -1, "due": 0.0, "turns": stage_turns[0]}
            for k in range(warmup_files)]
    per_stage = max(1, int(round(seconds / len(stage_turns) * files_per_s)))
    for stage, turns in enumerate(stage_turns):
        for _ in range(per_stage):
            k = len(plan) - warmup_files
            plan.append({"file": len(plan), "stage": stage, "due": k / files_per_s, "turns": turns})
    return plan


def make_paced(out_dir: str, *, seed: int, plan: list[dict], syslog_share: float,
               templates: list[Template], static_files: int) -> dict:
    """Pre-generate every paced file's turns (``ts`` is stamped by the
    writer at run time) plus a static copy of the same turns, stamped
    from the schedule and laid out like a drain input, that the layer
    ladder drains."""
    src = TurnSource(seed, templates, syslog_share)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "static"))
    frames, row = [], 0
    for f in plan:
        if f["stage"] == 0 and f["due"] == 0.0:
            src.end_bursts()  # no burst spans the wait after the warm-up
        texts, syslog = [], []
        for _ in range(f["turns"]):
            text, _, is_syslog = src.next()
            texts.append(text)
            syslog.append(is_syslog)
        df = turns_frame(texts, [BASE_EPOCH + f["due"]] * len(texts), row, seed, syslog)
        row += len(texts)
        frames.append(df.assign(file=f["file"]))
    rows = pd.concat(frames, ignore_index=True)
    bounds = [round(k * len(rows) / static_files) for k in range(static_files + 1)]
    for k in range(static_files):
        write_parquet(rows.iloc[bounds[k]:bounds[k + 1]].drop(columns=["file"]),
                      os.path.join(tmp, "static", f"part-{k:05d}.parquet"))
    pq.write_table(
        pa.Table.from_pandas(rows.drop(columns=["ts"]), preserve_index=False),
        os.path.join(tmp, "rows.parquet"),
    )
    meta = {"gen_version": GEN_VERSION, "seed": seed, "turns": row,
            "files": len(plan), "syslog_turns": int((rows["role"] == "agent").sum()),
            "plan": plan}
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    _publish_dir(tmp, out_dir)
    return meta


def stamp(rows: pd.DataFrame, epoch: float) -> pd.DataFrame:
    """A paced file's turns with ``ts`` set to its due time."""
    return rows.assign(ts=utc([epoch] * len(rows)))


def paced_writer(cfg: dict) -> None:
    """Single-threaded open-loop writer: file k appears (atomically, by
    rename) at ``t0 + due_k`` whatever the stream is doing."""
    rows = pq.read_table(cfg["rows"]).to_pandas()
    by_file = {k: g.drop(columns=["file"]) for k, g in rows.groupby("file")}
    t0 = cfg["t0"]
    log = []
    for f in cfg["plan"]:
        due = t0 + f["due"]
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = paced_file(f["file"])
        tmp = os.path.join(cfg["src"], "." + name + ".tmp")
        write_parquet(stamp(by_file[f["file"]], due), tmp)
        os.rename(tmp, os.path.join(cfg["src"], name))
        log.append([f["file"], due, time.time()])
    with open(cfg["log"], "w") as fh:
        json.dump(log, fh)


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "paced-writer":
        sys.exit("usage: gen.py paced-writer CONFIG.json")
    with open(sys.argv[2]) as fh:
        paced_writer(json.load(fh))
