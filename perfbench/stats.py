"""Timings read from outside the product: its checkpoint, its per-batch
``--metrics`` record, and the paced writer's log."""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype="float64"), q))


def median(values) -> float:
    return percentile(values, 50)


def iso_epoch(ts: str) -> float:
    """Spark progress timestamp (``2026-01-01T00:00:00.123Z``) -> epoch s."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _log_entries(directory: str):
    if not os.path.isdir(directory):
        return
    for name in sorted(os.listdir(directory)):
        if name.startswith(".") or name.endswith(".crc"):
            continue
        yield name, os.path.join(directory, name)


def commit_times(checkpoint: str) -> dict[int, float]:
    """batch id -> time its commit-log entry was written (end of batch)."""
    return {
        int(name): os.stat(path).st_mtime
        for name, path in _log_entries(os.path.join(checkpoint, "commits"))
        if name.isdigit()
    }


def busy_seconds(checkpoint: str, since: float) -> float:
    """Time the query spent inside micro-batches that started at or after
    ``since``: offset-log write (batch start) to commit-log write."""
    starts = {
        int(name): os.stat(path).st_mtime
        for name, path in _log_entries(os.path.join(checkpoint, "offsets"))
        if name.isdigit()
    }
    commits = commit_times(checkpoint)
    return sum(commits[b] - t for b, t in starts.items() if t >= since and b in commits)


def file_batches(checkpoint: str) -> dict[str, int]:
    """source file basename -> query batch that read it.

    The file-source log (compacted entries included) numbers its own
    batches; the query's offset log says up to which of them each query
    batch read, so no-data batches do not shift the mapping."""
    log_batch = {}
    for _, path in _log_entries(os.path.join(checkpoint, "sources", "0")):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    log_batch[os.path.basename(entry["path"])] = int(entry["batchId"])
    upto = {}  # query batch -> last file-source batch it read
    for name, path in _log_entries(os.path.join(checkpoint, "offsets")):
        if name.isdigit():
            with open(path) as fh:
                lines = fh.read().splitlines()
            if len(lines) > 2 and lines[2].startswith("{"):
                upto[int(name)] = json.loads(lines[2])["logOffset"]
    query_of, last = {}, -1
    for batch in sorted(upto):
        for b in range(last + 1, upto[batch] + 1):
            query_of[b] = batch
        last = max(last, upto[batch])
    return {name: query_of.get(b) for name, b in log_batch.items()}


def read_jsonl(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def file_latencies(due: dict[str, float], batch_of: dict[str, int],
                   commits: dict[int, float]) -> dict[str, float | None]:
    """Due time -> commit of the batch that read the file; None when the
    file was never committed."""
    out = {}
    for name, t_due in due.items():
        b = batch_of.get(name)
        out[name] = commits[b] - t_due if b is not None and b in commits else None
    return out


def backlog(due: dict[str, float], batch_of: dict[str, int],
            commits: dict[int, float], at: float) -> int:
    """Files due by ``at`` that no batch committed by ``at`` holds."""
    done = {b for b, t in commits.items() if t <= at}
    return sum(1 for name, t in due.items() if t <= at and batch_of.get(name) not in done)


def stage_summary(files: list[str], due: dict[str, float], batch_of: dict[str, int],
                  commits: dict[int, float], limit_s: float, files_per_s: float) -> dict:
    """p50/p95 latency over a stage's files; the stage is sustained when
    p95 is inside the limit and the backlog at its end is no more than
    the files that arrive within one latency limit."""
    lat = file_latencies({f: due[f] for f in files}, batch_of, commits)
    done = [v for v in lat.values() if v is not None]
    missing = len(lat) - len(done)
    p50 = percentile(done, 50) if done else float("inf")
    p95 = percentile(done, 95) if done else float("inf")
    end = max(due[f] for f in files)
    left = backlog({f: due[f] for f in files}, batch_of, commits, end)
    return {
        "files": len(files), "committed": len(done), "p50_s": p50, "p95_s": p95,
        "late_files": sum(1 for v in done if v > limit_s) + missing,
        "backlog_end": left,
        "sustained": missing == 0 and p95 <= limit_s and left <= files_per_s * limit_s,
    }
