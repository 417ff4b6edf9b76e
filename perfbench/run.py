"""Benchmark of the ``run`` path: end to end, and layer by layer.

    python3 perfbench/run.py --workload drain-syslog --seed 1 --seconds 12 --trace 0

Run from the repository root.  ``--seconds`` is the length of the paced
workload's schedule; a drain is one fixed-size CLI run.  ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` measures the per-layer metrics
(the layer ladder, the product's per-batch record, a cProfile of
``normalize_pandas``) and writes spans.  Every run checks the sink
against an independent pandas oracle.  The last line of stdout is one
JSON object; the lines before it name every metric with its unit and
sample count.  Inputs, runs and spans go under ``.perfbench_work/``.
See perfbench/NOTES.md for why each workload exists.
"""

from __future__ import annotations

import argparse
import cProfile
import glob
import json
import os
import pstats
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

RUN_BUDGET_S = 170.0  # a run must end within 180 s
DRAIN_TURNS = 48_000
DRAIN_FILES = 16
SUBSET_FILES = 1  # local[1] vs local[N] comparison input
WARMUP_TURNS = 500  # the ladder's untimed warm-up drain
# paced-syslog: one file every 1/FILES_PER_S s; offered rate per stage =
# turns per file x FILES_PER_S.  Calibrated once on a 4-CPU box.
FILES_PER_S = 17
STAGE_TURNS = (30, 75, 175)  # low, nominal, high
LATENCY_LIMIT_S = 20.0
# A trigger interval longer than a batch makes batch starts periodic; with
# a schedule of whole intervals (12 s = 2 x 6 s) every file's wait for the
# next trigger is uniform over the interval whatever the phase, so
# latency does not hinge on how the schedule splits into batches.
PACED_TRIGGER = "6 seconds"
WARMUP_FILES = 8  # committed before the schedule starts: JVM and workers warm

WORKLOADS = {
    "drain-syslog": {"kind": "drain", "syslog_share": 1.0, "send_raw": True, "send_unknown": True},
    "drain-chat": {"kind": "drain", "syslog_share": 0.15, "send_raw": False, "send_unknown": False},
    "paced-syslog": {"kind": "paced", "syslog_share": 1.0, "send_raw": True, "send_unknown": True},
}
END_TO_END = {
    "throughput_turns_per_s": "turns/s", "setup_s": "s",
    "latency_p50_s": "s", "latency_p95_s": "s",
}
PER_LAYER = {
    "normalize.s": "s", "normalize.prefix_share": "ratio", "normalize.message_share": "ratio",
    "normalize.json_share": "ratio", "normalize.rows_per_s_1core": "turns/s",
    "normalize.envelopes_out": "count", "normalize.explode_ratio": "ratio",
    "normalize.unknown_share": "ratio", "normalize.raw_share": "ratio",
    "dedup.s": "s", "dedup.rows_in": "count", "dedup.rows_kept": "count",
    "dedup.kept_ratio": "ratio", "dedup.state_rows_max": "count",
    "dedup.state_bytes_max": "bytes", "dedup.state_commit_ms": "ms", "dedup.late_dropped": "count",
    "dedup.rocksdb_file_sync_ms": "ms", "dedup.rocksdb_save_zip_ms": "ms",
    "sink.s": "s", "sink.write_s": "s", "sink.rows_written": "count",
    "sink.bytes_written": "bytes", "sink.files_written": "count",
    "pipeline.batches": "count", "pipeline.batch_overhead_s": "s",
    "pipeline.query_planning_s": "s", "pipeline.wal_commit_s": "s",
    "pipeline.commit_offsets_s": "s", "pipeline.add_batch_s": "s",
    "scan.s": "s", "arrow.s": "s", "source.input_bytes": "bytes",
    "source.generator_lag_s": "s", "source.backlog_files_max": "count",
    "pipeline.local1_turns_per_s": "turns/s", "pipeline.parallel_efficiency": "ratio",
    "profiles.load_s": "s", "trace.overhead": "ratio", "pipeline.peak_rss_mb": "MB",
}


class BenchError(RuntimeError):
    pass


# ---------------------------------------------------------------- processes


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, session) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            out[int(name)] = (int(fields[1]), int(fields[3]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def _descendants(root: int) -> list[int]:
    kids: dict[int, list] = {}
    for pid, (ppid, _) in _proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _peak_rss_kb(pid: int) -> int | None:
    """The kernel's own high-water mark of the process's resident set."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class PeakRss(threading.Thread):
    """Peak resident memory of a Spark job's process tree, from the
    kernel's per-process high-water marks: the Python driver, plus the
    JVM, plus the largest Python worker.  Workers count once because
    PySpark forks a varying number of short-lived workers, which makes a
    tree total a measure of fork timing rather than memory; transient
    forks of the JVM (shell commands, named after JVM threads) share its
    pages and are not counted."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.per_pid: dict[int, tuple[str, int]] = {}
        self._halt = threading.Event()

    @property
    def peak(self) -> int:
        jvm = [kb for name, kb in self.per_pid.values() if name == "java"]
        workers = [kb for pid, (name, kb) in self.per_pid.items()
                   if name.startswith("python") and pid != self.pid]
        driver = self.per_pid.get(self.pid, ("", 0))[1]
        return (driver + max(jvm, default=0) + max(workers, default=0)) * 1024

    def run(self):
        while not self._halt.is_set():
            for pid in _descendants(self.pid):
                kb = _peak_rss_kb(pid)
                if kb is not None and kb > self.per_pid.get(pid, ("", 0))[1]:
                    self.per_pid[pid] = (_comm(pid), kb)
            self._halt.wait(0.1)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class Child:
    """A child process in a session of its own, stopped with everything
    that session holds."""

    def __init__(self, cmd, log_path, env, cwd, rss=False):
        self.log_path = log_path
        self.started = time.time()
        self._log = open(log_path, "wb")
        self.proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=self._log,
                                     stderr=subprocess.STDOUT, start_new_session=True)
        self.rss = PeakRss(self.proc.pid) if rss else None
        if self.rss:
            self.rss.start()

    def wait(self, timeout: float) -> int | None:
        try:
            return self.proc.wait(timeout=max(timeout, 0.1))
        except subprocess.TimeoutExpired:
            return None
        finally:
            self.close()

    def close(self) -> None:
        """Kill whatever is left of the session and wait until it is gone.
        PySpark's daemon moves its workers into a process group of their
        own, but not out of the session."""
        sid = self.proc.pid
        if self.proc.poll() is None:
            try:
                os.killpg(sid, signal.SIGTERM)
                self.proc.wait(timeout=10)
            except (ProcessLookupError, subprocess.TimeoutExpired):
                pass
        for _ in range(200):
            left = [p for p, (_, s) in _proc_table().items() if s == sid]
            if not left:
                break
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
        if self.proc.poll() is None:
            self.proc.wait()
        if self.rss and self.rss.is_alive():
            self.rss.stop()
        self._log.close()

    def tail(self, n: int = 25) -> str:
        with open(self.log_path, errors="replace") as fh:
            lines = [ln for ln in fh if not ln.lstrip().startswith(("+-", ":"))]
        return "".join(lines[-n:])


def child_env(base: str) -> dict:
    tmp = os.path.join(base, "tmp")
    local = os.path.join(base, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p])
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    # keep the JVM's scratch files inside the checkout
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    return env


# ---------------------------------------------------------------- inputs


def _read_meta(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "meta.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def prepare(wl_name: str, seed: int, seconds: float, work: str, env: dict) -> dict:
    """Inputs and the oracle's normalized envelopes, cached per seed."""
    import pandas as pd

    from perfbench import gen

    wl = WORKLOADS[wl_name]
    tag = f"{wl_name}-s{seed}-v{gen.GEN_VERSION}"
    if wl["kind"] == "paced":
        plan = gen.paced_plan(seconds, FILES_PER_S, STAGE_TURNS, WARMUP_FILES)
        tag += f"-{len(plan)}f"
    path = os.path.join(work, "inputs", tag)
    meta = _read_meta(path)
    if meta is None:
        templates = _templates(work)
        if wl["kind"] == "drain":
            gen.make_drain(path, seed=seed, n_turns=DRAIN_TURNS, n_files=DRAIN_FILES,
                           syslog_share=wl["syslog_share"], templates=templates)
        else:
            gen.make_paced(path, seed=seed, plan=plan, syslog_share=wl["syslog_share"],
                           templates=templates, static_files=DRAIN_FILES)
        meta = _read_meta(path)
    src = os.path.join(path, "src" if wl["kind"] == "drain" else "static")
    env_path = os.path.join(path, "envelopes.parquet")
    if not os.path.exists(env_path):
        # a child of its own, so its worker pool ends before the run does
        ch = Child([sys.executable, os.path.join(HERE, "oracle.py"), src, env_path + ".tmp"],
                   os.path.join(work, "inputs", tag + ".log"), env, work)
        if ch.wait(120.0) != 0:
            raise BenchError(f"oracle normalize failed:\n{ch.tail()}")
        _check_generator(pd.read_parquet(env_path + ".tmp"), meta["turns"])
        os.rename(env_path + ".tmp", env_path)
    meta.update(path=path, src=src, envelopes=env_path)
    return meta


def _templates(work: str) -> list:
    """Verified golden templates; they do not depend on the seed."""
    from napalm_logs_spark.profiles import load_registry

    from perfbench import gen

    path = os.path.join(work, "inputs", f"templates-v{gen.GEN_VERSION}.json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [t.__dict__ for t in gen.verified_templates(load_registry())]
        with open(path + ".tmp", "w") as fh:
            json.dump(rows, fh)
        os.rename(path + ".tmp", path)
    with open(path) as fh:
        return [gen.Template(**row) for row in json.load(fh)]


def _check_generator(env, turns: int) -> None:
    """Chat turns must only ever be UNKNOWN; syslog turns never."""
    chat = env["role"] == "user"
    if (env.loc[chat, "error"] != "UNKNOWN").any() or (env.loc[~chat, "error"] == "UNKNOWN").any():
        raise BenchError("generator invariant broken: chat/syslog turns normalize unexpectedly")
    if env[["conv_id", "turn_idx"]].drop_duplicates().shape[0] != turns:
        raise BenchError("generator invariant broken: a turn produced no envelope")


def expected_sink(meta: dict, wl: dict, stamps: dict | None = None):
    """Oracle envelopes and expected sink.  ``stamps`` (paced: file ->
    the ``ts`` the writer gave its turns) replaces the static copy's
    event times, which the verified templates' envelopes do not depend on."""
    import pandas as pd

    from perfbench import gen, oracle

    env = pd.read_parquet(meta["envelopes"])
    if stamps is not None:
        rows = pd.read_parquet(os.path.join(meta["path"], "rows.parquet"),
                               columns=["conv_id", "turn_idx", "file"])
        rows["turn_idx"] = rows["turn_idx"].astype("int64")
        env["turn_idx"] = env["turn_idx"].astype("int64")
        env = env.merge(rows, on=["conv_id", "turn_idx"], how="left", validate="many_to_one")
        env["ts"] = gen.utc(env["file"].map(stamps).to_numpy())
        env = env.drop(columns=["file"])
    return env, oracle.Expected.build(env, ttl_s=gen.TTL_S, send_raw=wl["send_raw"],
                                      send_unknown=wl["send_unknown"])


# ---------------------------------------------------------------- runs


class Run:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.t_begin = time.time()
        self.deadline = self.t_begin + RUN_BUDGET_S
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(self.t_begin)}"
        self.dir = os.path.join(self.work, "runs", self.run_id)
        os.makedirs(self.dir)
        self.env = child_env(self.dir)  # scratch dirs die with the run's tidy()
        self.samples: dict[str, int] = {}
        self.notes: dict = {}
        self.children = 0

    def tidy(self) -> None:
        """Drop sinks, checkpoints, input copies and Spark/JVM scratch
        directories; keep logs and results."""
        for name in os.listdir(self.dir):
            path = os.path.join(self.dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)

    def left(self) -> float:
        return self.deadline - time.time()

    def child(self, name, cmd, rss=False) -> Child:
        return Child(cmd, os.path.join(self.dir, name + ".log"), self.env, self.dir, rss=rss)

    # -- drains through the CLI -------------------------------------------

    def cli_drain(self, meta: dict) -> dict:
        d = os.path.join(self.dir, "cli")
        os.makedirs(d)
        sink, ck, mpath = (os.path.join(d, x) for x in ("sink", "ck", "metrics.jsonl"))
        cmd = [sys.executable, "-m", "napalm_logs_spark"]
        run = ["run", "--source", meta["src"], "--checkpoint", ck, "--metrics", mpath]
        if self.wl["send_raw"] and self.wl["send_unknown"]:
            cmd += run + ["--sink", sink]  # the CLI's path sink publishes RAW and UNKNOWN
        else:
            cfg = os.path.join(d, "sinks.yml")
            with open(cfg, "w") as fh:  # reference publisher defaults: no RAW/UNKNOWN
                fh.write(f"sinks:\n  - path: {json.dumps(sink)}\n")
            cmd += ["--config-file", cfg] + run
        ch = self.child("cli", cmd, rss=True)
        rc = ch.wait(min(150.0, self.left()))
        out = {"rc": rc, "started": ch.started, "peak_rss": ch.rss.peak, "sink": sink,
               "checkpoint": ck, "metrics": mpath, "ended": time.time()}
        if rc != 0:
            print(f"# cli run failed (rc={rc}):\n{ch.tail()}", file=sys.stderr)
        return out

    def drain_timing(self, meta: dict, rep: dict) -> dict:
        from perfbench import stats

        rows = stats.read_jsonl(rep["metrics"])
        commits = stats.commit_times(rep["checkpoint"])
        batch_of = stats.file_batches(rep["checkpoint"])
        if rep["rc"] != 0 or not rows or not commits:
            elapsed = rep["ended"] - rep["started"]
            return {"setup_s": elapsed, "throughput": 0.0, "latencies": [elapsed], "rows": rows}
        t0 = stats.iso_epoch(rows[0]["timestamp"])
        end = max(commits.values())
        names = sorted(os.listdir(meta["src"]))
        lat = []
        for name, n in zip(names, meta["turns_per_file"]):
            b = batch_of.get(name)
            lat += [commits[b] - t0 if b in commits else end - t0] * n
        return {"setup_s": t0 - rep["started"], "throughput": meta["turns"] / (end - t0),
                "latencies": lat, "rows": rows}

    # -- paced ------------------------------------------------------------

    def write_files(self, d: str, src: str, meta: dict, plan: list, t0: float, tag: str) -> list:
        """Run the open-loop writer for ``plan`` from ``t0``; its log."""
        cfg = {"rows": os.path.join(meta["path"], "rows.parquet"), "src": src,
               "t0": t0, "plan": plan, "log": os.path.join(d, f"writer-{tag}.json")}
        path = os.path.join(d, f"writer-{tag}-cfg.json")
        with open(path, "w") as fh:
            json.dump(cfg, fh)
        ch = self.child(f"writer-{tag}", [sys.executable, os.path.join(HERE, "gen.py"),
                                          "paced-writer", path])
        if ch.wait(t0 - time.time() + plan[-1]["due"] + 20.0) != 0:
            raise BenchError(f"paced writer failed:\n{ch.tail()}")
        with open(cfg["log"]) as fh:
            return json.load(fh)

    def wait_committed(self, ck: str, plan: list, stream: Child, limit_s: float) -> None:
        from perfbench import stats

        names = {_fname(f) for f in plan}
        end = time.time() + limit_s
        while time.time() < end and stream.proc.poll() is None:
            commits = stats.commit_times(ck)
            batch_of = stats.file_batches(ck)
            if all(batch_of.get(n) in commits for n in names):
                return
            time.sleep(0.1)

    def paced(self, meta: dict, ladder: dict | None = None) -> dict:
        """Stream under a processing-time trigger; warm-up files are
        committed first, then the writer follows the schedule."""
        d = os.path.join(self.dir, "paced")
        src = os.path.join(d, "src")
        os.makedirs(src)
        cfg = {
            "master": "local[*]", "src": src, "sink": os.path.join(d, "sink"),
            "checkpoint": os.path.join(d, "ck"), "metrics": os.path.join(d, "metrics.jsonl"),
            "ready": os.path.join(d, "ready.json"), "stop": os.path.join(d, "stop"),
            "result": os.path.join(d, "result.json"), "trigger": PACED_TRIGGER,
            "trace": ladder is not None, "ladder": ladder, "deadline": self.deadline - 15,
            "send_raw": self.wl["send_raw"], "send_unknown": self.wl["send_unknown"],
        }
        cfg_path = os.path.join(d, "child.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        ch = self.child("paced", [sys.executable, os.path.join(HERE, "spark_child.py"),
                                  "paced", cfg_path], rss=True)
        warm = [f for f in meta["plan"] if f["stage"] < 0]
        sched = [f for f in meta["plan"] if f["stage"] >= 0]
        try:
            while not os.path.exists(cfg["ready"]):
                if ch.proc.poll() is not None or self.left() < 60:
                    raise BenchError(f"paced stream did not start:\n{ch.tail()}")
                time.sleep(0.05)
            with open(cfg["ready"]) as fh:
                ready = json.load(fh)
            t_warm = time.time()
            self.write_files(d, src, meta, warm, t_warm, "warm")
            self.wait_committed(cfg["checkpoint"], warm, ch, min(60.0, self.left() - 60))
            t0 = time.time() + 0.5
            written = self.write_files(d, src, meta, sched, t0, "sched")
            self.wait_committed(cfg["checkpoint"], sched, ch, min(45.0, self.left() - 30))
        finally:
            open(cfg["stop"], "w").close()
            rc = ch.wait(max(self.left(), 1.0))
        if rc != 0 or not os.path.exists(cfg["result"]):
            raise BenchError(f"paced stream failed (rc={rc}):\n{ch.tail()}")
        with open(cfg["result"]) as fh:
            result = json.load(fh)
        if result.get("error"):
            raise BenchError(f"paced query failed: {result['error']}")
        stamps = {f["file"]: t_warm + f["due"] for f in warm}
        stamps.update({f["file"]: t0 + f["due"] for f in sched})
        return {**cfg, "ready": ready, "t0": t0, "written": written, "result": result,
                "stamps": stamps, "peak_rss": ch.rss.peak, "started": ch.started}

    def paced_timing(self, meta: dict, p: dict) -> dict:
        """Latency per scheduled file, from its due time to the commit of
        the batch that read it; per-stage p50/p95 and backlog."""
        from perfbench import stats

        commits = stats.commit_times(p["checkpoint"])
        batch_of = stats.file_batches(p["checkpoint"])
        sched = [f for f in meta["plan"] if f["stage"] >= 0]
        due = {_fname(f): p["t0"] + f["due"] for f in sched}
        stages = []
        for s, turns in enumerate(STAGE_TURNS):
            files = [_fname(f) for f in sched if f["stage"] == s]
            summary = stats.stage_summary(files, due, batch_of, commits, LATENCY_LIMIT_S, FILES_PER_S)
            summary["offered_turns_per_s"] = turns * FILES_PER_S
            stages.append(summary)
        lat = stats.file_latencies(due, batch_of, commits)
        committed = sum(f["turns"] for f in sched if lat[_fname(f)] is not None)
        end = max(commits.values()) if commits else time.time()
        # every scheduled file is a sample: a stage spans only a few
        # micro-batches, so one stage's percentiles follow batch alignment
        files = [v if v is not None else end - p["t0"] for v in lat.values()]
        sustained = [s["offered_turns_per_s"] for s in stages if s["sustained"]]
        after_t0 = [t for t in commits.values() if t >= p["t0"]]
        return {
            "setup_s": p["ready"]["query_started"] - p["started"],
            # turns per second of micro-batch time: with a periodic trigger,
            # wall time to the last commit would measure trigger phase
            "throughput": committed / stats.busy_seconds(p["checkpoint"], p["t0"]),
            "latencies": files, "stages": stages,
            "late_files": {n for n, v in lat.items() if v is None or v > LATENCY_LIMIT_S},
            "sustained_turns_per_s": max(sustained) if sustained else 0.0,
            "generator_lag_s": max(w - dd for _, dd, w in p["written"]),
            "backlog_files_max": max([stats.backlog(due, batch_of, commits, t) for t in after_t0] or [0]),
        }

    # -- correctness --------------------------------------------------------

    def check(self, meta: dict, sink: str, stamps: dict | None = None, late_files=()):
        """Failed turns: oracle mismatches, plus (paced) turns in files
        committed later than the latency limit."""
        from perfbench import oracle

        env, expected = expected_sink(meta, self.wl, stamps)
        res = oracle.compare(expected, oracle.read_sink(sink))
        failed = set(res.failed_turns)
        if late_files:
            import pyarrow.parquet as pq

            rows = pq.read_table(os.path.join(meta["path"], "rows.parquet"),
                                 columns=["conv_id", "turn_idx", "file"]).to_pydict()
            failed |= {(c, t) for c, t, f in zip(rows["conv_id"], rows["turn_idx"], rows["file"])
                       if _fname({"file": f}) in late_files}
        self.notes["oracle"] = {"expected_rows": expected.rows, "sink_rows": res.rows,
                                "mismatched_keys": res.mismatched_keys}
        return env, len(failed)

    # -- end to end -------------------------------------------------------

    def end_to_end(self, meta: dict) -> tuple[dict, int]:
        from perfbench import stats

        if self.wl["kind"] == "drain":
            # one fixed-size CLI drain: most of its ~25 s is JVM, worker and
            # first-batch start-up, so more runs per benchmark run do not fit
            rep = self.cli_drain(meta)
            t = self.drain_timing(meta, rep)
            _, failed = self.check(meta, rep["sink"])
            if rep["rc"] != 0:
                failed = meta["turns"]
            self.notes["peak_rss_mb"] = rep["peak_rss"] / 2**20
            m = {
                "throughput_turns_per_s": t["throughput"],
                "setup_s": t["setup_s"],
                "latency_p50_s": stats.percentile(t["latencies"], 50),
                "latency_p95_s": stats.percentile(t["latencies"], 95),
            }
            self.samples = {"latency_p50_s": len(t["latencies"]), "latency_p95_s": len(t["latencies"])}
            self.notes["batches"] = len(t["rows"])
            return m, failed
        p = self.paced(meta)
        t = self.paced_timing(meta, p)
        _, failed = self.check(meta, p["sink"], p["stamps"], t["late_files"])
        self.notes["peak_rss_mb"] = p["peak_rss"] / 2**20
        m = {
            "throughput_turns_per_s": t["throughput"],
            "setup_s": t["setup_s"],
            "latency_p50_s": stats.percentile(t["latencies"], 50),
            "latency_p95_s": stats.percentile(t["latencies"], 95),
        }
        self.samples = {"latency_p50_s": len(t["latencies"]), "latency_p95_s": len(t["latencies"])}
        self.notes["stages"] = t["stages"]
        self.notes["sustained_turns_per_s"] = t["sustained_turns_per_s"]
        self.notes["generator_lag_s"] = t["generator_lag_s"]
        return m, failed

    # -- per layer ----------------------------------------------------------

    def ladder_cfg(self, name: str, master: str, src: str, **opts) -> dict:
        d = os.path.join(self.dir, name)
        os.makedirs(d)
        self.children += 1
        cfg = {"run_id": self.run_id, "first_span_id": 10**6 * self.children,
               "master": master, "src": src, "work": d, "result": os.path.join(d, "result.json"),
               "send_raw": self.wl["send_raw"], "send_unknown": self.wl["send_unknown"],
               "rungs": True}
        cfg.update(opts)
        return cfg

    def ladder(self, name: str, master: str, src: str, **opts) -> dict:
        cfg = self.ladder_cfg(name, master, src, **opts)
        cfg_path = os.path.join(cfg["work"], "child.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        ch = self.child(name, [sys.executable, os.path.join(HERE, "spark_child.py"),
                               "ladder", cfg_path], rss=True)
        rc = ch.wait(max(self.left() - 5, 1.0))
        if rc != 0:
            raise BenchError(f"{name} failed (rc={rc}):\n{ch.tail()}")
        with open(cfg["result"]) as fh:
            return {**json.load(fh), "peak_rss": ch.rss.peak}

    def per_layer(self, meta: dict, spans) -> tuple[dict, int]:
        from perfbench import stats

        src = meta["src"]
        names = sorted(os.listdir(src))
        subset, warm = (os.path.join(self.dir, x) for x in ("subset", "warm"))
        os.makedirs(subset)
        os.makedirs(warm)
        for n in names[:SUBSET_FILES]:
            shutil.copy(os.path.join(src, n), subset)
        _head_parquet(os.path.join(src, names[-1]), os.path.join(warm, names[-1]), WARMUP_TURNS)
        subset_turns = sum(_parquet_rows(os.path.join(subset, n)) for n in os.listdir(subset))

        paced_timing, paced_run = None, None
        if self.wl["kind"] == "paced":
            # the ladder runs in the paced stream's session once it stops
            lad_cfg = self.ladder_cfg("ladder", "local[*]", src, subset=subset, warm=None)
            with spans.span("pipeline.paced") as sid:
                paced_run = self.paced(meta, ladder=lad_cfg)
            paced_timing = self.paced_timing(meta, paced_run)
            spans.add_batches(paced_run["result"]["progress"], sid)
            lad = paced_run["result"]["ladder"]
        else:
            lad = self.ladder("ladder", "local[*]", src, subset=subset, warm=warm)
        one = self.ladder("local1", "local[1]", src, subset=subset, warm=warm,
                          rungs=False)
        spans.rows += lad["spans"] + one["spans"]

        if paced_run:
            _, failed = self.check(meta, paced_run["sink"], paced_run["stamps"],
                                   paced_timing["late_files"])
            progress = paced_run["result"]["progress"]
            record = stats.read_jsonl(paced_run["metrics"])
            sink_dir = paced_run["sink"]
        else:
            _, failed = self.check(meta, lad["last_sink"])
            progress = lad["progress"]
            record = stats.read_jsonl(lad["last_metrics"])
            sink_dir = lad["last_sink"]
        env, _ = expected_sink(meta, self.wl)
        m = {}
        m.update(_normalize_layer(meta, env, spans))
        r = lad["rungs"]
        m["scan.s"] = r["sources.scan"]
        m["arrow.s"] = r["arrow.identity"] - r["sources.scan"]
        m["normalize.s"] = r["normalize.rung"] - r["arrow.identity"]
        m["dedup.s"] = r["dedup.rung"] - r["normalize.rung"]
        m["sink.s"] = r["sink.rung"] - r["dedup.rung"]
        m["sink.write_s"] = lad["sink_write_s"]
        m.update(_record_layer(record, len(env)))
        m.update(_progress_layer(progress))
        m.update(_sink_files(sink_dir))
        m["source.input_bytes"] = sum(os.path.getsize(os.path.join(src, n)) for n in names)
        if paced_timing:
            m["source.generator_lag_s"] = paced_timing["generator_lag_s"]
            m["source.backlog_files_max"] = paced_timing["backlog_files_max"]
        else:
            m["source.generator_lag_s"] = 0.0  # pre-written input: no writer
            m["source.backlog_files_max"] = len(names)  # every file waits at start
        local1 = subset_turns / one["subset_full_s"]
        m["pipeline.local1_turns_per_s"] = local1
        m["pipeline.parallel_efficiency"] = (subset_turns / lad["subset_full_s"]) / (_ncores() * local1)
        m["profiles.load_s"] = lad["profiles_load_s"]
        m["trace.overhead"] = r["sink.rung"] / lad["traced_full_s"]
        m["pipeline.peak_rss_mb"] = (paced_run or lad)["peak_rss"] / 2**20
        self.samples = {"sink.write_s": 2}
        self.notes["session"] = lad["env"]
        return m, failed


def _fname(entry: dict) -> str:
    from perfbench.gen import paced_file

    return paced_file(entry["file"])


def _head_parquet(src: str, dst: str, rows: int) -> None:
    import pyarrow.parquet as pq

    pq.write_table(pq.read_table(src).slice(0, rows), dst)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _ncores() -> int:
    return len(os.sched_getaffinity(0))


def _normalize_layer(meta: dict, env, spans) -> dict:
    """cProfile shares on a sample, and single-process rows/s."""
    import pandas as pd

    from napalm_logs_spark.operators.normalize import normalize_pandas
    from napalm_logs_spark.profiles import load_registry

    files = sorted(glob.glob(os.path.join(meta["src"], "*.parquet")))
    turns = pd.concat([pd.read_parquet(f) for f in files[:4]], ignore_index=True)
    registry = load_registry()
    sample = turns.iloc[:20_000]
    normalize_pandas(sample.iloc[:500], registry)  # compile regexes outside the timing
    with spans.span("normalize.normalize_pandas", rows=len(sample)):
        t = time.perf_counter()
        for i in range(0, len(sample), 10_000):
            normalize_pandas(sample.iloc[i:i + 10_000], registry)
        rows_per_s = len(sample) / (time.perf_counter() - t)
    prof = cProfile.Profile()
    with spans.span("normalize.profile", rows=5000):
        prof.enable()
        normalize_pandas(sample.iloc[:5000], registry)
        prof.disable()
    st = pstats.Stats(prof).stats  # (file, line, func) -> (cc, nc, tt, ct, callers)
    cum = {}
    for (_, _, func), (_, _, _, ct, _) in st.items():
        cum[func] = cum.get(func, 0.0) + ct
    total = cum.get("normalize_pandas", 0.0) or 1.0
    n = len(env)
    return {
        "normalize.prefix_share": cum.get("_prefix_stage", 0.0) / total,
        "normalize.message_share": cum.get("_message_stage", 0.0) / total,
        "normalize.json_share": cum.get("canonical_json", 0.0) / total,
        "normalize.rows_per_s_1core": rows_per_s,
        "normalize.envelopes_out": n,
        "normalize.explode_ratio": n / meta["turns"],
        "normalize.unknown_share": float((env["error"] == "UNKNOWN").sum()) / n,
        "normalize.raw_share": float((env["error"] == "RAW").sum()) / n,
    }


def _record_layer(rows: list[dict], envelopes_in: int) -> dict:
    """The product's own per-batch record (``run --metrics`` JSONL)."""
    kept = sum((r.get("observed") or {}).get("n_rows") or 0 for r in rows)
    ops = [s for r in rows for s in r.get("state_operators") or []]
    return {
        "dedup.rows_in": envelopes_in,
        "dedup.rows_kept": kept,
        "dedup.kept_ratio": kept / envelopes_in if envelopes_in else 0.0,
        "dedup.state_rows_max": max([s["num_rows_total"] for s in ops] or [0]),
        "dedup.state_bytes_max": max([s["memory_used_bytes"] for s in ops] or [0]),
        "dedup.late_dropped": sum(s["num_rows_dropped_by_watermark"] for s in ops),
    }


def _progress_layer(progress: list[dict]) -> dict:
    """Spark's progress JSON, for fields the product's record lacks:
    ``durationMs`` phases and the state operator's commit time."""
    from perfbench.stats import median

    def phase(key):
        return median([p["durationMs"].get(key, 0) / 1000 for p in progress] or [0.0])

    data = [p for p in progress if p.get("numInputRows")]
    ops = [op for p in data for op in p.get("stateOperators", [])]
    commit = [op.get("commitTimeMs", 0) for op in ops]

    def rocks(key):
        return median([op.get("customMetrics", {}).get(key, 0) for op in ops] or [0.0])

    return {
        "pipeline.batches": len(progress),
        "pipeline.batch_overhead_s": median(
            [(p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)) / 1000
             for p in progress] or [0.0]),
        "pipeline.query_planning_s": phase("queryPlanning"),
        "pipeline.wal_commit_s": phase("walCommit"),
        "pipeline.commit_offsets_s": phase("commitOffsets"),
        "pipeline.add_batch_s": phase("addBatch"),
        "dedup.state_commit_ms": median(commit or [0.0]),
        "dedup.rocksdb_file_sync_ms": rocks("rocksdbCommitFileSyncLatencyMs"),
        "dedup.rocksdb_save_zip_ms": rocks("rocksdbSaveZipFilesLatencyMs"),
    }


def _sink_files(sink: str) -> dict:
    files = glob.glob(os.path.join(sink, "_batch_id=*", "*.parquet"))
    return {
        "sink.rows_written": sum(_parquet_rows(f) for f in files),
        "sink.bytes_written": sum(os.path.getsize(f) for f in files),
        "sink.files_written": len(files),
    }


def environment(notes: dict) -> dict:
    import pandas
    import pyarrow
    import pyspark

    from perfbench.spark_child import SHUFFLE_PARTITIONS, STATE_STORE

    session = notes.get("session") or {}
    return {
        "nproc": _ncores(),
        "pyspark": pyspark.__version__, "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__, "python": sys.version.split()[0],
        "state_store_provider": session.get("state_store_provider", STATE_STORE),
        "shuffle_partitions": session.get("shuffle_partitions", SHUFFLE_PARTITIONS),
        # the CLI leaves Arrow's batch size at Spark's default
        "arrow_max_records_per_batch": session.get("arrow_max_records_per_batch", "10000"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "napalm_logs_spark")):
        print(f"error: no napalm_logs_spark package under {ROOT}", file=sys.stderr)
        return 2
    run = Run(args)
    try:
        return _measure(run, args)
    finally:
        run.tidy()


def _measure(run: Run, args) -> int:
    from perfbench.trace import LAYERS, Spans

    meta = prepare(args.workload, args.seed, args.seconds, run.work, run.env)
    if args.trace:
        spans = Spans(run.run_id)
        metrics, failed = run.per_layer(meta, spans)
        units = PER_LAYER
        missing = set(LAYERS) - {s["layer"] for s in spans.rows}
        if missing:
            raise BenchError(f"no spans for layers {sorted(missing)}")
        spans_path = os.path.join(run.dir, "spans.jsonl")
        spans.dump(spans_path)
        run.notes["spans"] = spans_path
    else:
        metrics, failed = run.end_to_end(meta)
        units = END_TO_END
    attempted = meta["turns"]
    env = environment(run.notes)
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": env, "metrics": metrics, "samples": run.samples,
              "attempted": attempted, "failed": failed, "notes": run.notes}
    with open(os.path.join(run.dir, "result.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(f"# env {json.dumps(env)}")
    print(f"# detail {os.path.relpath(os.path.join(run.dir, 'result.json'), ROOT)}")
    for name, unit in units.items():
        print(f"{name} = {metrics[name]:.6g} {unit} (samples={run.samples.get(name, 1)})")
    print(f"failed_fraction = {failed / attempted:.6g} ratio (samples={attempted})")
    if "peak_rss_mb" in run.notes:
        print(f"peak_rss_mb = {run.notes['peak_rss_mb']:.6g} MB (samples=1)")
    if "sustained_turns_per_s" in run.notes:
        print(f"sustained_turns_per_s = {run.notes['sustained_turns_per_s']:.6g} turns/s "
              f"(samples=1; stages {json.dumps(run.notes['stages'])})")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": unit}
                    for name, unit in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
