#!/usr/bin/env python
"""State-store-at-scale probe: RocksDB vs in-memory (HDFS-backed) under
state that outgrows the executor heap.

The engine's CLI ships RocksDB as the production state-store default
(napalm_logs_spark/__main__.py) for 10^12-turn streams; the in-memory
provider was measured ~3× faster at small state.  VERDICT r3 item 4:
that choice was justified by argument, not measurement.  This probe
measures the crossover directly.

Method: an exact-TTL dedup stream (dropDuplicatesWithinWatermark via
operators.dedup.dedup_streaming — the engine's A1 operator) over ALL-
UNIQUE keys, so state grows monotonically by one entry per row and never
evicts within the drain.  One source file per micro-batch
(maxFilesPerTrigger=1) gives a per-batch addBatch series as state
accumulates.  Each (provider × keyset) cell runs in a FRESH subprocess
whose JVM heap is pinned small (--driver-memory via PYSPARK_SUBMIT_ARGS,
local mode = driver hosts the executors), so "state >> executor memory"
is real at sandbox scale:

* small keyset: state fits the heap comfortably — both providers
  complete; in-memory is expected to win on raw rate (no JNI, no
  changelog).
* large keyset: state exceeds the heap — the in-memory provider must
  degrade (per-batch commit clones the version map, O(state) per batch,
  then GC thrash/OOM) while RocksDB keeps a flat per-batch drain
  (incremental memtable + SST spill to local disk).

Outcome per cell: rows/s, per-batch addBatch ms series, and a
first-half vs second-half per-batch slope ("flatness") — plus oom/
timeout verdicts for cells that die, which is the expected result for
in-memory at the large size.

Prints ONE JSON line; run via:
    python tools/probe_rocksdb_state.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORES = 8
HEAP = "3g"
SMALL_KEYS = 2_000_000
LARGE_KEYS = 32_000_000
N_FILES = 16
CELL_TIMEOUT_S = 900

PROVIDERS = {
    "inmem": "org.apache.spark.sql.execution.streaming.state."
             "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider",
}


def _gen_input(path: str, n_keys: int) -> None:
    """All-unique string keys over N_FILES equal parquet files, written
    by an unrestricted parent session (the memory-pinned child only
    reads)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count()}]")
        .appName("probe-rocksdb-gen")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        per = n_keys // N_FILES
        for i in range(N_FILES):
            (
                spark.range(i * per, (i + 1) * per, 1, CORES)
                .select(
                    F.md5(F.col("id").cast("string")).alias("k"),
                    (F.lit(1_700_000_000) + F.col("id") / 1e6)
                    .cast("timestamp")
                    .alias("ts"),
                )
                .write.mode("overwrite")
                .parquet(f"{path}/f{i:03d}")
            )
    finally:
        spark.stop()


def _child(provider_key: str, src: str, n_rows: int) -> None:
    """Runs inside the memory-pinned subprocess."""
    from pyspark.sql import SparkSession

    from napalm_logs_spark.operators.dedup import dedup_streaming

    work = tempfile.mkdtemp(
        prefix="nls_probe_state_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName(f"probe-state-{provider_key}")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.streaming.stateStore.providerClass",
                PROVIDERS[provider_key])
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        schema = spark.read.parquet(f"{src}/f000").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        # huge watermark: nothing evicts during the drain, so state
        # ends at exactly n_keys entries — the monotone-growth worst case
        dedup = dedup_streaming(stream, watermark="1 day", key=["k"], ts_col="ts")
        t0 = time.time()
        q = (
            dedup.writeStream.format("noop")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        prog = [json.loads(p.json) for p in q.recentProgress]
        batches = [
            {
                "rows": p.get("numInputRows", 0),
                "addbatch_ms": p.get("durationMs", {}).get("addBatch", 0),
                "state_rows": (p.get("stateOperators") or [{}])[0].get(
                    "numRowsTotal"
                ),
            }
            for p in prog
            if p.get("numInputRows")
        ]
        half = max(len(batches) // 2, 1)

        def _rate(bs):
            ms = sum(b["addbatch_ms"] for b in bs)
            return round(sum(b["rows"] for b in bs) / (ms / 1000)) if ms else None

        print(json.dumps({
            "wall_s": round(wall, 2),
            "rows_per_sec": round(n_rows / wall),
            "n_batches": len(batches),
            "state_rows_final": batches[-1]["state_rows"] if batches else None,
            "addbatch_ms_series": [b["addbatch_ms"] for b in batches],
            "first_half_rows_per_sec": _rate(batches[:half]),
            "second_half_rows_per_sec": _rate(batches[half:]),
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def _run_cell(provider_key: str, src: str, n_rows: int) -> dict:
    env = dict(os.environ)
    # pin the JVM heap BEFORE launch — builder .config() is too late for
    # driver memory in a plain-python-launched local session
    env["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {HEAP} pyspark-shell"
    t0 = time.time()
    try:
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cell",
             provider_key, src, str(n_rows)],
            capture_output=True, text=True, timeout=CELL_TIMEOUT_S, env=env,
        )
    except subprocess.TimeoutExpired:
        return {"outcome": "timeout", "timeout_s": CELL_TIMEOUT_S}
    if res.returncode != 0:
        tail = (res.stderr or "")[-2000:]
        oom = ("OutOfMemoryError" in tail or "GC overhead" in tail
               or "Java heap space" in tail or res.returncode in (137, -9))
        return {
            "outcome": "oom" if oom else f"died rc={res.returncode}",
            "wall_s": round(time.time() - t0, 2),
            "stderr_tail": tail[-400:],
        }
    out = json.loads(res.stdout.strip().splitlines()[-1])
    out["outcome"] = "ok"
    return out


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--cell":
        _child(sys.argv[2], sys.argv[3], int(sys.argv[4]))
        return

    root = tempfile.mkdtemp(
        prefix="nls_probe_state_src_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    results: dict = {
        "probe": "rocksdb_vs_inmem_state",
        "heap": HEAP,
        "cores": CORES,
        "keys": {"small": SMALL_KEYS, "large": LARGE_KEYS},
    }
    try:
        for label, n_keys in (("small", SMALL_KEYS), ("large", LARGE_KEYS)):
            src = f"{root}/{label}"
            _gen_input(src, n_keys)
            for pk in PROVIDERS:
                cell = _run_cell(pk, src, n_keys)
                results[f"{pk}_{label}"] = cell
                print(f"# {pk}/{label}: {cell.get('outcome')} "
                      f"{cell.get('rows_per_sec', '')}",
                      file=sys.stderr, flush=True)
            shutil.rmtree(src, ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
