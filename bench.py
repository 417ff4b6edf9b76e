#!/usr/bin/env python
"""Registry query-suite timings, printed as one compact JSON line.

Times each ``HEADLINE`` query of the driver registry
(``__spark_entry__.queries``) on the sf dir (one untimed warm run, then
one timed run into the ``noop`` sink) and prints a single-line JSON of
under ``COMPACT_LIMIT`` bytes as the LAST stdout line — the round
driver parses its result out of a ~2,000-char stdout tail, and rounds
2-4 lost their records to JSON that outgrew that window:
  {"metric": ..., "value": <total query-suite seconds>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>}
The full record goes to the detail file (``SPARK_GRAFT_BENCH_DETAIL``,
default ``BENCH_local_detail.json`` next to this script).

Settings: ``SPARK_GRAFT_SF_DIR`` (the generated data dir, default sf0.1)
and ``SPARK_GRAFT_CPUS`` (default: the box's CPU count).

The streaming ``run`` path (source → normalize → dedup → sink commit)
is measured by ``perfbench/`` instead: end-to-end throughput and
latency plus a per-layer ladder, e.g.
``python3 perfbench/run.py --workload drain-syslog --seed 1 --seconds 12 --trace 0``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
#: full record of the run (the compact line may degrade; this file doesn't)
DETAIL_PATH = os.environ.get(
    "SPARK_GRAFT_BENCH_DETAIL",
    os.path.join(os.path.dirname(os.path.abspath(__file__)),
                 "BENCH_local_detail.json"),
)
#: hard cap on the compact line; the driver's parse window is ~2,000
#: chars, so stay comfortably inside it
COMPACT_LIMIT = 1900

#: headline queries timed on the sf dir (subset of __spark_entry__.queries)
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "c3_tumbling_counts",
    "c6_interval_join",
    "c9_sequence",
    "a1_dedup_gap",
    "c2_state_gauge",
    "t_quality",
    "t_langid",
    "d_ngram_jaccard",
    "d_minhash_lsh",
    "d_dup_spans",
    "d_segment_dedup",
    "d_pipeline_e2e",
    "s_knn_cosine",
    "s_ann_ivf",
    "s_ann_join",
    "s_ann_pq",
    # s_semdedup / s_kmeans are deliberately NOT here: iterative
    # trainers (4 driver-synchronized Lloyd rounds) are fixed-cost
    # multi-job ops that would swamp the wall-clock suite; they are
    # correctness-gated by the driver and timed in their own tests
    "t_gopher_rules",
    "t_dsir_weights",
    "q_window_running",
    "golden_normalize",
    # the transcript-native family added late round 3: template render
    # + loss-mask spans is the write-side of the SFT pipeline (one
    # conv_id exchange end-to-end)
    "cv_sft_render",
    # session 10: the CCMatrix margin miner (shared-IVF join + margin
    # chain)
    "s_bitext_mine",
]


def _session(cores: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"nls-bench-{cores}")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # keep the parent's stdout/stderr tail clean: the round driver
        # parses the result from the LAST ~2,000 chars of output, and
        # stage-progress \r spam was most of rounds 2-4's tails
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.shuffle.partitions", str(cores * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .getOrCreate()
    )


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_queries(spark) -> dict:
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    times = {}
    for name in HEADLINE:
        fn = q[name]
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        times[name] = round(time.time() - t0, 3)
    return times


def _compact_result(qtimes: dict, sf: float) -> str:
    """The single-line JSON the round driver parses.  MUST stay under
    COMPACT_LIMIT bytes: the driver reads a ~2,000-char stdout tail
    (round 1's 1,269-char JSON parsed; rounds 2-3 outgrew the window
    and recorded nothing).  If the suite ever grows enough to overflow,
    the per-query map degrades to a count and the detail file keeps
    the full breakdown — the headline scalars always fit."""
    out = {
        "metric": "headline query suite wall time (full record in the "
                  "detail file)",
        "value": round(sum(qtimes.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in qtimes.items()},
        "sf": sf,
    }
    s = json.dumps(out, separators=(",", ":"))
    if len(s.encode("utf-8")) > COMPACT_LIMIT:
        out["queries"] = {"n_queries": len(qtimes),
                          "see_detail": os.path.basename(DETAIL_PATH)}
        s = json.dumps(out, separators=(",", ":"))
    return s


def _emit(qtimes: dict, sf: float, detail: dict) -> None:
    """Write the detail file, then print the compact line."""
    try:
        with open(DETAIL_PATH, "w") as fh:
            json.dump({"queries": qtimes, "sf": sf, "detail": detail}, fh,
                      indent=1)
    except OSError:
        pass
    print(_compact_result(qtimes, sf), flush=True)


def main() -> None:
    t_start = time.time()
    spark = _session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        qtimes = run_queries(spark)
    finally:
        spark.stop()
    _emit(qtimes, _sf_of(SF_DIR),
          {"cpus": CPUS, "sf_dir": SF_DIR,
           "suite_wall_s": round(time.time() - t_start, 1)})


if __name__ == "__main__":
    main()
