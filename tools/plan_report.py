#!/usr/bin/env python
"""Generate PLAN_AUDIT.md: one row per driver query with the physical-
plan facts that matter at 100 TB — shuffle count, broadcast joins,
parquet pushdown, codegen coverage.  Run from the repo root:

    python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan-audit")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "false")  # expose codegen/join labels
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in sorted(entry.queries().items()):
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
            # count LIVE shuffle exchanges line-by-line: a ReusedExchange
            # line repeats its target's "Exchange ..." text (and may
            # reference a BroadcastExchange, which the word-boundary
            # regex never matches) — naive subtraction goes negative
            n_ex = sum(
                1
                for line in plan.splitlines()
                if "ReusedExchange" not in line
                and "BroadcastExchange" not in line
                and re.search(r"\bExchange\b", line)
            )
            n_bc = len(re.findall(r"BroadcastHashJoin", plan))
            pushed = bool(re.search(r"PushedFilters: \[[^\]]", plan))
            n_wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
            n_py = len(re.findall(r"(MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas)", plan))
            # BNLJ with a BROADCAST side is the intended shape for the
            # scalar-subquery joins (tf-idf corpus count, mix totals)
            # and brute-force kNN (bounded query set broadcast); a true
            # CartesianProduct is the only red flag
            n_bnlj = len(re.findall(r"BroadcastNestedLoopJoin", plan))
            cart = "CartesianProduct" in plan
            rows.append(
                (name, n_ex, n_bc, n_bnlj, "yes" if pushed else "-", n_wsc,
                 n_py, "!" if cart else "-")
            )
        except Exception as e:  # iterative ops run jobs at build time etc.
            rows.append((name, "?", "?", "?", "?", "?", "?", f"err: {type(e).__name__}"))
    spark.stop()

    lines = [
        "# Plan audit — every driver query at a glance",
        "",
        f"Generated by `tools/plan_report.py` over `{SF_DIR}` (AQE off",
        "for label introspection, local[4]).  Exchange count excludes ReusedExchange;",
        "`py` = Arrow/pandas stages (the engine's deliberate vectorized",
        "stages — normalize, k-means assign); `bnlj` =",
        "broadcast-nested-loop joins, the INTENDED shape for scalar-",
        "subquery joins (corpus counts, mix totals) and bounded-query-",
        "set brute-force kNN; `cart` flags true CartesianProduct joins",
        "(none expected, plan-tested).",
        "",
        "Two audit-scale artifacts to read correctly: (1) "
        "`widen_if_narrow_scan` adds a repartition Exchange ONLY when the",
        "input has fewer splits than cores (true of this tiny audit dir,",
        "a no-op on a well-split production input), so similarity/dedup",
        "rows count some exchanges that vanish at scale; (2) an operator",
        "that `localCheckpoint`s its featurization (dsir, semdedup,",
        "minhash buckets) truncates the audited plan there — its parquet",
        "scan (with pushdown) runs at checkpoint materialization and is",
        "not visible in this table.",
        "",
        "| query | exchanges | broadcast hash joins | bnlj | parquet pushdown | codegen spans | py stages | cart |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    out = os.path.join(REPO, "PLAN_AUDIT.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
