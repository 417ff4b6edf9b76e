"""Sketches kept per slice of a stream (one table per micro-batch)
merge into the whole-stream sketch: Count-Min and histogram counters by
SUM, HLL registers by MAX (:func:`hll_merge`).  Merged tables stay
sketch-sized however many keys the slices hold, and estimates read off
a merged table keep their batch guarantees."""

import math

from pyspark.sql import functions as F

from napalm_logs_spark.operators.sketch import (
    cms_estimate,
    count_min_sketch,
    histogram_bins,
    histogram_quantiles,
    hll_estimate,
    hll_merge,
    hll_registers,
)

SCHEMA = "key string"
VSCHEMA = "value long"


def _keys(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], SCHEMA)


def _vals(spark, vals):
    return spark.createDataFrame([(int(v),) for v in vals], VSCHEMA)


def _sum_merge(slices, keys, col="cnt"):
    out = slices[0]
    for s in slices[1:]:
        out = out.unionAll(s)
    return out.groupBy(*keys).agg(F.sum(col).alias(col))


def test_merged_slices_equal_whole_stream_sketch(spark):
    b1 = [f"k{i % 11}" for i in range(120)]
    b2 = [f"k{i % 7}" for i in range(80)] + ["hot"] * 40
    merged = _sum_merge(
        [count_min_sketch(_keys(spark, b), width=64) for b in (b1, b2)],
        ["d", "bucket"],
    )
    whole = count_min_sketch(_keys(spark, b1 + b2), width=64)
    assert sorted(
        (r["d"], r["bucket"], r["cnt"]) for r in merged.collect()
    ) == sorted((r["d"], r["bucket"], r["cnt"]) for r in whole.collect())
    # point queries off the merged sketch: one-sided vs exact stream counts
    probes = _keys(spark, ["hot", "k1", "absent"])
    est = {
        r["key"]: r["cms_est"]
        for r in cms_estimate(merged, probes, width=64).collect()
    }
    assert est["hot"] >= 40
    assert est["k1"] >= sum(1 for k in b1 + b2 if k == "k1")
    assert est["absent"] >= 0


def test_merged_sketch_bounded_rows(spark):
    slices = [
        count_min_sketch(
            _keys(spark, [f"u{i}" for i in range(lo, lo + 1000)]),
            depth=4,
            width=64,
        )
        for lo in (0, 1000, 2000)
    ]
    # 3000 distinct keys, but the sketch stays <= depth*width rows
    assert _sum_merge(slices, ["d", "bucket"]).count() <= 4 * 64


def test_hll_merged_slices_equal_whole_stream_registers(spark):
    b1 = [f"u{i}" for i in range(400)]
    b2 = [f"u{i}" for i in range(200, 700)]  # overlaps b1
    merged = hll_merge(
        hll_registers(_keys(spark, b1), p=8),
        hll_registers(_keys(spark, b2), p=8),
    )
    whole = hll_registers(_keys(spark, b1 + b2), p=8)
    assert sorted(
        (r["bucket"], r["max_rank"]) for r in merged.collect()
    ) == sorted((r["bucket"], r["max_rank"]) for r in whole.collect())
    # the merged-slice estimate IS the batch estimate (same registers)
    est = hll_estimate(merged, p=8).collect()[0]["est_distinct"]
    n = len(set(b1 + b2))
    assert abs(est - n) / n < 0.25  # ~1.04/sqrt(256) expected error


def test_hll_merged_registers_bounded_rows(spark):
    merged = hll_merge(
        hll_registers(_keys(spark, [f"v{i}" for i in range(2500)]), p=8),
        hll_registers(_keys(spark, [f"v{i}" for i in range(2500, 5000)]), p=8),
    )
    assert merged.count() <= 256


def test_hist_merged_slices_equal_batch_histogram(spark):
    b1 = [i * 37 % 5000 for i in range(400)]
    b2 = [i * 113 % 9000 for i in range(300)]
    merged = sorted(
        map(
            tuple,
            _sum_merge(
                [histogram_bins(_vals(spark, b), "value", bin_width=500)
                 for b in (b1, b2)],
                ["bin"],
            ).select("bin", "cnt").collect(),
        )
    )
    whole = _vals(spark, b1 + b2)
    batch = sorted(
        map(tuple, histogram_bins(whole, "value", bin_width=500).collect())
    )
    assert merged == batch
    # quantile bins agree with a sorted-python reference
    vals = sorted(b1 + b2)
    got = {
        r.q_pct: r.bin
        for r in histogram_quantiles(whole, "value", bin_width=500).collect()
    }
    for q in (50, 90, 99):
        rank = math.ceil(q * len(vals) / 100)
        assert got[q] == vals[rank - 1] // 500
