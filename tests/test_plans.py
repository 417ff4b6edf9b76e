"""Physical-plan assertions: the optimizations the engine relies on at
scale must be visible in the executed plans (regressions here are
silent perf cliffs, not correctness failures)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name):
    return (
        entrymod.queries()[name](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_q1_pushdown_and_partial_agg(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # filter reaches the parquet scan; column pruning effective
    assert "l_shipdate" in plan and "DataFilters: [isnotnull(l_shipdate" in plan
    assert "partial_sum" in plan  # map-side combine
    assert "o_orderkey" not in plan  # no unrelated columns


def test_q3_broadcasts_dimension(spark):
    plan = _plan(spark, "q3_top_orders")
    assert "BroadcastHashJoin" in plan
    assert "c_mktsegment" in plan and "BUILDING" in plan  # pushed segment filter


def test_q5_broadcasts_all_dims_one_shuffle_join(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    # every dim side is broadcast; the only non-broadcast join is the
    # lineitem⋈orders fact join
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "ASIA" in plan  # region predicate applied before broadcast
    assert "partial_sum" in plan  # map-side combine on revenue


def test_q6_all_predicates_pushed_no_shuffle_join(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters:" in plan and "l_shipdate" in plan
    assert "IsNotNull(l_quantity)" in plan or "LessThan(l_quantity" in plan, plan
    assert "Join" not in plan  # pure scan→filter→agg
    # only the 4 referenced columns are read
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double," \
           "l_discount:double,l_shipdate:timestamp" in plan, plan


def test_c6_interval_join_filters_pushed(spark):
    plan = _plan(spark, "c6_interval_join")
    assert plan.count("FileScan parquet") == 2
    assert "event_type" in plan and "click" in plan and "error" in plan


def test_c9_sequence_no_cartesian_steps_prefiltered(spark):
    plan = _plan(spark, "c9_sequence")
    assert "CartesianProduct" not in plan, plan
    # each step is a separate pre-filtered scan of the pre-filtered stream
    assert plan.count("FileScan parquet") == 3
    assert "view" in plan and "click" in plan and "purchase" in plan


def test_t_quality_column_pruning(spark):
    plan = _plan(spark, "t_quality")
    # only doc_id + text needed from the 5-column table
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_capped_jaccard_plan_shape(spark):
    """Low-τ jaccard: the frequency gates must be BROADCAST semi joins
    (the big (doc, shingle) table never shuffles to learn frequencies)
    and no cartesian product may appear."""
    plan = _plan(spark, "d_ngram_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_minhash_lsh_plan_shape(spark):
    """MinHash: no cartesian product; the signature build stays narrow
    up to the bucket join (single scan of documents per branch)."""
    plan = _plan(spark, "d_minhash_lsh")
    assert "CartesianProduct" not in plan
    # verification sets ride as hashed arrays (xxhash64), not strings
    assert "xxhash64" in plan


def test_orphan_anti_join_plan(spark):
    plan = _plan(spark, "c10_orphans")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    plan = _plan(spark, "d_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan  # map-side combined overlap count


def test_temperature_mix_broadcasts_rates(spark):
    plan = _plan(spark, "t_mix_temperature")
    # the tiny per-stratum rate table broadcasts; the corpus scan joins
    # without shuffling itself
    assert "BroadcastHashJoin" in plan


def test_sketch_distinct_partial_merge(spark):
    plan = _plan(spark, "q_sketch_distinct")
    # HLL++ sketch state merges map-side before the single shuffle
    assert "partial_approx_count_distinct" in plan


def test_repetition_no_exchange(spark):
    plan = _plan(spark, "t_repetition")
    assert "Exchange" not in plan


def test_zordered_files_have_disjoint_key_ranges(spark, tmp_path):
    """A layout range-partitioned and sorted by the Z-order key must
    produce files whose zkey ranges don't overlap — the property parquet
    min/max pruning relies on."""
    import pyspark.sql.functions as F

    from napalm_logs_spark.sources.zorder import (
        minmax_scaled_int,
        zorder_key,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    df = ev.select(
        "event_id",
        "user_id",
        "value",
        zorder_key(
            [
                minmax_scaled_int(F.col("user_id"), 0, 1000, 8),
                minmax_scaled_int(F.col("value"), 0, 100, 8),
            ],
            bits=8,
        ).alias("_zkey"),
    )
    out = str(tmp_path / "z")
    (
        df.repartitionByRange(8, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    ranges = sorted(
        (r["mn"], r["mx"])
        for r in back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("_zkey").alias("mn"), F.max("_zkey").alias("mx"))
        .collect()
    )
    assert len(ranges) > 1
    for (m0, x0), (m1, x1) in zip(ranges, ranges[1:]):
        assert x0 <= m1  # disjoint (file boundaries may touch)
    # and both dimensions benefit: a value-range slice touches a strict
    # subset of files (Z-locality), not all of them
    hits = (
        back.filter((F.col("value") >= 0) & (F.col("value") <= 10))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert hits < len(ranges)


def test_date_partitioned_layout_prunes_partitions(spark, tmp_path):
    """The time-partitioned lakehouse layout (events partitioned by
    day) must show PartitionFilters at the scan — a date slice reads
    only its partitions, the 100 TB time-range access path."""
    import pyspark.sql.functions as F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    out = str(tmp_path / "by_day")
    ev.write.partitionBy("day").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    one_day = back.select(F.min("day")).first()[0]
    q = back.filter(F.col("day") == F.lit(one_day)).select("event_id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan
    # and the scan actually reads a strict subset of partition files
    n_days = back.select("day").distinct().count()
    assert n_days > 1
    touched = q.select(F.input_file_name()).distinct().count()
    total = back.select(F.input_file_name()).distinct().count()
    assert touched < total
