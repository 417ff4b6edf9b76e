"""SCD2 interval builder + point-in-time dimension lookup."""

import datetime

from pyspark.sql import functions as F

from napalm_logs_spark.operators.scd import asof_dimension_lookup, scd2_intervals

BASE = datetime.datetime(2024, 1, 1)


def _ts(s):
    return BASE + datetime.timedelta(seconds=s)


def _log(spark, rows):
    return spark.createDataFrame(
        [(k, st, _ts(o), i) for i, (k, st, o) in enumerate(rows)],
        "dev string, state string, ts timestamp, seq long",
    )


def test_scd2_collapses_unchanged_and_versions(spark):
    log = _log(spark, [
        ("a", "x", 0), ("a", "x", 5), ("a", "y", 10), ("a", "y", 20),
        ("b", "z", 3),
    ])
    out = scd2_intervals(log, "dev", ("state",), order_cols=("seq",))
    rows = {(r.dev, r.version): r for r in out.collect()}
    assert len(rows) == 3  # a: x,y collapsed to 2 versions; b: 1
    a1, a2 = rows[("a", 1)], rows[("a", 2)]
    assert (a1.state, a1.valid_from, a1.valid_to, a1.is_current) == (
        "x", _ts(0), _ts(10), False
    )
    assert (a2.state, a2.valid_from, a2.valid_to, a2.is_current) == (
        "y", _ts(10), None, True
    )
    assert rows[("b", 1)].is_current


def test_scd2_null_transitions_are_real_changes(spark):
    log = _log(spark, [
        ("a", "x", 0), ("a", None, 5), ("a", None, 7), ("a", "x", 9),
    ])
    out = scd2_intervals(log, "dev", ("state",), order_cols=("seq",))
    seq = [
        (r.state, r.valid_from) for r in out.orderBy("version").collect()
    ]
    assert seq == [("x", _ts(0)), (None, _ts(5)), ("x", _ts(9))]


def test_scd2_single_exchange_plan(spark):
    log = _log(spark, [("a", "x", 0), ("a", "y", 5)])
    plan = (
        scd2_intervals(log, "dev", ("state",), order_cols=("seq",))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # change-lag, valid_to-lead and version share one key partitioning
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_dimension_lookup(spark):
    dim = scd2_intervals(
        _log(spark, [("a", "x", 0), ("a", "y", 10)]),
        "dev", ("state",), order_cols=("seq",),
    )
    facts = spark.createDataFrame(
        [("a", _ts(-1), 0), ("a", _ts(0), 1), ("a", _ts(9), 2),
         ("a", _ts(10), 3), ("a", _ts(99), 4), ("c", _ts(5), 5)],
        "dev string, ts timestamp, fid long",
    )
    out = {r.fid: r for r in asof_dimension_lookup(facts, dim, "dev").collect()}
    assert out[0].state is None          # before the first version
    assert out[1].state == "x"           # valid_from inclusive
    assert out[2].state == "x"
    assert out[3].state == "y"           # valid_to exclusive
    assert out[4].state == "y"           # open current version
    assert out[5].state is None          # unknown key survives (left join)
    assert len(out) == 6                 # never fans out


def test_cdc_apply_latest_wins_and_deletes(spark):
    from napalm_logs_spark.operators.scd import cdc_apply

    log = spark.createDataFrame(
        [
            # key a: insert, update, update — last wins
            ("a", "U", 1, _ts(0), 0),
            ("a", "U", 2, _ts(5), 1),
            ("a", "U", 3, _ts(9), 2),
            # key b: upserted then deleted — absent from the snapshot
            ("b", "U", 7, _ts(1), 3),
            ("b", "D", 0, _ts(4), 4),
            # key c: deleted then re-inserted — present
            ("c", "D", 0, _ts(2), 5),
            ("c", "U", 9, _ts(6), 6),
            # key d: same-ts tie broken by seq
            ("d", "U", 1, _ts(3), 7),
            ("d", "U", 2, _ts(3), 8),
        ],
        "key string, op string, value int, ts timestamp, seq long",
    )
    snap = {r.key: r for r in cdc_apply(log, ("key",), ("ts", "seq")).collect()}
    assert set(snap) == {"a", "c", "d"}
    assert snap["a"].value == 3 and snap["a"].n_versions == 3
    assert snap["c"].value == 9 and snap["c"].n_versions == 2
    assert snap["d"].value == 2 and snap["d"].n_versions == 2


def test_cdc_apply_single_exchange_plan(spark):
    from napalm_logs_spark.operators.scd import cdc_apply

    log = _log(spark, [("a", "x", 0), ("a", "y", 5), ("b", "z", 1)]).withColumn(
        "op", F.lit("U")
    )
    plan = (
        cdc_apply(log, ("dev",), ("ts", "seq"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # row_number and the n_versions count share one hash partitioning
    assert plan.count("Exchange") == 1, plan
