"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator family from SURVEY.md §2
(plus the training-data-pipeline operators) onto the driver's testdata
tables; ``oracle_sql()`` gives the DuckDB-equivalent SQL for each
SQL-expressible entry.  Column names/aliases match exactly between the
two sides.  The real streaming-CEP engine (profile normalize, golden
parity, watermarks, exactly-once sink) is exercised by
``python -m pytest -x -q``; the entries here are the relational
projections of the same operators onto the shared tables.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EN_SW = ("the", "a", "and", "of", "to", "in", "is", "that", "it", "for")
DE_SW = ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für")
FR_SW = ("le", "la", "et", "les", "des", "est", "pas", "une", "pour")
ES_SW = ("el", "la", "y", "de", "que", "es", "un", "una", "por")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _epoch(col):
    """Seconds-with-fraction epoch for TIMESTAMP and TIMESTAMP_NTZ alike
    (session timezone is UTC in tests/driver)."""
    return col.cast("timestamp").cast("double")


def _sql_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CEP composite over sf0.001 events — state transitions
    per user (lag), flap windows, and last-state gauge joined into one
    summary (the engine's C1+C2+C5 surface in relational form)."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")
    st = ev.withColumn(
        "st", F.when(F.col("event_type") == "error", F.lit(1)).otherwise(F.lit(0))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = st.withColumn("pst", F.lag("st").over(w)).filter(
        F.col("pst").isNull() | (F.col("pst") != F.col("st"))
    )
    n_tr = tr.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_transitions"))
    wg = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    gauge = (
        ev.withColumn("_rn", F.row_number().over(wg))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("event_type").alias("last_event_type"))
    )
    return n_tr.join(gauge, "user_id").orderBy("user_id")


# ---------------------------------------------------------------------------
# queries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # ---- projections / filters (P1-P6) ----
    def p1_nonempty_filter(spark, sf):
        return (
            _t(spark, sf, "events")
            .filter(F.col("event_type").isNotNull() & (F.col("value") > 0))
            .select("event_id", "event_type", "value")
        )
    q["p1_nonempty_filter"] = p1_nonempty_filter

    def p2_profile_extract(spark, sf):
        k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1)
        return _t(spark, sf, "events").select(
            "event_id",
            F.when(k == "", None).otherwise(k).cast("int").alias("k_val"),
        )
    q["p2_profile_extract"] = p2_profile_extract

    def p4_pri_split(spark, sf):
        k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("int")
        return (
            _t(spark, sf, "events")
            .withColumn("k_val", k)
            .filter(F.col("k_val").isNotNull())
            .select(
                "event_id",
                F.floor(F.col("k_val") / 8).cast("int").alias("facility"),
                F.pmod(F.col("k_val"), F.lit(8)).cast("int").alias("severity"),
            )
        )
    q["p4_pri_split"] = p4_pri_split

    def p5_whitelist(spark, sf):
        return (
            _t(spark, sf, "events")
            .filter(F.col("event_type").isin("click", "view"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    q["p5_whitelist"] = p5_whitelist

    def p6_sink_filters(spark, sf):
        ev = _t(spark, sf, "events")
        all_ = ev.agg(F.count(F.lit(1)).alias("n")).select(F.lit("all").alias("sink"), "n")
        errs = ev.filter(F.col("event_type") == "error").agg(
            F.count(F.lit(1)).alias("n")
        ).select(F.lit("errors_only").alias("sink"), "n")
        non = ev.filter(F.col("event_type") != "error").agg(
            F.count(F.lit(1)).alias("n")
        ).select(F.lit("non_errors").alias("sink"), "n")
        return all_.unionByName(errs).unionByName(non)
    q["p6_sink_filters"] = p6_sink_filters

    # ---- dedup (A1) ----
    def a1_dedup_gap(spark, sf):
        from napalm_logs_spark.operators.dedup import dedup_gap_session

        kept = dedup_gap_session(
            _t(spark, sf, "events"), 300.0, key=("user_id", "event_type"),
            order_cols=("event_id",),
        )
        return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_kept"))
    q["a1_dedup_gap"] = a1_dedup_gap

    def a1_dedup_ttl_exact(spark, sf):
        from napalm_logs_spark.operators.dedup import dedup_ttl_exact

        ev = _t(spark, sf, "events")
        kept = dedup_ttl_exact(
            ev, ttl_seconds=300.0, key=("user_id", "event_type"),
            ts_col="ts", order_cols=("event_id",),
        )
        return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_kept"))
    q["a1_dedup_ttl_exact"] = a1_dedup_ttl_exact  # oracled: stored sequential-scan golden

    # ---- CEP (C1-C7) ----
    def c1_transitions(spark, sf):
        ev = _t(spark, sf, "events").withColumn(
            "st", F.when(F.col("event_type") == "error", F.lit(1)).otherwise(F.lit(0))
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            ev.withColumn("pst", F.lag("st").over(w))
            .filter(F.col("pst").isNull() | (F.col("pst") != F.col("st")))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_transitions"))
        )
    q["c1_transitions"] = c1_transitions

    def c2_state_gauge(spark, sf):
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            ev.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "user_id",
                F.col("event_type").alias("last_event_type"),
                F.col("value").alias("last_value"),
            )
        )
    q["c2_state_gauge"] = c2_state_gauge

    def c3_tumbling_counts(spark, sf):
        ev = _t(spark, sf, "events")
        win = (F.floor(_epoch(F.col("ts")) / 300) * 300).cast("long")
        return (
            ev.groupBy(win.alias("win_start"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    q["c3_tumbling_counts"] = c3_tumbling_counts

    def c5_flaps(spark, sf):
        ev = _t(spark, sf, "events").withColumn(
            "st", F.when(F.col("event_type") == "error", F.lit(1)).otherwise(F.lit(0))
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        tr = ev.withColumn("pst", F.lag("st").over(w)).filter(
            F.col("pst").isNull() | (F.col("pst") != F.col("st"))
        )
        win = (F.floor(_epoch(F.col("ts")) / 600) * 600).cast("long")
        return (
            tr.groupBy("user_id", win.alias("win_start"))
            .agg(F.count(F.lit(1)).alias("n_transitions"))
            .filter(F.col("n_transitions") >= 3)
        )
    q["c5_flaps"] = c5_flaps

    def c6_interval_join(spark, sf):
        ev = _t(spark, sf, "events")
        a = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts")
        )
        b = ev.filter(F.col("event_type") == "error").select(
            F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts")
        )
        cond = (
            (F.col("a_user") == F.col("b_user"))
            & (F.col("b_ts") >= F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 300 SECONDS"))
        )
        return (
            a.join(b, cond)
            .groupBy(F.col("a_user").alias("user_id"))
            .agg(F.count(F.lit(1)).alias("n_pairs"))
        )
    q["c6_interval_join"] = c6_interval_join

    def c10_orphans(spark, sf):
        # timeout detection (negative interval join): clicks with NO
        # error within 300s for the same user — the relational analog of
        # cep.orphan_agent_turns
        ev = _t(spark, sf, "events")
        a = ev.filter(F.col("event_type") == "click").select(
            "event_id", F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts")
        )
        b = ev.filter(F.col("event_type") == "error").select(
            F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts")
        )
        cond = (
            (F.col("a_user") == F.col("b_user"))
            & (F.col("b_ts") >= F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 300 SECONDS"))
        )
        return a.join(b, cond, "left_anti").select(
            "event_id", F.col("a_user").alias("user_id")
        )
    q["c10_orphans"] = c10_orphans

    def c11_window_topk(spark, sf):
        # per-window heavy hitters: tumbling window counts + rank — the
        # streaming form is the same agg under a watermark with the
        # rank applied per closed window in foreachBatch; one shuffle
        # on (window, type), partial-aggregated map-side
        ev = _t(spark, sf, "events")
        win = (F.floor(_epoch(F.col("ts")) / 3600) * 3600).cast("long")
        counts = ev.groupBy(win.alias("win_start"), "event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        w = Window.partitionBy("win_start").orderBy(
            F.col("n").desc(), F.col("event_type")
        )
        return (
            counts.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= 2)
        )
    q["c11_window_topk"] = c11_window_topk

    def c12_hysteresis(spark, sf):
        from napalm_logs_spark.operators.cep import hysteresis_alerts

        ev = _t(spark, sf, "events")
        return hysteresis_alerts(
            ev, key="user_id", window_seconds=3600, hi=3, lo=2,
            predicate=(F.col("event_type") == "error"),
        )
    q["c12_hysteresis"] = c12_hysteresis

    def c15_rate_anomaly(spark, sf):
        from napalm_logs_spark.operators.cep import rate_anomaly

        ev = _t(spark, sf, "events")
        return rate_anomaly(
            ev, key="user_id", window_seconds=86400,
            baseline=7, min_baseline=3, z_hi=2.0,
        )
    q["c15_rate_anomaly"] = c15_rate_anomaly

    def c7_sessions(spark, sf):
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        new_sess = (
            F.lag("ts").over(w).isNull()
            | (_epoch(F.col("ts")) - _epoch(F.lag("ts").over(w)) > 600)
        ).cast("int")
        return (
            ev.withColumn("_new", new_sess)
            .groupBy("user_id")
            .agg(F.sum("_new").cast("long").alias("n_sessions"))
        )
    q["c7_sessions"] = c7_sessions

    def c8_asof_join(spark, sf):
        """As-of (backward) join: each 'error' event picks up the value
        of the most recent prior 'click' of the same user — built from a
        running last-non-null window (Spark has no native ASOF)."""
        ev = _t(spark, sf, "events")
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        last_click = F.last(
            F.when(F.col("event_type") == "click", F.col("value")), ignorenulls=True
        ).over(w)
        return (
            ev.withColumn("asof_click_value", last_click)
            .filter(F.col("event_type") == "error")
            .select("event_id", "user_id", "asof_click_value")
        )
    q["c8_asof_join"] = c8_asof_join

    def c9_sequence(spark, sf):
        # MATCH_RECOGNIZE-style ordered pattern: view -> click -> purchase
        # per user within 24 h (multi-turn CEP over pre-filtered steps)
        from napalm_logs_spark.operators.cep import pattern_sequence

        ev = _t(spark, sf, "events").filter(F.col("user_id") < 100)
        return pattern_sequence(
            ev,
            steps=[
                F.col("event_type") == "view",
                F.col("event_type") == "click",
                F.col("event_type") == "purchase",
            ],
            within_seconds=86400,
            key="user_id",
            idx_col="event_id",
        )
    q["c9_sequence"] = c9_sequence

    def c16_funnel(spark, sf):
        """Windowed funnel (C16): deepest view→click→purchase step per
        user under earliest-anchor greedy matching, 1 h window anchored
        at the first view — one map-combined shuffle, HOF chain."""
        from napalm_logs_spark.operators.cep import windowed_funnel

        ev = _t(spark, sf, "events")
        return windowed_funnel(
            ev,
            steps=[
                F.col("event_type") == "view",
                F.col("event_type") == "click",
                F.col("event_type") == "purchase",
            ],
            window_seconds=3600,
            key="user_id",
        )
    q["c16_funnel"] = c16_funnel

    def c16_funnel_rates(spark, sf):
        """Funnel summary: per step, keys reached + conversion vs the
        previous step and vs step 1 — one global aggregate."""
        from napalm_logs_spark.operators.cep import funnel_counts

        return funnel_counts(c16_funnel(spark, sf), 3)
    q["c16_funnel_rates"] = c16_funnel_rates

    def q_scd2_intervals(spark, sf):
        """Type-2 dimension build from the event change log: per-user
        event_type versions with valid_from/valid_to — one window
        shuffle, no joins (operators/scd.py)."""
        from napalm_logs_spark.operators.scd import scd2_intervals

        return scd2_intervals(
            _t(spark, sf, "events").filter(F.col("user_id") < 40),
            "user_id", ("event_type",), order_cols=("event_id",),
        )
    q["q_scd2_intervals"] = q_scd2_intervals

    def q_scd2_asof(spark, sf):
        """Point-in-time probe against the SCD2 dimension: each error
        event picks the event_type version valid at its timestamp."""
        from napalm_logs_spark.operators.scd import (
            asof_dimension_lookup, scd2_intervals,
        )

        ev = _t(spark, sf, "events").filter(F.col("user_id") < 40)
        dim = scd2_intervals(
            ev, "user_id", ("event_type",), order_cols=("event_id",)
        ).withColumnRenamed("event_type", "dim_state")
        facts = ev.filter(F.col("event_type") == "error").select(
            "user_id", "event_id", "ts"
        )
        return asof_dimension_lookup(facts, dim, "user_id").select(
            "event_id", "user_id", "dim_state", "version"
        )
    q["q_scd2_asof"] = q_scd2_asof

    def q_rollup_counts(spark, sf):
        return (
            _t(spark, sf, "events")
            .rollup("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.grouping("event_type").cast("int").alias("g"),
            )
            .select("event_type", "n", "g")
        )
    q["q_rollup_counts"] = q_rollup_counts

    def q_topk_per_group(spark, sf):
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("event_type").orderBy(
            F.col("value").desc(), F.col("event_id")
        )
        return (
            ev.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= 3)
            .select("event_type", "event_id", "value", "rnk")
        )
    q["q_topk_per_group"] = q_topk_per_group

    def q_percentiles(spark, sf):
        ev = _t(spark, sf, "events")
        return ev.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("med"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        )
    q["q_percentiles"] = q_percentiles

    def q_sketch_distinct(spark, sf):
        # HLL++ sketch family: approx_count_distinct next to the exact
        # count — the exact value is the oracled answer and the sketch is
        # gated by a deterministic within-5% flag (HLL++ is a
        # deterministic hash sketch, so the flag is reproducible).  At
        # 100 TB the sketch replaces the exact count's full shuffle of
        # distinct keys with fixed-size mergeable state per group.
        ev = _t(spark, sf, "events")
        return (
            ev.groupBy("event_type")
            .agg(
                F.countDistinct("user_id").alias("exact_users"),
                F.approx_count_distinct("user_id", 0.02).alias("_approx"),
            )
            .select(
                "event_type",
                "exact_users",
                (
                    F.abs(F.col("_approx") - F.col("exact_users"))
                    <= 0.05 * F.col("exact_users")
                ).alias("approx_within_5pct"),
            )
        )
    q["q_sketch_distinct"] = q_sketch_distinct

    def q_sketch_quantiles(spark, sf):
        # the quantile-sketch sibling: percentile_approx (Greenwald-
        # Khanna, mergeable fixed-size state) gated against the exact
        # percentile — the sketch is deterministic, so the within-
        # tolerance flag is reproducible; at scale the sketch avoids
        # materializing per-group sorted values
        ev = _t(spark, sf, "events")
        agg = ev.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_p50"),
            F.expr("percentile_approx(value, 0.5, 1000)").alias("_approx"),
            F.expr("percentile(value, 0.01)").alias("_lo"),
            F.expr("percentile(value, 0.99)").alias("_hi"),
        )
        return agg.select(
            "event_type",
            "exact_p50",
            (
                F.abs(F.col("_approx") - F.col("exact_p50"))
                <= 0.02 * (F.col("_hi") - F.col("_lo")) + 1e-9
            ).alias("approx_within_2pct_range"),
        )
    q["q_sketch_quantiles"] = q_sketch_quantiles

    def q_sketch_cms(spark, sf):
        # Count-Min point-frequency sketch (operators/sketch.py): the
        # third sketch sibling — depth×width counters from one
        # map-side-combined groupBy, broadcast-joined back against the
        # probe keys.  user_id over a 256-wide sketch forces real
        # collisions, so overcount exercises the one-sided error path;
        # the md5 hashing is portable, so the oracle replays the
        # sketch EXACTLY (value-match, not a tolerance flag).
        from napalm_logs_spark.operators.sketch import cms_vs_exact

        ev = _t(spark, sf, "events")
        return cms_vs_exact(
            ev.select(F.col("user_id").cast("string").alias("key")),
            depth=4,
            width=256,
        )
    q["q_sketch_cms"] = q_sketch_cms

    def q_zorder_key(spark, sf):
        # Z-order (Morton) layout key: scan locality for BOTH user_id
        # and value range predicates at once (files range-partitioned
        # and sorted by it let parquet min/max stats prune either
        # dimension).  Pure JVM bit interleave, oracled bit-for-bit.
        from napalm_logs_spark.sources.bucketed import (
            minmax_scaled_int,
            zorder_key,
        )

        ev = _t(spark, sf, "events")
        return ev.select(
            "event_id",
            zorder_key(
                [
                    minmax_scaled_int(F.col("user_id"), 0, 1000, 8),
                    minmax_scaled_int(F.col("value"), 0, 100, 8),
                ],
                bits=8,
            ).alias("zkey"),
        )
    q["q_zorder_key"] = q_zorder_key

    def q_set_ops(spark, sf):
        ev = _t(spark, sf, "events")
        clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
        erroring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
        both = clickers.intersect(erroring).withColumn("grp", F.lit("both"))
        only_click = clickers.exceptAll(erroring).withColumn("grp", F.lit("click_only"))
        return both.unionByName(only_click).select("grp", "user_id")
    q["q_set_ops"] = q_set_ops

    def q_window_running(spark, sf):
        # window-function family: running sum + lag delta per user over
        # event time (single shuffle on user_id; sort within partition)
        ev = _t(spark, sf, "events").filter(F.col("user_id") < 200)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return ev.select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ), 6).alias("running_value"),
            F.round(F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 6)
            .alias("delta_prev"),
        )
    q["q_window_running"] = q_window_running

    def q_cube_counts(spark, sf):
        # grouping-sets family: CUBE over (event_type, value-bucket)
        ev = _t(spark, sf, "events").withColumn(
            "bucket", (F.col("value") >= 0.5).cast("int")
        )
        return (
            ev.cube("event_type", "bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.grouping_id("event_type", "bucket").cast("long").alias("gid"),
            )
            .select("event_type", "bucket", "n", "gid")
        )
    q["q_cube_counts"] = q_cube_counts

    def q_pivot(spark, sf):
        # PIVOT with an EXPLICIT value list: no value-discovery job, a
        # fixed output schema, and one single-shuffle hash aggregate
        # (each pivot cell is a conditional partial agg — map-side
        # combined, so the shuffle carries one row per user, not per
        # event)
        ev = _t(spark, sf, "events")
        kinds = ["click", "view", "purchase", "error", "signup"]
        piv = (
            ev.groupBy("user_id")
            .pivot("event_type", kinds)
            .agg(F.count(F.lit(1)))
        )
        return piv.select(
            "user_id",
            *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds],
        )
    q["q_pivot"] = q_pivot

    # ---- serializer (K6) ----
    def k6_serialize(spark, sf):
        return (
            _t(spark, sf, "events")
            .filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
            .select(
                "event_id",
                F.md5(
                    F.concat_ws(
                        "|", F.col("event_type"), F.format_string("%.2f", F.col("value"))
                    )
                ).alias("digest"),
            )
        )
    q["k6_serialize"] = k6_serialize

    # ---- classic aggregation / join competence ----
    def q1_pricing_summary(spark, sf):
        li = _t(spark, sf, "lineitem")
        qty = F.col("l_quantity").cast("decimal(18,4)")
        price = F.col("l_extendedprice").cast("decimal(18,4)")
        disc = F.col("l_discount").cast("decimal(18,4)")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(qty).cast("double").alias("sum_qty"),
                F.sum(price).cast("double").alias("sum_base_price"),
                F.sum(price * (F.lit(1).cast("decimal(18,4)") - disc))
                .cast("double").alias("sum_disc_price"),
                F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
                F.round(F.sum(disc).cast("double") / F.count(F.lit(1)), 6).alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )
    q["q1_pricing_summary"] = q1_pricing_summary

    def q3_top_orders(spark, sf):
        cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
        orders = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
            F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
        )
        return (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
            .groupBy("o_orderkey")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10)
        )
    q["q3_top_orders"] = q3_top_orders

    def q5_local_supplier_volume(spark, sf):
        # TPC-H Q5 shape: one big fact (lineitem⋈orders) with every dim
        # broadcast — region/nation/customer/supplier are tiny at any SF
        region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
        nation = _t(spark, sf, "nation")
        cust = _t(spark, sf, "customer")
        supp = _t(spark, sf, "supplier")
        orders = _t(spark, sf, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        li = _t(spark, sf, "lineitem")
        rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
            F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
        )
        dims = (
            cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
            .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
            .select("c_custkey", "c_nationkey", "n_name")
        )
        return (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
            .join(F.broadcast(dims), (orders["o_custkey"] == dims["c_custkey"])
                  & (supp["s_nationkey"] == dims["c_nationkey"]))
            .groupBy("n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc())
        )
    q["q5_local_supplier_volume"] = q5_local_supplier_volume

    def q6_forecast_revenue(spark, sf):
        # TPC-H Q6 shape: pure scan+filter+agg — every predicate must
        # reach the parquet reader (PushedFilters), no shuffle but the
        # single-row final agg
        li = _t(spark, sf, "lineitem")
        rev = F.col("l_extendedprice").cast("decimal(18,4)") * F.col(
            "l_discount"
        ).cast("decimal(18,4)")
        return (
            li.filter(
                (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
                & (F.col("l_discount").cast("decimal(18,4)").between(0.05, 0.07))
                & (F.col("l_quantity") < 24)
            )
            .agg(F.sum(rev).cast("double").alias("revenue"))
        )
    q["q6_forecast_revenue"] = q6_forecast_revenue

    def q4_order_priority(spark, sf):
        # TPC-H Q4 shape (EXISTS → LEFT SEMI): the orders side keeps its
        # date filter at the scan; the semi join carries the extra
        # non-equi shipped-late predicate, so lineitem rows are never
        # duplicated into the aggregate (no DISTINCT needed)
        orders = _t(spark, sf, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
        return (
            orders.join(
                li,
                (orders["o_orderkey"] == li["l_orderkey"])
                & (li["l_shipdate"] > orders["o_orderdate"]),
                "left_semi",
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
        )
    q["q4_order_priority"] = q4_order_priority

    def q10_returned_items(spark, sf):
        # TPC-H Q10 shape: fact⋈fact on orderkey, dims broadcast; top-20
        # with a deterministic custkey tie-break
        cust = _t(spark, sf, "customer")
        nation = _t(spark, sf, "nation")
        orders = _t(spark, sf, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
        rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
            F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
        )
        return (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
            .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
            .limit(20)
        )
    q["q10_returned_items"] = q10_returned_items

    def q14_promo_revenue(spark, sf):
        # TPC-H Q14 shape: conditional aggregate ratio, part broadcast
        part = _t(spark, sf, "part").select("p_partkey", "p_type")
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-09-01").cast("timestamp"))
        )
        rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
            F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
        )
        agg = (
            li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .agg(
                F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("_promo"),
                F.sum(rev).alias("_total"),
            )
        )
        return agg.select(
            F.round(
                F.lit(100).cast("double")
                * F.col("_promo").cast("double")
                / F.col("_total").cast("double"),
                6,
            ).alias("promo_pct")
        )
    q["q14_promo_revenue"] = q14_promo_revenue

    def q15_top_supplier(spark, sf):
        # TPC-H Q15 shape: scalar MAX subquery — the 1-row max rides a
        # broadcast crossJoin back onto the per-supplier aggregate
        # (exact decimal revenue, so the equality is well-defined)
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
            F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
        )
        per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("_rev"))
        top = per_supp.agg(F.max("_rev").alias("_max_rev"))
        supp = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
        return (
            per_supp.crossJoin(F.broadcast(top))
            .filter(F.col("_rev") == F.col("_max_rev"))
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .select(
                "s_suppkey", "s_name", F.col("_rev").cast("double").alias("total_revenue")
            )
        )
    q["q15_top_supplier"] = q15_top_supplier

    def q16_supplier_cnt(spark, sf):
        # TPC-H Q16 shape (partsupp ≡ distinct lineitem pairs here):
        # NOT IN → LEFT ANTI against the bad-supplier list, then a
        # two-level distinct count per (brand, type, size)
        part = _t(spark, sf, "part").filter(
            (F.col("p_brand") != "Brand#13")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
        bad = _t(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select(
            "s_suppkey"
        )
        pairs = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
        return (
            pairs.join(F.broadcast(part), pairs["l_partkey"] == part["p_partkey"])
            .join(F.broadcast(bad), pairs["l_suppkey"] == bad["s_suppkey"], "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        )
    q["q16_supplier_cnt"] = q16_supplier_cnt

    def q18_large_orders(spark, sf):
        # TPC-H Q18 shape: HAVING on a fact-side aggregate, then joins —
        # the aggregate runs FIRST so only qualifying orderkeys reach
        # the joins (semi-join-like pruning by construction)
        li = _t(spark, sf, "lineitem")
        big = (
            li.groupBy("l_orderkey")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_q"))
            .filter(F.col("_q") > 300)
        )
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer").select("c_custkey", "c_name")
        return (
            big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
            .select(
                "c_name",
                "c_custkey",
                "o_orderkey",
                "o_orderdate",
                "o_totalprice",
                F.col("_q").cast("double").alias("sum_qty"),
            )
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(100)
        )
    q["q18_large_orders"] = q18_large_orders

    def q19_disjunctive(spark, sf):
        # TPC-H Q19 shape: disjunctive brand/size/quantity predicates —
        # Catalyst extracts the common l_quantity bounds below the join
        # and the whole OR collapses into one broadcast-hash-join probe
        part = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
        li = _t(spark, sf, "lineitem")
        rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
            F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
        )
        j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        cond = (
            ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
             & F.col("l_quantity").between(1, 21))
            | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
               & F.col("l_quantity").between(10, 30))
            | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
               & F.col("l_quantity").between(20, 40))
        )
        return j.filter(cond).agg(F.sum(rev).cast("double").alias("revenue"))
    q["q19_disjunctive"] = q19_disjunctive

    def q22_idle_customers(spark, sf):
        # TPC-H Q22 shape: scalar AVG subquery (exact decimal sum ÷
        # count, broadcast back) + NOT EXISTS → LEFT ANTI against the
        # recent-orders keys
        cust = _t(spark, sf, "customer")
        bal = F.col("c_acctbal").cast("decimal(18,4)")
        cutoff = (
            cust.filter(F.col("c_acctbal") > 0)
            .agg(
                (F.sum(bal).cast("double") / F.count(F.lit(1))).alias("_avg_bal")
            )
        )
        recent = _t(spark, sf, "orders").filter(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        ).select("o_custkey")
        return (
            cust.crossJoin(F.broadcast(cutoff))
            .filter(F.col("c_acctbal") > F.col("_avg_bal"))
            .join(recent, cust["c_custkey"] == recent["o_custkey"], "left_anti")
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("numcust"),
                F.sum(bal).cast("double").alias("totacctbal"),
            )
        )
    q["q22_idle_customers"] = q22_idle_customers

    def c13_cohort_retention(spark, sf):
        # classic web-scale cohort retention: cohort = ISO week of a
        # user's first event, activity bucketed by week — the per-user
        # first-event aggregate and the re-join both shuffle on user_id
        # (same key, one exchange reused), then a distinct-count per
        # (cohort, activity) cell
        ev = _t(spark, sf, "events").select("user_id", "ts")
        firsts = ev.groupBy("user_id").agg(
            F.date_trunc("week", F.min("ts")).alias("cohort_week")
        )
        return (
            ev.join(firsts, "user_id")
            .groupBy(
                "cohort_week",
                F.date_trunc("week", F.col("ts")).alias("activity_week"),
            )
            .agg(F.countDistinct("user_id").alias("n_users"))
        )
    q["c13_cohort_retention"] = c13_cohort_retention

    def q_window_range_7d(spark, sf):
        # RANGE-frame rolling window (vs q_window_running's ROWS frame):
        # trailing-7-day revenue per nation ordered by integer epoch-day
        # — partitioned by nation so no single-partition global sort
        daily = (
            _t(spark, sf, "orders")
            .join(
                F.broadcast(
                    _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
                ),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy(
                "c_nationkey", F.date_trunc("day", F.col("o_orderdate")).alias("d")
            )
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("_rev"))
        )
        w = (
            Window.partitionBy("c_nationkey")
            .orderBy(F.datediff(F.col("d").cast("date"), F.lit("1990-01-01").cast("date")))
            .rangeBetween(-6, 0)
        )
        return daily.select(
            "c_nationkey",
            "d",
            F.col("_rev").cast("double").alias("day_rev"),
            F.sum("_rev").over(w).cast("double").alias("rev_7d"),
        )
    q["q_window_range_7d"] = q_window_range_7d

    def q_gapfill_ffill(spark, sf):
        # time-series gap filling: per-nation daily revenue densified
        # onto a generated date spine (sequence+explode — the spine is
        # built per group, never collected to the driver) and forward-
        # filled with last-known revenue (last IGNORE NULLS over a rows
        # frame).  The spine join and the window share the nation
        # partitioning, so densify+fill is one shuffle after the agg
        daily = (
            _t(spark, sf, "orders")
            .join(
                F.broadcast(
                    _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
                ),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy(
                "c_nationkey", F.date_trunc("day", F.col("o_orderdate")).alias("d")
            )
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("_rev"))
        )
        spine = (
            daily.groupBy("c_nationkey")
            .agg(F.min("d").alias("_lo"), F.max("d").alias("_hi"))
            .select(
                F.col("c_nationkey").alias("_nk"),
                F.explode(
                    F.sequence(F.col("_lo"), F.col("_hi"), F.expr("interval 1 day"))
                ).alias("_d"),
            )
        )
        w = (
            Window.partitionBy("_nk")
            .orderBy("_d")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            spine.join(
                daily,
                (F.col("_nk") == F.col("c_nationkey")) & (F.col("_d") == F.col("d")),
                "left_outer",
            )
            .select(
                F.col("_nk").alias("c_nationkey"),
                F.col("_d").alias("d"),
                F.col("_rev").cast("double").alias("day_rev"),
                F.last("_rev", ignorenulls=True)
                .over(w)
                .cast("double")
                .alias("filled_rev"),
            )
        )
    q["q_gapfill_ffill"] = q_gapfill_ffill

    def e_props_json(spark, sf):
        # semi-structured extraction: JSON path get over the props
        # column, grouped rollup — get_json_object stays JVM-side
        ev = _t(spark, sf, "events")
        return ev.groupBy("event_type").agg(
            F.sum(F.get_json_object(F.col("props"), "$.k").cast("long")).alias(
                "sum_k"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    q["e_props_json"] = e_props_json

    def q_unpivot_measures(spark, sf):
        # wide→long UNPIVOT (inverse of q_pivot): per-flag totals of the
        # four lineitem measures melt into (flag, measure, total) — the
        # unpivot is a zero-shuffle projection after the aggregate
        agg = (
            _t(spark, sf, "lineitem")
            .groupBy("l_returnflag")
            .agg(
                F.sum(F.col("l_quantity").cast("decimal(18,4)"))
                .cast("double")
                .alias("quantity"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("extendedprice"),
                F.sum(F.col("l_discount").cast("decimal(18,4)"))
                .cast("double")
                .alias("discount"),
                F.sum(F.col("l_tax").cast("decimal(18,4)"))
                .cast("double")
                .alias("tax"),
            )
        )
        return agg.unpivot(
            ["l_returnflag"],
            ["quantity", "extendedprice", "discount", "tax"],
            "measure",
            "total",
        )
    q["q_unpivot_measures"] = q_unpivot_measures

    def q2_min_cost_supplier(spark, sf):
        # TPC-H Q2 shape (correlated MIN subquery → window-min over the
        # eligible set; unit cost proxy = min observed unit price per
        # (part, supplier) since there is no partsupp table).  The only
        # wide ops are the (part,supp) aggregate and the window — the
        # supplier/nation/region dim and the part filter both broadcast
        li = _t(spark, sf, "lineitem").select(
            "l_partkey",
            "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("_unit"),
        )
        cost = li.groupBy("l_partkey", "l_suppkey").agg(
            F.min("_unit").alias("unit_cost")
        )
        supp = _t(spark, sf, "supplier")
        nation = _t(spark, sf, "nation")
        region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
        sdim = (
            supp.join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
            .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
            .select("s_suppkey", "s_acctbal", "s_name", "n_name")
        )
        eligible = cost.join(F.broadcast(sdim), cost["l_suppkey"] == sdim["s_suppkey"])
        part = _t(spark, sf, "part").filter(F.col("p_type") == "STANDARD").select(
            "p_partkey"
        )
        w = Window.partitionBy("l_partkey")
        return (
            eligible.withColumn("_min", F.min("unit_cost").over(w))
            .filter(F.col("unit_cost") == F.col("_min"))
            .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
            .select(
                "s_acctbal",
                "s_name",
                "n_name",
                "p_partkey",
                F.round("unit_cost", 6).alias("unit_cost"),
            )
            .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
            .limit(100)
        )
    q["q2_min_cost_supplier"] = q2_min_cost_supplier

    def q7_volume_shipping(spark, sf):
        # TPC-H Q7 shape: bidirectional region-pair volume by ship year;
        # the single wide join is lineitem⋈orders on orderkey — every
        # dim (supplier, customer, nation×2, region×2) broadcasts
        nation = _t(spark, sf, "nation").select("n_nationkey", "n_regionkey")
        region = _t(spark, sf, "region").select("r_regionkey", "r_name")
        sdim = (
            _t(spark, sf, "supplier")
            .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("s_suppkey", F.col("r_name").alias("supp_region"))
        )
        cdim = (
            _t(spark, sf, "customer")
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("c_custkey", F.col("r_name").alias("cust_region"))
        )
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
        vol = F.col("l_extendedprice").cast("decimal(18,4)") * (
            F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
        )
        pair = (
            ((F.col("supp_region") == "ASIA") & (F.col("cust_region") == "EUROPE"))
            | ((F.col("supp_region") == "EUROPE") & (F.col("cust_region") == "ASIA"))
        )
        return (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(sdim), li["l_suppkey"] == sdim["s_suppkey"])
            .join(F.broadcast(cdim), orders["o_custkey"] == cdim["c_custkey"])
            .filter(pair)
            .groupBy(
                "supp_region", "cust_region", F.year("l_shipdate").alias("l_year")
            )
            .agg(F.sum(vol).cast("double").alias("revenue"))
        )
    q["q7_volume_shipping"] = q7_volume_shipping

    def q8_market_share(spark, sf):
        # TPC-H Q8 shape: one nation's share of a region's market for a
        # part type, by order year — conditional decimal sum ratio
        nation = _t(spark, sf, "nation")
        region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
        part = _t(spark, sf, "part").filter(F.col("p_type") == "PROMO").select(
            "p_partkey"
        )
        sdim = (
            _t(spark, sf, "supplier")
            .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation"))
        )
        cdim = (
            _t(spark, sf, "customer")
            .join(
                F.broadcast(nation.select("n_nationkey", "n_regionkey")),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("c_custkey")
        )
        li = _t(spark, sf, "lineitem")
        orders = _t(spark, sf, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        vol = F.col("l_extendedprice").cast("decimal(18,4)") * (
            F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
        )
        return (
            li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(cdim), orders["o_custkey"] == cdim["c_custkey"])
            .join(F.broadcast(sdim), li["l_suppkey"] == sdim["s_suppkey"])
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(
                        F.lit(0).cast("decimal(18,4)")
                    )
                ).alias("_n"),
                F.sum(vol).alias("_d"),
            )
            .select(
                "o_year",
                F.round(
                    F.col("_n").cast("double") / F.col("_d").cast("double"), 6
                ).alias("mkt_share"),
            )
        )
    q["q8_market_share"] = q8_market_share

    def q9_product_profit(spark, sf):
        # TPC-H Q9 shape: 5-way join + LIKE filter, profit by supplier
        # nation and order year.  Profit proxy (no partsupp cost):
        # discounted revenue minus tax on the full price — exact decimal
        part = _t(spark, sf, "part").filter(
            F.col("p_name").like("%widget%")
        ).select("p_partkey")
        sdim = (
            _t(spark, sf, "supplier")
            .join(
                F.broadcast(_t(spark, sf, "nation")),
                F.col("s_nationkey") == F.col("n_nationkey"),
            )
            .select("s_suppkey", F.col("n_name").alias("nation"))
        )
        li = _t(spark, sf, "lineitem")
        orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
        amount = F.col("l_extendedprice").cast("decimal(18,4)") * (
            F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
        ) - F.col("l_tax").cast("decimal(18,4)") * F.col("l_extendedprice").cast(
            "decimal(18,4)"
        )
        return (
            li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(sdim), li["l_suppkey"] == sdim["s_suppkey"])
            .groupBy("nation", F.year("o_orderdate").alias("o_year"))
            .agg(F.sum(amount).cast("double").alias("sum_profit"))
        )
    q["q9_product_profit"] = q9_product_profit

    def q11_important_parts(spark, sf):
        # TPC-H Q11 shape: per-part value restricted to one nation's
        # suppliers, kept if above a scalar-subquery fraction of the
        # total (the 1-row total broadcasts back over the aggregate)
        sdim = (
            _t(spark, sf, "supplier")
            .join(
                F.broadcast(
                    _t(spark, sf, "nation").filter(F.col("n_name") == "NATION_3")
                ),
                F.col("s_nationkey") == F.col("n_nationkey"),
            )
            .select("s_suppkey")
        )
        li = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
        vals = (
            li.join(F.broadcast(sdim), li["l_suppkey"] == sdim["s_suppkey"])
            .groupBy(F.col("l_partkey").alias("p_key"))
            .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("_val"))
        )
        total = vals.agg(F.sum("_val").alias("_total"))
        return (
            vals.crossJoin(F.broadcast(total))
            .filter(
                F.col("_val") > F.lit(0.001).cast("decimal(18,6)") * F.col("_total")
            )
            .select("p_key", F.col("_val").cast("double").alias("value"))
        )
    q["q11_important_parts"] = q11_important_parts

    def q12_late_shipping(spark, sf):
        # TPC-H Q12 shape: conditional priority counts over a join, with
        # the lateness predicate as timestamp+interval arithmetic
        # (l_shipmode does not exist in this corpus; l_linestatus plays
        # the grouping role)
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_orderdate", "o_orderpriority"
        )
        high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .filter(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            )
            .groupBy("l_linestatus")
            .agg(
                F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
            )
        )
    q["q12_late_shipping"] = q12_late_shipping

    def q13_order_distribution(spark, sf):
        # TPC-H Q13 shape: LEFT OUTER join with the extra predicate ON
        # the join (not WHERE — customers with zero qualifying orders
        # must survive with c_count = 0), then a count-of-counts
        cust = _t(spark, sf, "customer").select("c_custkey")
        orders = _t(spark, sf, "orders").filter(
            F.col("o_orderpriority") != "1-URGENT"
        ).select("o_custkey", "o_orderkey")
        return (
            cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_outer")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("c_count"))
            .groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
        )
    q["q13_order_distribution"] = q13_order_distribution

    def q17_small_qty_revenue(spark, sf):
        # TPC-H Q17 shape: correlated per-part AVG subquery → aggregate
        # once per part and join back (quantities are integer-valued, so
        # the double avg is exact and engine-order-independent)
        li = _t(spark, sf, "lineitem")
        pavg = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
            (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
        )
        part = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#23").select(
            "p_partkey"
        )
        return (
            li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .join(pavg, F.col("l_partkey") == F.col("_pk"))
            .filter(F.col("l_quantity") < F.col("qty_cut"))
            .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("_s"))
            .select(
                F.round(F.col("_s").cast("double") / F.lit(7.0), 6).alias("avg_yearly")
            )
        )
    q["q17_small_qty_revenue"] = q17_small_qty_revenue

    def q20_excess_suppliers(spark, sf):
        # TPC-H Q20 shape: nested IN chain — parts by name prefix, a
        # HAVING-gated (supplier, part) quantity aggregate, then a semi
        # join onto region-filtered suppliers
        red = _t(spark, sf, "part").filter(F.col("p_name").like("red%")).select(
            "p_partkey"
        )
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        cand = (
            li.join(F.broadcast(red), li["l_partkey"] == red["p_partkey"])
            .groupBy("l_suppkey", "l_partkey")
            .agg(F.sum("l_quantity").alias("_q"))
            .filter(F.col("_q") > 15)
            .select("l_suppkey")
        )
        supp = (
            _t(spark, sf, "supplier")
            .join(
                F.broadcast(
                    _t(spark, sf, "nation").filter(F.col("n_regionkey") == 1)
                ),
                F.col("s_nationkey") == F.col("n_nationkey"),
            )
            .select("s_suppkey", "s_name", "s_acctbal")
        )
        return (
            supp.join(cand, supp["s_suppkey"] == cand["l_suppkey"], "left_semi")
            .select("s_name", "s_acctbal")
            .orderBy("s_name")
        )
    q["q20_excess_suppliers"] = q20_excess_suppliers

    def q21_waiting_suppliers(spark, sf):
        # TPC-H Q21 shape: EXISTS (another supplier on the order) and
        # NOT EXISTS (another LATE supplier) — both decorrelated into
        # per-order aggregates joined back to the late rows, so the fact
        # table is scanned three times but never self-joined row×row
        orders = _t(spark, sf, "orders").filter(
            F.col("o_orderstatus") == "F"
        ).select("o_orderkey", "o_orderdate")
        li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
        late = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).select("l_orderkey", "l_suppkey")
        nsupp = li.groupBy(F.col("l_orderkey").alias("_ok1")).agg(
            F.countDistinct("l_suppkey").alias("_n_s")
        )
        nlate = (
            late.select("l_orderkey", "l_suppkey")
            .distinct()
            .groupBy(F.col("l_orderkey").alias("_ok2"))
            .agg(F.countDistinct("l_suppkey").alias("_n_late"))
        )
        supp = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
        return (
            late.join(nsupp, F.col("l_orderkey") == F.col("_ok1"))
            .join(nlate, F.col("l_orderkey") == F.col("_ok2"))
            .filter((F.col("_n_s") >= 2) & (F.col("_n_late") == 1))
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_name")
            .limit(100)
        )
    q["q21_waiting_suppliers"] = q21_waiting_suppliers

    # ---- text analysis ----
    def t_tokens(spark, sf):
        from napalm_logs_spark.operators.text import with_tokens

        return with_tokens(_t(spark, sf, "documents")).select("doc_id", "n_tokens")
    q["t_tokens"] = t_tokens

    def t_quality(spark, sf):
        from napalm_logs_spark.operators.text import quality_scores

        return quality_scores(_t(spark, sf, "documents")).select(
            "doc_id", "punct_ratio", "stopword_ratio"
        )
    q["t_quality"] = t_quality

    def t_langid(spark, sf):
        from napalm_logs_spark.operators.text import lang_id

        return lang_id(_t(spark, sf, "documents")).select("doc_id", "lang_pred")
    q["t_langid"] = t_langid

    def t_fingerprint(spark, sf):
        from napalm_logs_spark.operators.text import fingerprint

        return fingerprint(_t(spark, sf, "documents")).select("doc_id", "fp_md5")
    q["t_fingerprint"] = t_fingerprint

    def t_winnow(spark, sf):
        from napalm_logs_spark.operators.text import winnow_fingerprints

        return winnow_fingerprints(
            _t(spark, sf, "documents").filter(F.col("doc_id") < 500), k=8, w=4
        )
    q["t_winnow"] = t_winnow

    def t_winnow_pairs(spark, sf):
        from napalm_logs_spark.operators.text import winnow_pairs

        return winnow_pairs(
            _t(spark, sf, "documents").filter(F.col("doc_id") < 500),
            min_shared=30, k=8, w=4,
        )
    q["t_winnow_pairs"] = t_winnow_pairs

    def t_clean(spark, sf):
        from napalm_logs_spark.operators.text import clean_text

        return clean_text(_t(spark, sf, "documents")).select(
            "doc_id",
            F.col("n_urls").cast("long").alias("n_urls"),
            F.col("n_emails").cast("long").alias("n_emails"),
            "clean_text",
            F.col("clean_len").cast("long").alias("clean_len"),
        )
    q["t_clean"] = t_clean

    def t_pii_scrub(spark, sf):
        from napalm_logs_spark.operators.text import pii_scrub

        # the synthetic corpus carries no PII, so the query plants a
        # deterministic contact block per row (mirrored in the oracle);
        # the operator itself sees only the derived column
        doc = _t(spark, sf, "documents")
        did = F.col("doc_id").cast("string")
        contact = F.concat_ws(
            " ",
            F.col("text"),
            F.lit("contact"),
            F.concat(F.lit("user"), did, F.lit("@example.com")),
            F.lit("ip"),
            F.concat(F.lit("10."), (F.col("doc_id") % 256).cast("string"), F.lit(".0.1")),
            F.lit("tel"),
            F.concat(F.lit("+49 555 "), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
            F.lit("sid"),
            F.concat(F.lit("9"), F.lpad(did, 9, "0")),
        )
        return pii_scrub(doc.withColumn("pii_text", contact), text_col="pii_text").select(
            "doc_id", "n_email", "n_ipv4", "n_phone", "n_id", "redacted"
        )
    q["t_pii_scrub"] = t_pii_scrub

    def t_ccnet_quality(spark, sf):
        from napalm_logs_spark.operators.text import unigram_logprob

        return unigram_logprob(_t(spark, sf, "documents"), buckets=True)
    q["t_ccnet_quality"] = t_ccnet_quality

    def t_lm_bigram(spark, sf):
        # interpolated add-alpha bigram LM surprisal (the Markov upgrade
        # of t_ccnet_quality; CCNet's KenLM shape at order 2)
        from napalm_logs_spark.operators.text import bigram_logprob

        return bigram_logprob(_t(spark, sf, "documents"))
    q["t_lm_bigram"] = t_lm_bigram

    def t_gopher_rules(spark, sf):
        from napalm_logs_spark.operators.text import gopher_rules

        return gopher_rules(_t(spark, sf, "documents"))
    q["t_gopher_rules"] = t_gopher_rules

    def t_gate_agreement(spark, sf):
        # filter-QA: Cohen's kappa + keep-set Jaccard between the
        # Gopher gate and a stopword/punct heuristic gate — are the
        # two filters redundant or complementary?
        from napalm_logs_spark.operators.text import (
            gate_agreement, gopher_rules, quality_scores,
        )

        docs = _t(spark, sf, "documents")
        a = gopher_rules(docs).select("doc_id", F.col("keep").alias("keep_a"))
        b = quality_scores(docs).select(
            "doc_id",
            (
                (F.col("stopword_ratio") >= 0.08)
                & (F.col("punct_ratio") <= 0.2)
            ).alias("keep_b"),
        )
        return gate_agreement(a.join(b, "doc_id"), "keep_a", "keep_b")
    q["t_gate_agreement"] = t_gate_agreement

    def t_dsir_weights(spark, sf):
        # DSIR importance weights toward a deterministic "in-domain"
        # sample (every 7th doc) — hashed-bigram log-likelihood ratios
        from napalm_logs_spark.operators.text import dsir_importance

        docs = _t(spark, sf, "documents")
        # predicate form = the single-scan plan (target histogram
        # derived from the same gram aggregate the scoring reads)
        return dsir_importance(docs, target_filter=F.col("doc_id") % 7 == 0)
    q["t_dsir_weights"] = t_dsir_weights

    def t_bpe_train(spark, sf):
        # distributed BPE tokenizer training (Sennrich word-histogram
        # algorithm): the corpus collapses to a (word,count) histogram
        # once, every merge is a histogram-sized aggregate + 1-row
        # argmax collect — the learned merge table is verified against
        # an independent pure-python replication (stored golden keyed
        # by the corpus content checksum; tools/make_goldens.py)
        from napalm_logs_spark.operators.bpe import bpe_train

        return bpe_train(_t(spark, sf, "documents"), n_merges=40).select(
            "merge_rank", "left", "right", "pair_count"
        )
    q["t_bpe_train"] = t_bpe_train  # oracled: independent-python golden

    def t_bpe_tokens(spark, sf):
        # train + greedy-encode composition: per-doc subword token
        # counts vs an independent python train+encode replication
        from napalm_logs_spark.operators.bpe import bpe_encode, bpe_train

        docs = _t(spark, sf, "documents")
        merges = bpe_train(docs, n_merges=40)
        return bpe_encode(docs, merges).select(
            "doc_id", F.size("bpe_tokens").cast("long").alias("n_bpe_tokens")
        )
    q["t_bpe_tokens"] = t_bpe_tokens  # oracled: independent-python golden

    def t_pack_chunks(spark, sf):
        from napalm_logs_spark.operators.text import pack_chunks

        return pack_chunks(
            _t(spark, sf, "documents"), budget_tokens=512,
            key="lang", order_col="doc_id",
        ).select("doc_id", "lang", "n_tokens", "chunk_id", "chunk_off")
    q["t_pack_chunks"] = t_pack_chunks

    def t_chunk_windows(spark, sf):
        from napalm_logs_spark.operators.text import chunk_windows

        return chunk_windows(_t(spark, sf, "documents"), size=64, stride=48)
    q["t_chunk_windows"] = t_chunk_windows

    def t_length_buckets(spark, sf):
        from napalm_logs_spark.operators.text import length_bucket_plan

        return length_bucket_plan(_t(spark, sf, "documents"))
    q["t_length_buckets"] = t_length_buckets

    def t_tfidf(spark, sf):
        from napalm_logs_spark.operators.text import tf_idf_top_terms

        return tf_idf_top_terms(_t(spark, sf, "documents"), k=3)
    q["t_tfidf"] = t_tfidf

    def t_mix_temperature(spark, sf):
        from napalm_logs_spark.operators.text import temperature_mix

        return temperature_mix(
            _t(spark, sf, "documents"), temperature=0.7, target_frac=0.5,
        ).select("doc_id", "lang", "mix_rate")
    q["t_mix_temperature"] = t_mix_temperature

    def t_repetition(spark, sf):
        from napalm_logs_spark.operators.text import repetition_scores

        return repetition_scores(_t(spark, sf, "documents"))
    q["t_repetition"] = t_repetition

    def t_fix_text(spark, sf):
        # encoding repair ("ftfy pass"): the documents tables are pure
        # ASCII where the chain is a no-op, so the gate runs on the
        # deterministic planted-dirty corpus (mojibake / NFD / controls
        # / NBSP), built in memory like the other synthetic-input
        # gates.  Golden is an independent python replication of the
        # published spec.
        from napalm_logs_spark.operators.text import (
            fix_text,
            synth_dirty_text_pandas,
        )

        dirty = spark.createDataFrame(
            synth_dirty_text_pandas(64), "doc_id long, text string"
        )
        return fix_text(dirty).select(
            "doc_id", "fixed_text", "n_controls_removed", "was_mojibake", "changed"
        )
    q["t_fix_text"] = t_fix_text  # oracled: stored spec-replication golden

    def t_url_canon(spark, sf):
        # URL canonicalization before URL-keyed dedup — planted corpus
        # (documents carry no URL column); golden is an INDEPENDENT
        # urllib-based replication of the published spec
        from napalm_logs_spark.operators.text import (
            canonicalize_urls,
            synth_urls_pandas,
        )

        urls = spark.createDataFrame(
            synth_urls_pandas(64), "url_id long, url string"
        )
        return canonicalize_urls(urls).select(
            "url_id", "url", "scheme", "host", "port",
            "path_canon", "query_canon", "url_canon",
        )
    q["t_url_canon"] = t_url_canon  # oracled: stored urllib-replication golden

    def t_html_extract(spark, sf):
        # HTML -> text extraction (C4/RefinedWeb boilerplate strip):
        # documents carry no markup, so each text is wrapped in a
        # deterministic HTML scaffold (script with embedded tags +
        # comparison '<', style, comment, entities) built by the SAME
        # concat on both engines — the oracle replays the documented
        # regex chain in SQL, valid at any scale factor
        from napalm_logs_spark.operators.text import html_extract

        docs = _t(spark, sf, "documents")
        wrapped = docs.select(
            "doc_id",
            F.concat(
                F.lit(_HTML_PRE), F.col("doc_id").cast("string"),
                F.lit(_HTML_MID), F.col("doc_id").cast("string"),
                F.lit(_HTML_MID2), F.col("text"), F.lit(_HTML_POST),
            ).alias("html"),
        )
        return html_extract(wrapped)
    q["t_html_extract"] = t_html_extract

    def t_c4_rules(spark, sf):
        # C4 line/page cleaning rules (Raffel et al. 2020 §2.2) on a
        # deterministic planted page corpus generated by the SAME
        # range+concat expression on both engines (documents carry no
        # newlines): terminal-punctuation / min-words / javascript
        # line drops, lorem-ipsum / brace / badword page flags
        from napalm_logs_spark.operators.text import c4_line_rules

        i = F.col("id")

        def seg(mod, s):
            return F.when(i % mod == 0, F.lit("\n" + s)).otherwise(F.lit(""))

        text = F.concat(
            F.lit("This is sentence number "), i.cast("string"),
            F.lit(" and it is long enough."),
            seg(2, "short line"),
            seg(3, "Enable javascript to view this page."),
            seg(5, "lorem ipsum dolor sit amet."),
            seg(7, "function f() { return 1; }"),
            F.lit("\nAnother proper sentence with enough words here number "),
            i.cast("string"), F.lit("!"),
            F.lit("\nThe third fine sentence stays here too."),
            F.lit("\nNo terminal punctuation here so dropped"),
            seg(11, "This page mentions badword1 sadly."),
        )
        pages = spark.range(96).select(i.alias("page_id"), text.alias("text"))
        return c4_line_rules(pages)
    q["t_c4_rules"] = t_c4_rules

    def t_pack_spfhp(spark, sf):
        # SPFHP sequence packing (Kosec/Fu/Krell 2021): whole-document
        # packs, no cross-doc attention contamination — histogram ->
        # driver strategy table -> rank-arithmetic broadcast join
        from napalm_logs_spark.operators.text import pack_histogram

        return pack_histogram(_t(spark, sf, "documents"), budget=128)
    q["t_pack_spfhp"] = t_pack_spfhp  # oracled: stored independent-replication golden

    # ---- document dedup ----
    def d_exact_dup_groups(spark, sf):
        from napalm_logs_spark.operators.docdedup import exact_duplicate_groups

        return exact_duplicate_groups(_t(spark, sf, "documents"))
    q["d_exact_dup_groups"] = d_exact_dup_groups

    def d_ngram_jaccard(spark, sf):
        from napalm_logs_spark.operators.docdedup import ngram_jaccard_pairs

        return ngram_jaccard_pairs(_t(spark, sf, "documents"), n=3, threshold=0.3)
    q["d_ngram_jaccard"] = d_ngram_jaccard

    def d_minhash_lsh(spark, sf):
        from napalm_logs_spark.operators.docdedup import minhash_lsh_pairs

        return minhash_lsh_pairs(
            _t(spark, sf, "documents"), num_hashes=32, bands=8, n=3, threshold=0.3
        )
    q["d_minhash_lsh"] = d_minhash_lsh  # oracled: md5-window minhash is SQL-portable

    def d_simhash(spark, sf):
        from napalm_logs_spark.operators.docdedup import simhash_near_pairs

        return simhash_near_pairs(_t(spark, sf, "documents"), max_hamming=6).withColumn(
            "hamming", F.col("hamming").cast("long")
        )
    q["d_simhash"] = d_simhash  # oracled: md5_number_lower token hash

    def d_dup_clusters(spark, sf):
        from napalm_logs_spark.operators.docdedup import (
            duplicate_clusters,
            ngram_jaccard_pairs,
        )

        pairs = ngram_jaccard_pairs(_t(spark, sf, "documents"), n=3, threshold=0.3)
        return duplicate_clusters(pairs)
    q["d_dup_clusters"] = d_dup_clusters  # oracled: recursive-CTE closure

    def d_dedup_keep(spark, sf):
        from napalm_logs_spark.operators.docdedup import (
            dedup_keep_list,
            ngram_jaccard_pairs,
        )

        docs = _t(spark, sf, "documents")
        pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.3)
        return dedup_keep_list(docs, pairs)
    q["d_dedup_keep"] = d_dedup_keep  # oracled: anti-join vs recursive closure

    def d_decontaminate(spark, sf):
        from napalm_logs_spark.operators.docdedup import benchmark_contamination

        docs = _t(spark, sf, "documents")
        return benchmark_contamination(
            docs.filter(F.col("source") != "src0"),
            docs.filter(F.col("source") == "src0"),
            n=5,
            min_overlap=1,
        )
    q["d_decontaminate"] = d_decontaminate

    def d_leakage_splits(spark, sf):
        from napalm_logs_spark.operators.docdedup import (
            ngram_jaccard_pairs,
            split_by_cluster,
        )

        docs = _t(spark, sf, "documents")
        pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.3)
        return split_by_cluster(docs, pairs)
    q["d_leakage_splits"] = d_leakage_splits  # oracled: recursive CTE + md5 cut-points

    def d_dup_spans(spark, sf):
        from napalm_logs_spark.operators.docdedup import duplicate_spans

        return duplicate_spans(
            _t(spark, sf, "documents").filter(F.col("doc_id") < 500), k=5
        )
    q["d_dup_spans"] = d_dup_spans

    def d_segment_dedup(spark, sf):
        from napalm_logs_spark.operators.docdedup import segment_dedup

        return segment_dedup(_t(spark, sf, "documents"), k=5, max_df=2)
    q["d_segment_dedup"] = d_segment_dedup  # oracled: duckdb segment DF join

    def d_source_cap(spark, sf):
        # RefinedWeb/FineWeb-style per-domain cap: keep the 5 longest
        # docs per source (doc_id tie-break); salted two-phase top-k so
        # a hot domain never sorts on one task
        from napalm_logs_spark.operators.text import cap_per_source

        return cap_per_source(
            _t(spark, sf, "documents"), cap=5
        ).withColumn("source_rank", F.col("source_rank").cast("long"))
    q["d_source_cap"] = d_source_cap

    def d_pipeline_e2e(spark, sf):
        # the composed LLM-data pipeline: C4 clean -> Gopher quality
        # gate (on the CLEANED text) -> exact dedup (lowest-id keeper
        # per content digest) -> token-budget packing of survivors.
        # Each stage is the same operator its standalone query gates;
        # this entry proves the stages COMPOSE (column contracts,
        # determinism, no stage needing a materialization barrier) —
        # the pipeline a 100 TB pretraining run actually executes.
        from napalm_logs_spark.operators.text import (
            clean_text,
            gopher_rules,
            pack_chunks,
        )

        docs = _t(spark, sf, "documents")
        cleaned = clean_text(docs).select("doc_id", "lang", "clean_text")
        gate = (
            gopher_rules(cleaned, text_col="clean_text")
            .filter(F.col("keep"))
            .select("doc_id")
        )
        survivors = cleaned.join(gate, "doc_id")
        digest = F.md5(F.lower(F.regexp_replace(F.col("clean_text"), r"\s+", " ")))
        keyed = survivors.withColumn("digest", digest)
        keepers = keyed.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
        kept = keyed.join(keepers.select("doc_id"), "doc_id")
        return pack_chunks(
            kept, budget_tokens=512, key="lang",
            order_col="doc_id", text_col="clean_text",
        ).select(
            "doc_id", "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("chunk_off").cast("long").alias("chunk_off"),
        )
    q["d_pipeline_e2e"] = d_pipeline_e2e

    def t_sample_mix(spark, sf):
        from napalm_logs_spark.operators.text import stratified_sample

        return stratified_sample(
            _t(spark, sf, "documents"),
            rates={"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.125},
            default_rate=0.75,
        ).select("doc_id", "lang", "source")
    q["t_sample_mix"] = t_sample_mix  # oracled: hash-deterministic sampling

    # ---- similarity search ----
    def s_knn_cosine(spark, sf):
        from napalm_logs_spark.operators.similarity import cosine_topk

        emb = _t(spark, sf, "embeddings")
        return cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=5).withColumn(
            "rank", F.col("rank").cast("long")
        )
    q["s_knn_cosine"] = s_knn_cosine

    def s_decontaminate(spark, sf):
        """Semantic benchmark decontamination: every corpus embedding
        scored against the broadcast benchmark subset (vec_id % 37 = 0
        — which includes itself for those rows: verbatim leakage shows
        up as cosine 1.0 and must be flagged)."""
        from napalm_logs_spark.operators.similarity import (
            semantic_decontaminate,
        )

        emb = _t(spark, sf, "embeddings")
        return semantic_decontaminate(
            emb, emb.filter(F.col("vec_id") % 37 == 0), threshold=0.8
        )
    q["s_decontaminate"] = s_decontaminate

    def s_embedding_norms(spark, sf):
        emb = _t(spark, sf, "embeddings")
        sq = F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return emb.select("vec_id", F.round(F.sqrt(sq), 6).alias("l2_norm"))
    q["s_embedding_norms"] = s_embedding_norms

    def s_jl_projection(spark, sf):
        # Johnson-Lindenstrauss ±1 sign projection 64 -> 8
        # (operators/similarity.py random_projection): the
        # dimensionality-reduction stage before LSH/PQ at scale.
        # Fixed-point exact (power-of-two quantize + integer sums), so
        # the oracle value-matches; signs derive from the md5
        # convention — hashlib on the Spark side, DuckDB's md5 in the
        # oracle, two independent implementations.
        from napalm_logs_spark.operators.similarity import random_projection

        return random_projection(
            _t(spark, sf, "embeddings"), in_dim=64, out_dim=8
        )
    q["s_jl_projection"] = s_jl_projection

    def t_readability(spark, sf):
        # Flesch Reading Ease / FK grade (operators/text.py
        # readability_scores): the classic readability gate next to the
        # Gopher/C4 rules — vowel-group syllable heuristic, zero
        # shuffle, pure JVM regex
        from napalm_logs_spark.operators.text import readability_scores

        return readability_scores(_t(spark, sf, "documents")).select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_words"),
            "n_sentences",
            "n_syllables",
            "flesch_ease",
            "fk_grade",
        )
    q["t_readability"] = t_readability

    def t_char_entropy(spark, sf):
        # character-level Shannon entropy (operators/text.py
        # char_entropy): the compressibility gate — degenerate
        # repetition scores ~0 bits/char, binary junk scores high.
        # Sorted distinct-char fold order is part of the contract so
        # the oracle sums identical doubles identically.
        from napalm_logs_spark.operators.text import char_entropy

        return char_entropy(_t(spark, sf, "documents")).select(
            "doc_id", "n_distinct_chars", "char_entropy"
        )
    q["t_char_entropy"] = t_char_entropy

    def s_diversity(spark, sf):
        # per-label mean pairwise cosine WITHOUT the n^2 pair join
        # (operators/similarity.py corpus_diversity): the closed form
        # (||sum(u)||^2 - n) / (n(n-1)) over quantized unit vectors —
        # the dedup-effect dashboard metric at O(n*dim).  ss (the exact
        # DECIMAL ||sum||^2) rides as a string so the gate is exact;
        # mean_cos_q is the 6dp derived metric.
        from napalm_logs_spark.operators.similarity import corpus_diversity

        d = corpus_diversity(_t(spark, sf, "embeddings"), by="label")
        return d.select(
            "label", "n", F.col("ss").cast("string").alias("ss"), "mean_cos_q"
        )
    q["s_diversity"] = s_diversity

    def s_ann_lsh(spark, sf):
        from napalm_logs_spark.operators.similarity import lsh_cosine_topk

        emb = _t(spark, sf, "embeddings")
        return lsh_cosine_topk(
            emb, emb.filter(F.col("vec_id") < 5), dim=64, k=5,
            n_planes=4, n_tables=8,
        ).withColumn("rank", F.col("rank").cast("long"))
    q["s_ann_lsh"] = s_ann_lsh  # oracled: stored numpy golden (seeded planes)

    def s_ann_ivf(spark, sf):
        from napalm_logs_spark.operators.similarity import ivf_cosine_topk

        emb = _t(spark, sf, "embeddings")
        return ivf_cosine_topk(
            emb, emb.filter(F.col("vec_id") < 5), dim=64, k=5,
            n_clusters=8, nprobe=4,
        ).withColumn("rank", F.col("rank").cast("long"))
    q["s_ann_ivf"] = s_ann_ivf  # oracled: stored numpy golden (seeded IVF)

    def s_ann_pq(spark, sf):
        from napalm_logs_spark.operators.similarity import pq_topk, pq_train

        emb = _t(spark, sf, "embeddings")
        books = pq_train(emb, m=8, k_sub=16)
        return pq_topk(
            emb, emb.filter(F.col("vec_id") < 5), books, k=5
        ).withColumn("rank", F.col("rank").cast("long"))
    q["s_ann_pq"] = s_ann_pq  # oracled: stored numpy golden (PQ/ADC spec)

    def s_ann_ivfpq(spark, sf):
        from napalm_logs_spark.operators.similarity import ivfpq_topk

        emb = _t(spark, sf, "embeddings")
        return ivfpq_topk(
            emb, emb.filter(F.col("vec_id") < 5), k=5,
            n_clusters=8, nprobe=4, m=8, k_sub=16,
        ).withColumn("rank", F.col("rank").cast("long"))
    q["s_ann_ivfpq"] = s_ann_ivfpq  # oracled: stored numpy golden (IVFADC spec)

    def s_quantize_int8(spark, sf):
        # symmetric per-vector int8 quantization — pure JVM HOFs, zero
        # shuffle; codes emitted CSV-stringified so the value hash is
        # representation-stable across Spark/DuckDB pandas bridges
        from napalm_logs_spark.operators.similarity import quantize_int8

        out = quantize_int8(_t(spark, sf, "embeddings"))
        # floor fixed-point, not round: scale/recon_err doubles are
        # bit-identical across engines (IEEE-deterministic pipeline),
        # so floor(x*1eN) always agrees, while decimal HALF_UP rounding
        # differs between Spark (exact BigDecimal) and DuckDB (float)
        return out.select(
            "vec_id",
            F.floor(F.col("scale") * 1e9).cast("long").alias("scale_e9"),
            F.concat_ws(",", F.col("codes").cast("array<string>")).alias("codes_csv"),
            F.floor(F.col("recon_err") * 1e6).cast("long").alias("recon_err_e6"),
        )
    q["s_quantize_int8"] = s_quantize_int8

    def s_embedding_near_dup(spark, sf):
        from napalm_logs_spark.operators.similarity import embedding_near_dup

        return embedding_near_dup(_t(spark, sf, "embeddings"), dim=64, threshold=0.5)
    q["s_embedding_near_dup"] = s_embedding_near_dup  # oracled: stored numpy golden

    def s_kmeans(spark, sf):
        from napalm_logs_spark.operators.similarity import kmeans_clusters

        return kmeans_clusters(
            _t(spark, sf, "embeddings"), k=10, iters=4, seed=42
        )
    q["s_kmeans"] = s_kmeans  # oracled: stored numpy golden (fixed-point sums)

    def s_pca(spark, sf):
        # one-pass distributed PCA (fixed-point moment sums -> driver
        # eigh -> broadcast projection); floor-1e6 fixed-point output
        # so the driver compare has no decimal-rounding engine skew
        from napalm_logs_spark.operators.similarity import pca_reduce

        out = pca_reduce(_t(spark, sf, "embeddings"), n_components=4)
        return out.select(
            "vec_id",
            *[
                F.floor(F.col("pc")[i] * 1e6).cast("long").alias(f"pc{i+1}_e6")
                for i in range(4)
            ],
        )
    q["s_pca"] = s_pca  # oracled: stored numpy golden (independent replication)

    def s_hard_negatives(spark, sf):
        # contrastive-training negative mining (DPR-style): per row the
        # k nearest OTHER-label rows via the shared-IVF kNN join
        from napalm_logs_spark.operators.similarity import hard_negatives

        return hard_negatives(
            _t(spark, sf, "embeddings"), k=5, n_clusters=16, nprobe=2
        )
    q["s_hard_negatives"] = s_hard_negatives  # oracled: stored numpy golden

    def s_classifier(spark, sf):
        # model-based quality/domain gate (FineWeb-Edu/DCLM shape):
        # distributed full-batch softmax regression over the embedding
        # table, fixed-point partitioning-invariant gradient sums
        from napalm_logs_spark.operators.classifier import classifier_filter

        return classifier_filter(
            _t(spark, sf, "embeddings"), k=10, iters=20, lr=5.0
        )
    q["s_classifier"] = s_classifier  # oracled: stored numpy golden

    def s_semdedup(spark, sf):
        # SemDeDup: spherical k-means + within-cluster cosine pruning,
        # deterministic lower-id-wins keeper
        from napalm_logs_spark.operators.similarity import semdedup

        return semdedup(_t(spark, sf, "embeddings"), k=10, threshold=0.35)
    q["s_semdedup"] = s_semdedup  # oracled: stored numpy golden

    def s_ann_join(spark, sf):
        from napalm_logs_spark.operators.similarity import ivf_join_topk

        # C ≈ sqrt(N·nprobe) per the operator's own scale rule (N=2000
        # at sf0.1): per-cluster candidate work stays near-linear
        return ivf_join_topk(
            _t(spark, sf, "embeddings"), dim=64, k=3, n_clusters=32, nprobe=2
        ).withColumn("rank", F.col("rank").cast("long"))
    q["s_ann_join"] = s_ann_join  # oracled: stored numpy golden (deterministic IVF)

    def s_bitext_mine(spark, sf):
        # margin-based bitext mining (Artetxe & Schwenk 2019 — the
        # CCMatrix/LASER parallel-corpus miner): per document, its best
        # other-language match by the ratio margin cos/avg-kNN-cos,
        # which normalizes away hub documents.  Composition of the
        # shared-IVF hard_negatives join (lang = the label) with an
        # all-integer margin chain (ci = round(cos·1e6); one IEEE
        # division of exact integers) so the stored independent
        # replication gates it value-exactly; `mutual` = each other's
        # best = the paper's "intersection" strategy.
        from napalm_logs_spark.operators.similarity import bitext_margin_mine

        emb = _t(spark, sf, "embeddings").select(
            "vec_id",
            "embedding",
            (F.col("vec_id") % 2).cast("int").alias("lang"),
        )
        return bitext_margin_mine(
            emb, k=4, threshold=1.0, n_clusters=32, nprobe=2
        )
    q["s_bitext_mine"] = s_bitext_mine  # oracled: stored numpy golden

    # ---- the CEP engine itself over golden transcripts ----
    def golden_normalize(spark, sf):
        """Normalize the full golden fixture corpus and compare the
        envelopes (sans timestamp) against a golden table derived
        DIRECTLY from the reference's yang.json fixtures — the engine's
        core M2-M9 path as a hard driver-gated check.  Filtered to each
        fixture's own OS (cross-OS RAW explosions are engine extras the
        fixture corpus doesn't speak about)."""
        from napalm_logs_spark.operators.normalize import normalize
        from napalm_logs_spark.sources.transcripts import (
            golden_transcripts_pandas,
            transcripts_df,
        )

        sdf = transcripts_df(spark, golden_transcripts_pandas())
        env = normalize(sdf)
        own_os = F.element_at(F.split(F.col("conv_id"), "#"), 1)
        return env.filter(F.col("os") == own_os).select(
            "conv_id", "os", "error", "host", "ip",
            F.col("facility").cast("long").alias("facility"),
            F.col("severity").cast("long").alias("severity"),
            "yang_model", "yang_message",
        )
    q["golden_normalize"] = golden_normalize  # oracled: fixture-derived golden table

    def c2_alarm_gauge(spark, sf):
        """Alarm gauge families end-to-end: junos SYSTEM/MINOR/MAJOR
        alarm fixtures replayed in fixture order through normalize →
        state_events → last_state_gauge (prometheus.py:458-540
        semantics).  Golden derived from the fixtures' own yang.json."""
        from datetime import timedelta

        import pandas as pd

        from napalm_logs_spark.operators.cep import last_state_gauge, state_events
        from napalm_logs_spark.operators.normalize import normalize
        from napalm_logs_spark.sources.transcripts import (
            BASE_TS,
            golden_cases,
            transcripts_df,
        )

        alarm_errors = {
            "SYSTEM_ALARM", "SYSTEM_ALARM_CLEARED", "MINOR_ALARM_SET",
            "MINOR_ALARM_CLEARED", "MAJOR_ALARM_SET", "MAJOR_ALARM_CLEARED",
        }
        cases = [
            c for c in golden_cases()
            if c["os"] == "junos" and c["error"] in alarm_errors
        ]
        pdf = pd.DataFrame(
            [
                {
                    "conv_id": f"{c['error']}#{c['case']}",
                    "turn_idx": 0,
                    "role": "agent",
                    "text": c["text"],
                    "tool": None,
                    "ts": BASE_TS + timedelta(seconds=i),
                }
                for i, c in enumerate(cases)
            ]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        env = normalize(transcripts_df(spark, pdf))
        return last_state_gauge(state_events(env)).select(
            "host", "family", "entity",
            F.col("state").cast("long").alias("state"),
            "last_error",
            "n_events",
        )
    q["c2_alarm_gauge"] = c2_alarm_gauge  # oracled: fixture-derived gauge golden

    def k6_msgpack(spark, sf):
        """K6 serializer matrix: the reference's default wire format is
        msgpack (serializer/__init__.py:24-45).  The oracle derives the
        exact wire length of each packed envelope from the MessagePack
        spec's encoding rules (fixmap/fixstr/uint tiers/float64) — a
        cross-engine check of the packer's byte layout — and the
        roundtrip flag proves unpack(pack(x)) == x per row."""
        from pyspark.sql.functions import pandas_udf

        from napalm_logs_spark.operators.serialize import packb, unpackb

        @pandas_udf("long")
        def _wire_bytes(e: pd.Series, i: pd.Series, v: pd.Series) -> pd.Series:
            nb = []
            for ev, ei, val in zip(e, i, v):
                obj = {"e": ev, "i": int(ei), "v": float(val)}
                b = packb(obj, sort_keys=True)
                # a failed roundtrip poisons the value (and the hash)
                nb.append(len(b) if unpackb(b) == obj else -len(b))
            return pd.Series(nb)

        ev = _t(spark, sf, "events").filter(
            F.col("event_type").isNotNull() & F.col("value").isNotNull()
        )
        return ev.select(
            "event_id",
            _wire_bytes(
                F.col("event_type"), F.col("event_id"), F.col("value")
            ).alias("wire_bytes"),
        )
    q["k6_msgpack"] = k6_msgpack

    def m4_timestamps(spark, sf):
        """M4 breadth: render each event's ts into a rotating set of
        locale-month / tz-abbreviation / ISO shapes (the dateparser
        territory of reference device.py:217-224) and resolve them back
        through the engine's real fallback parser; the oracle is simply
        epoch(ts) — any wrong-month table entry, tz offset, or parse
        regression breaks the hash."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        de = ["Januar", "Februar", "März", "April", "Mai", "Juni", "Juli",
              "August", "September", "Oktober", "November", "Dezember"]
        fr = ["janvier", "février", "mars", "avril", "mai", "juin",
              "juillet", "août", "septembre", "octobre", "novembre",
              "décembre"]
        mon_de = F.element_at(F.array(*[F.lit(x) for x in de]), F.month("ts"))
        mon_fr = F.element_at(F.array(*[F.lit(x) for x in fr]), F.month("ts"))
        hms = F.date_format("ts", "HH:mm:ss")
        shapes = F.array(
            F.concat_ws(" ", F.date_format("ts", "dd."), mon_de,
                        F.date_format("ts", "yyyy"), hms),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            F.date_format("ts", "MMM dd yyyy HH:mm:ss"),
            F.concat_ws(" ", F.date_format("ts", "dd"), mon_fr,
                        F.date_format("ts", "yyyy"), hms),
            F.concat(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
                     F.lit(" UTC")),
        )
        rendered = F.element_at(
            shapes, (F.pmod(F.col("event_id"), F.lit(5)) + 1).cast("int")
        )

        @pandas_udf("long")
        def _resolve(s: pd.Series) -> pd.Series:
            from napalm_logs_spark.operators.normalize import _resolve_epoch

            return s.map(lambda x: _resolve_epoch(x, "", None, 2017))

        return (
            _t(spark, sf, "events")
            .select("event_id", _resolve(rendered).alias("epoch_utc"))
        )
    q["m4_timestamps"] = m4_timestamps

    def k5_prom_expo(spark, sf):
        """K5 Prometheus exposition (reference transport/prometheus.py):
        the REAL render path (escaping, label layout, integral-value
        canonicalization) over a counters analog the oracle can rebuild
        with plain SQL string concatenation."""
        from napalm_logs_spark.streaming.prometheus import render_lines

        ev = _t(spark, sf, "events").filter(F.col("event_type").isNotNull())
        metrics = ev.groupBy(
            F.concat(F.lit("napalm_logs_"), F.lower("event_type")).alias("metric"),
            F.concat(F.lit("host-"), F.pmod(F.col("user_id"), F.lit(50)).cast("string")).alias("host"),
        ).agg(F.count(F.lit(1)).cast("double").alias("value"))
        metrics = metrics.withColumn("entity", F.lit(None).cast("string"))
        return render_lines(metrics, "counter").select("metric", "kind", "line")
    q["k5_prom_expo"] = k5_prom_expo

    def c14_session_window(spark, sf):
        """The genuine Spark session-window operator (F.session_window,
        gap-merged state — the streaming form the north rule names),
        vs c7_sessions' lag-based relational form.  New session when
        the event-time gap >= 600 s."""
        ev = _t(spark, sf, "events")
        return (
            ev.groupBy(
                F.session_window("ts", "600 seconds").alias("sw"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                _epoch(F.col("sw.start")).cast("long").alias("session_start"),
                "n_events",
            )
        )
    q["c14_session_window"] = c14_session_window

    # ---- conversation-level transcript analytics (cv_*) ----
    # The engine's native payload is the transcript table (BASELINE
    # input_hint); these are the corpus-analytics rollups above the
    # per-turn normalize/CEP path (operators/convstats.py).  Each query
    # derives the transcript view from events via the pure-SQL mapping
    # transcripts_from_events so the DuckDB oracle replays it verbatim.

    def cv_stats(spark, sf):
        from napalm_logs_spark.operators.convstats import (
            conversation_stats, transcripts_from_events,
        )
        return conversation_stats(transcripts_from_events(_t(spark, sf, "events")))
    q["cv_stats"] = cv_stats

    def cv_fingerprints(spark, sf):
        from napalm_logs_spark.operators.convstats import (
            conversation_fingerprints, transcripts_from_events,
        )
        return conversation_fingerprints(
            transcripts_from_events(_t(spark, sf, "events"))
        )
    q["cv_fingerprints"] = cv_fingerprints

    def cv_tool_chains(spark, sf):
        from napalm_logs_spark.operators.convstats import (
            tool_chains, transcripts_from_events,
        )
        return tool_chains(transcripts_from_events(_t(spark, sf, "events")))
    q["cv_tool_chains"] = cv_tool_chains

    def cv_role_transitions(spark, sf):
        from napalm_logs_spark.operators.convstats import (
            role_transitions, transcripts_from_events,
        )
        return role_transitions(transcripts_from_events(_t(spark, sf, "events")))
    q["cv_role_transitions"] = cv_role_transitions

    def cv_latency(spark, sf):
        from napalm_logs_spark.operators.convstats import (
            transcripts_from_events, turn_latency_stats,
        )
        return turn_latency_stats(transcripts_from_events(_t(spark, sf, "events")))
    q["cv_latency"] = cv_latency

    def cv_sft_spans(spark, sf):
        from napalm_logs_spark.operators.convstats import transcripts_from_events
        from napalm_logs_spark.operators.sft import sft_spans
        return sft_spans(transcripts_from_events(_t(spark, sf, "events")))
    q["cv_sft_spans"] = cv_sft_spans

    def cv_sft_render(spark, sf):
        from napalm_logs_spark.operators.convstats import transcripts_from_events
        from napalm_logs_spark.operators.sft import sft_render
        return sft_render(transcripts_from_events(_t(spark, sf, "events")))
    q["cv_sft_render"] = cv_sft_render

    def cv_pref_pairs(spark, sf):
        # DPO preference-pair construction: prompts keyed by the
        # event_type token sequence of the pre-agent prefix (the
        # normalized-prompt hook — volatile props stripped so
        # semantically-equal prompts collide), score = agent response
        # mass (total chars over agent turns).
        from napalm_logs_spark.operators.convstats import transcripts_from_events
        from napalm_logs_spark.operators.sft import preference_pairs

        t = transcripts_from_events(_t(spark, sf, "events")).withColumn(
            "ptext", F.split(F.col("text"), " ")[0]
        )
        scores = (
            t.filter(F.col("role") == "agent")
            .groupBy("conv_id")
            .agg(F.sum(F.length("text")).cast("double").alias("score"))
        )
        return preference_pairs(t, scores, prompt_text_col="ptext")
    q["cv_pref_pairs"] = cv_pref_pairs

    def cv_best_of_n(spark, sf):
        # rejection sampling / Best-of-N (WebGPT, Llama-2 §3.2.2): the
        # OTHER standard RLHF write-side — per shared prompt keep the
        # top-scoring conversation (BoN winners = an SFT distillation
        # corpus), with n_candidates and winner-vs-runner-up score_gap
        # as selection-quality signals.  Same prompt fingerprint and
        # single prompt_fp exchange as cv_pref_pairs.
        from napalm_logs_spark.operators.convstats import transcripts_from_events
        from napalm_logs_spark.operators.sft import best_of_n

        t = transcripts_from_events(_t(spark, sf, "events")).withColumn(
            "ptext", F.split(F.col("text"), " ")[0]
        )
        scores = (
            t.filter(F.col("role") == "agent")
            .groupBy("conv_id")
            .agg(F.sum(F.length("text")).cast("double").alias("score"))
        )
        return best_of_n(t, scores, prompt_text_col="ptext", min_candidates=2)
    q["cv_best_of_n"] = cv_best_of_n

    def cv_prefix_share(spark, sf):
        # Rollout prefix-trie sharing (operators/convstats.py
        # prefix_sharing): per prompt group the exact prefix-cache /
        # storage-dedup planning stats — trie vs naive chars and the
        # group LCP depth.  Rollout groups synthesize deterministically
        # from events: conv = event_id div 8 (8 turns), prompt group =
        # conv div 4 (4 rollouts), turns up to depth (group % 3)+2 are
        # group-shared text, deeper turns diverge per rollout; the
        # oracle replays the running-prefix md5 as a windowed
        # string_agg.
        from napalm_logs_spark.operators.convstats import prefix_sharing

        ev = _t(spark, sf, "events").select(
            F.expr("event_id div 8").alias("conv"),
            (F.col("event_id") % 8).alias("tix"),
        )
        t = ev.select(
            F.concat(F.lit("c"), F.col("conv").cast("string")).alias("conv_id"),
            F.col("tix").cast("int").alias("turn_idx"),
            F.when(
                F.col("tix") <= F.expr("(conv div 4) % 3") + 1,
                F.concat_ws(
                    ":",
                    F.lit("p"),
                    F.expr("conv div 4").cast("string"),
                    F.col("tix").cast("string"),
                ),
            )
            .otherwise(
                F.concat_ws(
                    ":",
                    F.lit("c"),
                    F.col("conv").cast("string"),
                    F.col("tix").cast("string"),
                )
            )
            .alias("text"),
        )
        return prefix_sharing(t)
    q["cv_prefix_share"] = cv_prefix_share

    def cv_truncate(spark, sf):
        from napalm_logs_spark.operators.convstats import transcripts_from_events
        from napalm_logs_spark.operators.sft import truncate_to_budget

        return truncate_to_budget(
            transcripts_from_events(_t(spark, sf, "events")), budget_tokens=64
        )
    q["cv_truncate"] = cv_truncate

    def cv_neardup(spark, sf):
        # conversation-level near-dedup: the SFT dedup stage a
        # transcript corpus runs before training — render each
        # conversation to its sample text, then MinHash+LSH near-dup
        # pairs over the rendered documents (composition of the two
        # driver-gated operators; one new plan, no new code path)
        from napalm_logs_spark.operators.convstats import transcripts_from_events
        from napalm_logs_spark.operators.docdedup import minhash_lsh_pairs
        from napalm_logs_spark.operators.sft import sft_render

        rendered = sft_render(
            transcripts_from_events(_t(spark, sf, "events"))
        ).select(
            F.col("conv_id").alias("doc_id"), F.col("sample_text").alias("text")
        )
        return minhash_lsh_pairs(
            rendered, num_hashes=32, bands=8, n=3, threshold=0.1
        )
    q["cv_neardup"] = cv_neardup

    def cv_loop_detect(spark, sf):
        # agent-loop detection over the transcript view: the loop key
        # is the event_type token (props vary per event, so raw-text
        # runs never form — the key is the "normalized call" an agent
        # retry loop repeats, same normalization hook cv_pref_pairs
        # uses for its prompt fingerprint)
        from napalm_logs_spark.operators.convstats import (
            agent_loop_detect, transcripts_from_events,
        )
        t = transcripts_from_events(_t(spark, sf, "events"))
        return agent_loop_detect(
            t, min_run=3, key=F.split(F.col("text"), " ")[0]
        )
    q["cv_loop_detect"] = cv_loop_detect

    def cv_role_violations(spark, sf):
        from napalm_logs_spark.operators.convstats import (
            role_violations, transcripts_from_events,
        )
        return role_violations(transcripts_from_events(_t(spark, sf, "events")))
    q["cv_role_violations"] = cv_role_violations

    def d_bloom_incremental(spark, sf):
        # incremental-crawl dedup (operators/sketch.py): new batch vs
        # history WITHOUT joining history for definite-new rows — the
        # Bloom position table broadcasts, only candidates pay the
        # verify semi-join.  Key = (lang, source, n_chars%50) so true
        # cross-split dups exist (~15 rows); m=1024 is deliberately
        # tight so the false-positive path is exercised in the output
        # (bloom_candidate=true, is_dup=false rows) — both branches of
        # the verify land in the oracle compare.
        from napalm_logs_spark.operators.sketch import incremental_dedup_bloom

        docs = _t(spark, sf, "documents")
        keyed = docs.select(
            "doc_id",
            F.concat_ws(
                "/",
                F.col("lang"),
                F.col("source"),
                (F.col("n_chars") % 50).cast("string"),
            ).alias("key"),
        )
        return incremental_dedup_bloom(
            keyed.filter(F.col("doc_id") >= 250),
            keyed.filter(F.col("doc_id") < 250),
            k=5,
            m=1024,
        )
    q["d_bloom_incremental"] = d_bloom_incremental

    def d_memorization(spark, sf):
        # Verbatim-memorization probe (operators/docdedup.py
        # memorization_spans): per generated sample the LONGEST
        # consecutive run of corpus-matched word 4-grams — the
        # Carlini-style extraction signal bag-overlap misses.  Samples
        # derive from documents three ways: verbatim copies (long
        # runs), novel token soup (zero hits), and two spliced 60-char
        # document slices around an injected token (runs broken at the
        # splice); corpus = the documents table itself.
        from napalm_logs_spark.operators.docdedup import memorization_spans

        docs = _t(spark, sf, "documents")
        c = F.col("doc_id").cast("string")
        samples = docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 3 == 0, F.col("text"))
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(
                    F.lit("q"), c, F.lit(" w"), c, F.lit(" e"), c,
                    F.lit(" r"), c, F.lit(" t"), c,
                ),
            )
            .otherwise(
                F.concat(
                    F.substring("text", 1, 60),
                    F.lit(" qq"), c, F.lit(" "),
                    F.substring("text", 61, 60),
                )
            )
            .alias("text"),
        )
        return memorization_spans(samples, docs, n=4, min_run=3)
    q["d_memorization"] = d_memorization

    def d_hll_distinct(spark, sf):
        # HyperLogLog register sketch (operators/sketch.py) — completes
        # the fixed-size-summary trio (Count-Min freq / Bloom member /
        # HLL distinct): distinct event ids per event family from a
        # 256-register table that never grows, the dedup-health gauge a
        # 10^12-turn stream keeps instead of an exact per-key table.
        # All-integer registers (string-length bit_length, BIGINT
        # shifts) + one shared-literal division make the estimate
        # exactly replayable in the oracle — same portable md5
        # convention as q_sketch_cms / d_bloom_incremental.
        from napalm_logs_spark.operators.sketch import hll_vs_exact

        return hll_vs_exact(
            _t(spark, sf, "events"), "event_id", ("event_type",), p=8
        )
    q["d_hll_distinct"] = d_hll_distinct

    def d_corpus_overlap(spark, sf):
        # corpus-overlap estimation from MERGEABLE HLL sketches
        # (operators/sketch.py hll_overlap): two "crawls" (subsets of
        # documents keyed by content digest) each reduce to a 256-row
        # register table; the union registers come from a MAX merge of
        # the two tables — the corpora are never joined or co-read —
        # and |A∩B| falls out by inclusion-exclusion.  The go/no-go
        # gauge a pipeline reads BEFORE paying for a cross-corpus
        # MinHash dedup.  All-integer register sums (the s_* hash-gate
        # columns) + fixed-order divisions by the shared alpha literal
        # make the estimates exactly SQL-replayable.
        from napalm_logs_spark.operators.sketch import hll_overlap

        docs = _t(spark, sf, "documents")
        key = F.md5(F.col("text")).alias("key")
        crawl_a = docs.filter(F.col("doc_id") % 3 != 0).select(key)
        crawl_b = docs.filter(F.col("doc_id") % 2 == 0).select(key)
        return hll_overlap(crawl_a, crawl_b, "key", p=8)
    q["d_corpus_overlap"] = d_corpus_overlap

    def q_cdc_apply(spark, sf):
        # CDC changelog apply (operators/scd.cdc_apply): latest-wins
        # upserts + equality deletes — the merge-on-read half of an
        # Iceberg/Delta MERGE INTO, as ONE window shuffle on the key
        # (row_number and the n_versions count share the partitioning).
        # The changelog is derived deterministically from events: ~997
        # keys × ~10 versions each, every 10th event a delete.
        from napalm_logs_spark.operators.scd import cdc_apply

        log = _t(spark, sf, "events").select(
            (F.col("event_id") % 997).cast("long").alias("key"),
            F.when(F.col("event_id") % 10 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            "value",
            "ts",
            "event_id",
        )
        return cdc_apply(log, ("key",), ("ts", "event_id")).select(
            "key", "value", "ts", "event_id", "n_versions"
        )
    q["q_cdc_apply"] = q_cdc_apply

    def cv_pii_scrub(spark, sf):
        # per-turn PII redaction over the transcript view — the scrub
        # every SFT corpus runs before render/training (composition of
        # the driver-gated pii_scrub with transcripts_from_events; one
        # new plan, no new code path).  The synthetic turns carry no
        # PII, so a deterministic contact block is planted per
        # (conv, turn) — replayed verbatim in the oracle.
        from napalm_logs_spark.operators.convstats import transcripts_from_events
        from napalm_logs_spark.operators.text import pii_scrub

        t = transcripts_from_events(_t(spark, sf, "events"))
        ti = F.col("turn_idx").cast("string")
        planted = F.concat_ws(
            " ",
            F.col("text"),
            F.lit("mail"),
            F.concat(F.lit("u"), ti, F.lit("@example.com")),
            F.lit("ip"),
            F.concat(F.lit("10."), (F.col("turn_idx") % 256).cast("string"), F.lit(".0.1")),
            F.lit("tel"),
            F.concat(F.lit("+1 555 "), F.lpad((F.col("turn_idx") % 10000).cast("string"), 4, "0")),
            F.lit("sid"),
            F.concat(F.lit("9"), F.lpad(((F.col("turn_idx") * 13) % 1000000).cast("string"), 9, "0")),
        )
        return pii_scrub(
            t.withColumn("pii_text", planted), text_col="pii_text"
        ).select(
            "conv_id", "turn_idx", "n_email", "n_ipv4", "n_phone", "n_id",
            "redacted",
        )
    q["cv_pii_scrub"] = cv_pii_scrub

    def g_pagerank(spark, sf):
        # link-graph centrality (operators/graph.py): exact fixed-point
        # PageRank, 10 iterations over a deterministic synthetic link
        # graph on the documents ids (dense 0..N-1 — synth_link_graph's
        # arithmetic replays verbatim in the oracle's edge CTE, and the
        # all-integer recurrence makes the iterative result an exact
        # value-match, oracle unrolled as chained CTEs).  Dangling
        # nodes (every 7th doc) exercise the redistribution path.
        from napalm_logs_spark.operators.graph import pagerank, synth_link_graph

        docs = _t(spark, sf, "documents").select("doc_id")
        n = docs.count()
        return pagerank(
            synth_link_graph(docs, n),
            nodes=docs.select(F.col("doc_id").alias("node")),
            iterations=10,
        )
    q["g_pagerank"] = g_pagerank

    def g_triangles(spark, sf):
        # exact triangle counts + local clustering coefficient
        # (operators/graph.py triangle_counts): degree-oriented wedge
        # join (Suri & Vassilvitskii 2011) over the synthetic link
        # graph plus a planted triangle strip on every 5th doc (the
        # bare synth graph is triangle-free; the strip makes the gate
        # non-trivial and the union exercises dedup of reversed /
        # duplicate edges).  All-integer counts + one IEEE division
        # for lcc = exact value-match oracle.
        from napalm_logs_spark.operators.graph import (
            synth_link_graph,
            triangle_counts,
        )

        docs = _t(spark, sf, "documents").select("doc_id")
        n = docs.count()
        i = F.col("doc_id").cast("long")
        planted = (
            docs.filter(i % 5 == 0)
            .select(
                F.explode(
                    F.array(
                        F.struct(i.alias("src"), ((i + 1) % n).alias("dst")),
                        F.struct(
                            ((i + 1) % n).alias("src"),
                            ((i + 2) % n).alias("dst"),
                        ),
                        F.struct(i.alias("src"), ((i + 2) % n).alias("dst")),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
        )
        return triangle_counts(synth_link_graph(docs, n).unionAll(planted))
    q["g_triangles"] = g_triangles

    def r_bt_arena(spark, sf):
        # Bradley–Terry arena ranking (operators/ranking.py
        # bt_ratings): the Chatbot-Arena estimator — pairwise model
        # battles -> per-model strength via Hunter-2004 MM, 8
        # iterations in exact fixed-point integers (oracle unrolls the
        # recurrence as chained CTEs — a value-match gate on an
        # iterative MLE).  Battles synthesize deterministically from
        # events: models a = event_id % 8 and b = (event_id div 8) % 8
        # fight once per row; the md5 coin makes a win with probability
        # ~ (a+1)/(a+b+2), i.e. true strength m+1 — the fit must
        # recover that ordering, and does.
        from napalm_logs_spark.operators.ranking import bt_ratings

        ev = _t(spark, sf, "events").select("event_id")
        battles = (
            ev.select(
                (F.col("event_id") % 8).alias("a"),
                F.expr("(event_id div 8) % 8").alias("b"),
                F.expr(
                    "CAST(conv(substring(md5(concat('bt:', "
                    "CAST(event_id AS STRING))), 1, 6), 16, 10) AS BIGINT)"
                ).alias("coin"),
            )
            .filter(F.col("a") != F.col("b"))
        )
        a_wins = F.col("coin") % (F.col("a") + F.col("b") + 2) < F.col("a") + 1
        outcomes = battles.select(
            F.when(a_wins, F.col("a")).otherwise(F.col("b")).alias("winner"),
            F.when(a_wins, F.col("b")).otherwise(F.col("a")).alias("loser"),
        )
        return bt_ratings(outcomes, iterations=8)
    q["r_bt_arena"] = r_bt_arena

    def r_grpo_adv(spark, sf):
        # GRPO / RLOO group advantages (operators/ranking.py
        # group_advantages): per-prompt rollout groups standardize the
        # reward against the group itself — the policy-gradient signal
        # of Shao et al. 2024 (GRPO) / Ahmadian et al. 2024 (RLOO).
        # Rollouts synthesize deterministically from events: prompt =
        # event_id div 8 (G=8 per group, the sampler shape), integer
        # reward = floor(value*100).  Exact integer statistics ride ONE
        # window shuffle; the float advantages are single IEEE chains
        # floored to 1e-6 fixed point for the cross-engine compare.
        from napalm_logs_spark.operators.ranking import group_advantages

        ev = _t(spark, sf, "events").select(
            F.expr("event_id div 8").alias("prompt_id"),
            F.col("event_id").alias("rollout_id"),
            F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("reward"),
        )
        adv = group_advantages(ev)
        return adv.select(
            "prompt_id",
            "rollout_id",
            "reward",
            "n",
            "adv_num",
            "var_num",
            F.floor(F.col("grpo_adv") * F.lit(1e6)).cast("long").alias("grpo_adv_fp"),
            F.floor(F.col("rloo_adv") * F.lit(1e6)).cast("long").alias("rloo_adv_fp"),
            "degenerate",
        )
    q["r_grpo_adv"] = r_grpo_adv

    def r_reward_len_bias(spark, sf):
        # Reward↔length bias (operators/ranking.py reward_length_bias):
        # the length-hacking gauge — within-group Pearson correlation
        # between completion length and reward from exact integer sums;
        # denominator as sqrt(denx)·sqrt(deny) because denx·deny
        # overflows int64.  Rollouts synthesize from events: groups of
        # 64, length = chars of props, reward = floor(value*100) with a
        # planted length term (reward + n_chars) on even groups so the
        # gauge has signal to find.
        from napalm_logs_spark.operators.ranking import reward_length_bias

        ev = _t(spark, sf, "events").select(
            F.expr("event_id div 64").alias("prompt_id"),
            F.length("props").cast("long").alias("n_chars"),
            F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("r0"),
        )
        ro = ev.select(
            "prompt_id",
            "n_chars",
            F.when(
                F.col("prompt_id") % 2 == 0,
                F.col("r0") + F.col("n_chars") * 20
            ).otherwise(F.col("r0")).alias("reward"),
        )
        out = reward_length_bias(ro)
        return out.select(
            "prompt_id",
            "n",
            "num",
            "denx",
            "deny",
            F.floor(F.col("pearson_r") * F.lit(1e6)).cast("long").alias(
                "pearson_fp"
            ),
        )
    q["r_reward_len_bias"] = r_reward_len_bias

    def r_fleiss_kappa(spark, sf):
        # Fleiss' kappa (operators/ranking.py fleiss_kappa): the
        # inter-annotator-agreement QA gate run before preference
        # labels train a reward model.  Ratings synthesize from
        # events: item = event_id div 3 (3 raters; the final partial
        # item exercises the drop path), category from the integer
        # reward mod 4.  Exact integer sufficient statistics; po/pe/
        # kappa are the pinned division chain floored to 1e-6.
        from napalm_logs_spark.operators.ranking import fleiss_kappa

        ev = _t(spark, sf, "events").select(
            F.expr("event_id div 3").alias("item_id"),
            F.concat(
                F.lit("c"),
                (F.floor(F.col("value") * F.lit(100.0)).cast("long") % 4).cast(
                    "string"
                ),
            ).alias("category"),
        )
        out = fleiss_kappa(ev, raters=3)
        return out.select(
            "n_items",
            "n_raters",
            "n_categories",
            "n_items_dropped",
            "po_num",
            "po_den",
            "s",
            "nn2",
            F.floor(F.col("po") * F.lit(1e6)).cast("long").alias("po_fp"),
            F.floor(F.col("pe") * F.lit(1e6)).cast("long").alias("pe_fp"),
            F.floor(F.col("kappa") * F.lit(1e6)).cast("long").alias("kappa_fp"),
        )
    q["r_fleiss_kappa"] = r_fleiss_kappa

    def cv_boilerplate(spark, sf):
        # Boilerplate-turn detection (operators/convstats.py
        # boilerplate_turns): turns whose normalized text recurs in
        # >= min_df DISTINCT conversations — d_segment_dedup at turn
        # granularity, the canned-acknowledgement filter an assistant
        # corpus runs before SFT.  Boilerplate is planted by replacing
        # props with 'ack' on every 5th event (so each event_type forms
        # one hot template), identically in the oracle.
        from napalm_logs_spark.operators.convstats import (
            boilerplate_turns,
            transcripts_from_events,
        )

        ev = _t(spark, sf, "events").withColumn(
            "props",
            F.when(F.col("event_id") % 5 == 0, F.lit("ack")).otherwise(
                F.col("props")
            ),
        )
        out = boilerplate_turns(transcripts_from_events(ev), min_df=3)
        return out.select(
            "conv_id", "turn_idx", "role", "text", "turn_df", "is_boilerplate"
        )
    q["cv_boilerplate"] = cv_boilerplate

    def t_priority_sample(spark, sf):
        # Priority sampling (operators/text.py priority_sample,
        # Duffield-Lund-Thorup 2007): the fixed-size weight-proportional
        # corpus sample with Horvitz-Thompson estimation weights — all
        # integer (md5-uniform, BIGINT shift + floor-div), so the oracle
        # value-matches the top-k AND the tau-capped est_weight exactly.
        # Weight = n_chars (document length as the quality proxy).
        from napalm_logs_spark.operators.text import priority_sample

        docs = _t(spark, sf, "documents").select(
            "doc_id", F.col("n_chars").alias("weight")
        )
        return priority_sample(docs, 200, weight_col="weight", id_col="doc_id")
    q["t_priority_sample"] = t_priority_sample

    def t_bm25(spark, sf):
        # BM25 lexical retrieval (operators/text.py bm25_topk): the
        # lexical baseline next to the dense ANN family — queries are
        # the first 4 tokens of every 97th document (deterministic,
        # replayed verbatim in the oracle), scored against the whole
        # corpus with Lucene-form idf and floor-fixed-point per-term
        # quantization so the score sum is an exact integer.
        from napalm_logs_spark.operators.text import bm25_topk

        docs = _t(spark, sf, "documents").select("doc_id", "text")
        qs = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(
                F.slice(F.split(F.trim(F.lower("text")), r"\s+"), 1, 4), " "
            ).alias("qtext"),
        )
        return bm25_topk(docs, qs, k=10)
    q["t_bm25"] = t_bm25

    def t_bleu_stats(spark, sf):
        # BLEU sufficient statistics (operators/text.py
        # ngram_overlap_stats): each document scored against its
        # successor (doc (i+1) % n — deterministic pairing, replayed
        # as a self-join in the oracle); clipped n-gram matches and
        # totals for n=1..4 are exact integers, the distributed form
        # of corpus BLEU (Papineni et al. 2002).
        from napalm_logs_spark.operators.text import ngram_overlap_stats

        docs = _t(spark, sf, "documents").select("doc_id", "text")
        n = docs.count()
        pairs = (
            docs.alias("a")
            .join(
                docs.select(
                    F.col("doc_id").alias("_rid"), F.col("text").alias("ref")
                ).alias("b"),
                (F.col("a.doc_id") + 1) % n == F.col("_rid"),
            )
            .select(F.col("a.doc_id"), F.col("a.text").alias("cand"), "ref")
        )
        return ngram_overlap_stats(pairs)
    q["t_bleu_stats"] = t_bleu_stats

    def t_chi2_drift(spark, sf):
        # chi-square drift monitor (operators/text.py chi2_drift):
        # language distribution compared between two deterministic
        # corpus snapshots (doc_id parity — the replayable analog of
        # consecutive crawl refreshes).  Exact-integer marginals + a
        # fixed IEEE chain for e/contrib = value-match oracle.
        from napalm_logs_spark.operators.text import chi2_drift

        docs = _t(spark, sf, "documents").select(
            "lang",
            F.when(F.col("doc_id") % 2 == 0, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("snap"),
        )
        return chi2_drift(docs, "lang", "snap")
    q["t_chi2_drift"] = t_chi2_drift

    def t_doremi(spark, sf):
        # DoReMi-style domain reweighting (operators/text.py
        # doremi_weights): exact multiplicative-weights iteration over
        # per-domain mean losses — losses synthesized deterministically
        # per doc (replayed verbatim in the oracle), 8 steps unrolled
        # as CTEs on the oracle side, 128-bit normalization.
        from napalm_logs_spark.operators.text import doremi_weights

        docs = _t(spark, sf, "documents").select(
            F.col("source").alias("domain"),
            (
                (F.col("doc_id") * 7919 + F.col("n_chars") * 131) % 1000001
            ).cast("long").alias("loss_fp"),
        )
        return doremi_weights(docs, steps=8)
    q["t_doremi"] = t_doremi

    def e_hist_quantiles(spark, sf):
        # mergeable fixed-bin histogram quantiles (operators/sketch.py
        # histogram_bins/histogram_quantiles): event values in exact
        # centi-units, 5-unit bins, p50/p90/p99 as the first bin
        # reaching ceil(q·N/100) — all-integer, exact oracle.
        from napalm_logs_spark.operators.sketch import histogram_quantiles

        ev = _t(spark, sf, "events").select(
            F.expr("CAST(rint(value * 100) AS BIGINT)").alias("v_fp")
        )
        return histogram_quantiles(ev, "v_fp", bin_width=500, qs=(50, 90, 99))
    q["e_hist_quantiles"] = e_hist_quantiles

    def t_doremi_apply(spark, sf):
        # the mixture EXECUTED (operators/text.py sample_to_quota):
        # doremi_weights' averaged mixture becomes per-domain quotas
        # (quota = (N · w_bar) div scale) and the corpus is sampled to
        # them with the deterministic (md5(id), id) order via the
        # salted two-phase top-k — the FineWeb-style resample stage.
        # Oracle replays the full composition: unrolled MW CTEs →
        # quota arithmetic → per-domain rank semantics.
        from napalm_logs_spark.operators.text import (
            doremi_weights,
            sample_to_quota,
        )

        docs = _t(spark, sf, "documents")
        per_doc = docs.select(
            F.col("source").alias("domain"),
            (
                (F.col("doc_id") * 7919 + F.col("n_chars") * 131) % 1000001
            ).cast("long").alias("loss_fp"),
        )
        n = docs.count()
        quotas = doremi_weights(per_doc, steps=8).select(
            "domain",
            F.expr(f"({n}L * w_bar) div 1000000000000L").alias("quota"),
        )
        return sample_to_quota(
            docs.select("doc_id", F.col("source").alias("domain")), quotas
        )
    q["t_doremi_apply"] = t_doremi_apply

    def _mutated_corpus(spark, sf):
        """documents plus deterministic 1-edit mutations — the planted
        near-dup corpus for the character-level dedup queries (same
        construction in the oracles, verbatim): doc_id%5==0 gets a
        substitution at position 11 (id + 1e6), doc_id%7==0 a deletion
        at position 21 (id + 2e6)."""
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        sub = docs.filter(
            (F.col("doc_id") % 5 == 0) & (F.length("text") > 15)
        ).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                F.expr("substr(text, 1, 10)"), F.lit("X"),
                F.expr("substr(text, 12)"),
            ).alias("text"),
        )
        dele = docs.filter(
            (F.col("doc_id") % 7 == 0) & (F.length("text") > 25)
        ).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(
                F.expr("substr(text, 1, 20)"), F.expr("substr(text, 22)")
            ).alias("text"),
        )
        return docs.unionByName(sub).unionByName(dele)

    def d_editdist(spark, sf):
        # exact edit-distance near-dup (Ed-Join: q-gram count filter +
        # rarest-prefix join + levenshtein(threshold) verify) over the
        # planted-mutation corpus.  The oracle is a brute-force
        # levenshtein self-join (length-filtered), so the driver row
        # independently checks candidate COMPLETENESS, not a replay of
        # the prefix-filter logic.
        from napalm_logs_spark.operators.docdedup import editdist_near_pairs

        # even doc_ids only (mutated ids keep base parity): the oracle
        # is an O(n^2 · len^2) brute-force DP — half the corpus keeps
        # the driver-row cost ~15 s while still covering both planted
        # mutation classes
        corpus = _mutated_corpus(spark, sf).filter(F.col("doc_id") % 2 == 0)
        return editdist_near_pairs(corpus, k=2, q=3)
    q["d_editdist"] = d_editdist

    def cv_refusals(spark, sf):
        # refusal/deflection screen over agent turns — the over-refusal
        # curation gate.  Synthetic turns carry no refusals, so
        # deterministic deflection phrases are planted on a subset of
        # agent turns (replayed verbatim in the oracle), same pattern
        # as cv_pii_scrub's planted contact blocks.
        from napalm_logs_spark.operators.convstats import (
            refusal_gate, transcripts_from_events,
        )

        t = transcripts_from_events(_t(spark, sf, "events"))
        sel = (F.col("turn_idx") * 31 + F.length("text")) % 13
        planted = F.when(
            (F.col("role") == "agent") & (sel < 2),
            F.concat(F.col("text"), F.lit(" I cannot help with that.")),
        ).when(
            (F.col("role") == "agent") & (sel < 4),
            F.concat(F.col("text"), F.lit(" As an AI, here is a summary.")),
        ).otherwise(F.col("text"))
        return refusal_gate(t.withColumn("text", planted))
    q["cv_refusals"] = cv_refusals

    return _priority_order(q)


# HTML scaffold for t_html_extract — shared between the Spark concat
# and the oracle's || chain (no single quotes: the pieces embed
# directly in SQL literals)
_HTML_PRE = "<html><head><title>Doc "
_HTML_MID = (
    '</title><style type="text/css">p { color: #333; }</style>'
    '<script>if (1 < 2) { x = "</p>"; }</script></head><body>'
    "<!-- banner --><h1>Doc "
)
_HTML_MID2 = "</h1><p>"
_HTML_POST = (
    '</p><br/><div class="foot">&copy; 2024 Example &amp; Co'
    " &mdash;&nbsp;fin</div></body></html>"
)

_PRIORITY_50 = [
    # Rotation policy: the driver checks the FIRST 50 queries() entries
    # per round, so the window holds the 50 queries whose last green
    # driver row is OLDEST.  Derived mechanically from CORRECTNESS_r01..
    # r05 (every registry query has at least one green row by r05):
    # 6 queries last green in r01 and 44 last green in r02 fill it
    # exactly; every query last confirmed in r03-r05 waits behind.
    # tests/test_rotation_policy.py recomputes the last-green round of
    # each query from exactly those five committed files (pinned, so a
    # later driver-produced round file cannot flip the invariant) and
    # asserts no query outside the window was confirmed before one in it.
    #
    # --- last green in r01 ---
    "s_embedding_norms", "t_fingerprint", "t_langid", "t_quality",
    "t_tokens", "t_winnow",
    # --- last green in r02 ---
    "a1_dedup_gap", "c10_orphans", "c11_window_topk",
    "c13_cohort_retention", "c1_transitions", "c2_state_gauge",
    "c3_tumbling_counts", "c5_flaps", "c6_interval_join", "c9_sequence",
    "k6_serialize", "p1_nonempty_filter", "p2_profile_extract",
    "p4_pri_split", "p5_whitelist", "p6_sink_filters",
    "q10_returned_items", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_cnt", "q18_large_orders", "q19_disjunctive",
    "q22_idle_customers", "q2_min_cost_supplier", "q3_top_orders",
    "q4_order_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "q_cube_counts", "q_gapfill_ffill",
    "q_percentiles", "q_pivot", "q_rollup_counts", "q_set_ops",
    "q_sketch_distinct", "q_sketch_quantiles", "q_topk_per_group",
    "q_unpivot_measures", "q_window_range_7d", "q_window_running",
    "q_zorder_key",
]


def _priority_order(d: dict) -> dict:
    out = {k: d[k] for k in _PRIORITY_50 if k in d}
    out.update({k: v for k, v in d.items() if k not in out})
    return out


# ---------------------------------------------------------------------------
# oracles


def oracle_sql() -> dict[str, str]:
    en, de, fr, es = map(_sql_list, (EN_SW, DE_SW, FR_SW, ES_SW))
    o: dict[str, str] = {}

    o["p1_nonempty_filter"] = """
        SELECT event_id, event_type, value FROM events
        WHERE event_type IS NOT NULL AND value > 0
    """

    o["p2_profile_extract"] = r"""
        SELECT event_id,
               TRY_CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS INTEGER) AS k_val
        FROM events
    """

    o["p4_pri_split"] = r"""
        WITH k AS (
          SELECT event_id,
                 TRY_CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS INTEGER) AS k_val
          FROM events
        )
        SELECT event_id,
               CAST(floor(k_val / 8) AS INTEGER) AS facility,
               CAST(k_val % 8 AS INTEGER) AS severity
        FROM k WHERE k_val IS NOT NULL
    """

    o["p5_whitelist"] = """
        SELECT event_type, count(*) AS n FROM events
        WHERE event_type IN ('click', 'view') GROUP BY event_type
    """

    o["p6_sink_filters"] = """
        SELECT 'all' AS sink, count(*) AS n FROM events
        UNION ALL
        SELECT 'errors_only' AS sink, count(*) AS n FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT 'non_errors' AS sink, count(*) AS n FROM events WHERE event_type <> 'error'
    """

    o["a1_dedup_gap"] = """
        WITH d AS (
          SELECT event_type, ts,
                 lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS pts
          FROM events
        )
        SELECT event_type, count(*) AS n_kept FROM d
        WHERE pts IS NULL OR epoch(ts) - epoch(pts) >= 300
        GROUP BY event_type
    """

    o["c1_transitions"] = """
        WITH s AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS st
          FROM events
        ), t AS (
          SELECT user_id, st,
                 lag(st) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pst
          FROM s
        )
        SELECT user_id, count(*) AS n_transitions FROM t
        WHERE pst IS NULL OR pst <> st GROUP BY user_id
    """

    o["c2_state_gauge"] = """
        WITH r AS (
          SELECT user_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        )
        SELECT user_id, event_type AS last_event_type, value AS last_value
        FROM r WHERE rn = 1
    """

    o["c3_tumbling_counts"] = """
        SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS win_start,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    """

    o["c12_hysteresis"] = """
        WITH sparse AS (
          SELECT user_id,
                 CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
                 count(*) AS n
          FROM events WHERE event_type = 'error'
          GROUP BY 1, 2
        ), spine AS (
          SELECT user_id, CAST(unnest(generate_series(mn, mx, 3600)) AS BIGINT) AS win_start
          FROM (SELECT user_id, min(win_start) AS mn, max(win_start) AS mx
                FROM sparse GROUP BY 1)
        ), counts AS (
          SELECT sp.user_id, sp.win_start, coalesce(s.n, 0) AS n
          FROM spine sp LEFT JOIN sparse s USING (user_id, win_start)
        ), marked AS (
          SELECT user_id, win_start, n,
                 CASE WHEN n >= 3 THEN 1 WHEN n < 2 THEN 0 END AS mark
          FROM counts
        )
        SELECT user_id, win_start, n,
               CAST(coalesce(last_value(mark IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY win_start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS INT) AS alert
        FROM marked
    """

    # same explicit exact-integer-sum variance formula as the Spark
    # side (cep.rate_anomaly) — identical double expression trees, so
    # no engine-internal stddev summation-order dependence
    o["c15_rate_anomaly"] = """
        WITH sparse AS (
          SELECT user_id,
                 CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS win_start,
                 count(*) AS n
          FROM events GROUP BY 1, 2
        ), spine AS (
          SELECT user_id,
                 CAST(unnest(generate_series(mn, mx, 86400)) AS BIGINT) AS win_start
          FROM (SELECT user_id, min(win_start) AS mn, max(win_start) AS mx
                FROM sparse GROUP BY 1)
        ), counts AS (
          SELECT sp.user_id, sp.win_start, coalesce(s.n, 0) AS n
          FROM spine sp LEFT JOIN sparse s USING (user_id, win_start)
        ), stats AS (
          SELECT user_id, win_start, n,
                 CAST(count(*) OVER wb AS DOUBLE) AS nb,
                 CAST(coalesce(sum(n) OVER wb, 0) AS DOUBLE) AS s1,
                 coalesce(sum(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) OVER wb,
                          0) AS s2
          FROM counts
          WINDOW wb AS (PARTITION BY user_id ORDER BY win_start
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        )
        SELECT user_id, win_start, n,
               CAST(nb AS BIGINT) AS n_baseline,
               CASE WHEN nb >= 1 THEN round(s1 / nb, 6) END AS mu,
               CASE WHEN nb >= 3 AND (nb * s2 - s1 * s1) > 0 THEN
                 round((n - s1 / nb)
                       / sqrt((nb * s2 - s1 * s1) / (nb * (nb - 1))), 6)
               END AS z,
               CAST(CASE WHEN nb >= 3 AND (
                      ((nb * s2 - s1 * s1) > 0 AND
                       (n - s1 / nb)
                       / sqrt((nb * s2 - s1 * s1) / (nb * (nb - 1))) >= 2.0)
                      OR ((nb * s2 - s1 * s1) = 0 AND n > s1 / nb))
                    THEN 1 ELSE 0 END AS INT) AS anomaly
        FROM stats
    """

    o["c11_window_topk"] = """
        WITH counts AS (
          SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
                 event_type, count(*) AS n
          FROM events GROUP BY 1, 2
        ), ranked AS (
          SELECT win_start, event_type, n,
                 row_number() OVER (PARTITION BY win_start
                                    ORDER BY n DESC, event_type) AS rnk
          FROM counts
        )
        SELECT win_start, event_type, n, rnk FROM ranked WHERE rnk <= 2
    """

    o["c5_flaps"] = """
        WITH s AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS st
          FROM events
        ), t AS (
          SELECT user_id, ts, st,
                 lag(st) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pst
          FROM s
        )
        SELECT user_id, CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
               count(*) AS n_transitions
        FROM t WHERE pst IS NULL OR pst <> st
        GROUP BY 1, 2 HAVING count(*) >= 3
    """

    o["c6_interval_join"] = """
        SELECT a.user_id AS user_id, count(*) AS n_pairs
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'error'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '300 seconds'
        GROUP BY a.user_id
    """

    o["c10_orphans"] = """
        SELECT a.event_id, a.user_id
        FROM events a
        WHERE a.event_type = 'click' AND NOT EXISTS (
          SELECT 1 FROM events b
          WHERE b.user_id = a.user_id AND b.event_type = 'error'
            AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '300 seconds'
        )
    """

    o["c7_sessions"] = """
        WITH d AS (
          SELECT user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
          FROM events
        )
        SELECT user_id,
               CAST(sum(CASE WHEN pts IS NULL OR epoch(ts) - epoch(pts) > 600 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        FROM d GROUP BY user_id
    """

    o["c9_sequence"] = """
        SELECT a.user_id AS user_id,
               a.ts AS ts0, a.event_id AS turn0,
               b.ts AS ts1, b.event_id AS turn1,
               c.ts AS ts2, c.event_id AS turn2,
               date_diff('second', a.ts, c.ts) AS span_seconds
        FROM events a
        JOIN events b ON b.user_id = a.user_id AND b.event_id > a.event_id
             AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 86400 SECONDS
        JOIN events c ON c.user_id = b.user_id AND c.event_id > b.event_id
             AND c.ts >= b.ts AND c.ts <= a.ts + INTERVAL 86400 SECONDS
        WHERE a.user_id < 100
          AND a.event_type = 'view' AND b.event_type = 'click'
          AND c.event_type = 'purchase'
    """

    o["c16_funnel"] = """
        WITH s1 AS (
          SELECT user_id, min(epoch_us(ts)) AS t1
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, min(epoch_us(e.ts)) AS t2
          FROM events e JOIN s1 ON s1.user_id = e.user_id
          WHERE e.event_type = 'click'
            AND epoch_us(e.ts) >= s1.t1
            AND epoch_us(e.ts) <= s1.t1 + CAST(3600 AS BIGINT) * 1000000
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, min(epoch_us(e.ts)) AS t3
          FROM events e
          JOIN s1 ON s1.user_id = e.user_id
          JOIN s2 ON s2.user_id = e.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_us(e.ts) >= s2.t2
            AND epoch_us(e.ts) <= s1.t1 + CAST(3600 AS BIGINT) * 1000000
          GROUP BY e.user_id
        )
        SELECT b.user_id,
               s1.t1 AS t1_us, s2.t2 AS t2_us, s3.t3 AS t3_us,
               CAST(CASE WHEN s1.t1 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END
                  AS INTEGER) AS level
        FROM (SELECT DISTINCT user_id FROM events) b
        LEFT JOIN s1 ON s1.user_id = b.user_id
        LEFT JOIN s2 ON s2.user_id = b.user_id
        LEFT JOIN s3 ON s3.user_id = b.user_id
    """

    o["q_scd2_intervals"] = """
        WITH ch AS (
          SELECT user_id, event_type, ts, event_id
          FROM (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER w AS prev_et,
                   lag(ts) OVER w AS prev_ts
            FROM events WHERE user_id < 40
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          )
          WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_et
        )
        SELECT user_id, event_type,
               ts AS valid_from,
               lead(ts) OVER w2 AS valid_to,
               CAST(row_number() OVER w2 AS INTEGER) AS version,
               lead(ts) OVER w2 IS NULL AS is_current
        FROM ch
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """

    o["q_scd2_asof"] = """
        WITH ch AS (
          SELECT user_id, event_type, ts, event_id
          FROM (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER w AS prev_et,
                   lag(ts) OVER w AS prev_ts
            FROM events WHERE user_id < 40
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          )
          WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_et
        ), dim AS (
          SELECT user_id, event_type AS dim_state,
                 ts AS valid_from,
                 lead(ts) OVER w2 AS valid_to,
                 CAST(row_number() OVER w2 AS INTEGER) AS version
          FROM ch
          WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT f.event_id, f.user_id, d.dim_state, d.version
        FROM (SELECT user_id, event_id, ts FROM events
              WHERE user_id < 40 AND event_type = 'error') f
        LEFT JOIN dim d
          ON d.user_id = f.user_id
         AND f.ts >= d.valid_from
         AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """

    # composes the c16 level query: per-step reach + conversion ratios
    o["c16_funnel_rates"] = f"""
        WITH lv AS ({o["c16_funnel"]}),
        agg AS (
          SELECT CAST(sum(CASE WHEN level >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN level >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN level >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
          FROM lv
        )
        SELECT 1 AS step, n1 AS n_keys,
               CASE WHEN n1 > 0 THEN round(CAST(n1 AS DOUBLE) / n1, 6) END AS conv_from_prev,
               CASE WHEN n1 > 0 THEN round(CAST(n1 AS DOUBLE) / n1, 6) END AS conv_from_first
        FROM agg
        UNION ALL
        SELECT 2, n2,
               CASE WHEN n1 > 0 THEN round(CAST(n2 AS DOUBLE) / n1, 6) END,
               CASE WHEN n1 > 0 THEN round(CAST(n2 AS DOUBLE) / n1, 6) END
        FROM agg
        UNION ALL
        SELECT 3, n3,
               CASE WHEN n2 > 0 THEN round(CAST(n3 AS DOUBLE) / n2, 6) END,
               CASE WHEN n1 > 0 THEN round(CAST(n3 AS DOUBLE) / n1, 6) END
        FROM agg
    """

    o["c8_asof_join"] = """
        WITH w AS (
          SELECT event_id, user_id, event_type,
                 last(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_value
          FROM events
        )
        SELECT event_id, user_id, asof_click_value FROM w WHERE event_type = 'error'
    """

    o["q_rollup_counts"] = """
        SELECT event_type, count(*) AS n, CAST(grouping(event_type) AS INTEGER) AS g
        FROM events GROUP BY ROLLUP(event_type)
    """

    o["q_topk_per_group"] = """
        WITH r AS (
          SELECT event_type, event_id, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
          FROM events
        )
        SELECT event_type, event_id, value, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3
    """

    o["q_percentiles"] = """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS med,
               round(quantile_cont(value, 0.9), 6) AS p90
        FROM events GROUP BY event_type
    """

    o["q_set_ops"] = """
        WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
             e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
        SELECT 'both' AS grp, user_id FROM c INTERSECT SELECT 'both', user_id FROM e
        UNION ALL
        SELECT 'click_only' AS grp, user_id FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM e)
    """

    o["q_window_running"] = """
        SELECT user_id, event_id,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                   AS running_value,
               round(value - coalesce(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0), 6)
                   AS delta_prev
        FROM events WHERE user_id < 200
    """

    o["q_cube_counts"] = """
        SELECT event_type, bucket, count(*) AS n, grouping(event_type, bucket) AS gid
        FROM (SELECT event_type, CAST(value >= 0.5 AS INT) AS bucket FROM events)
        GROUP BY CUBE (event_type, bucket)
    """

    o["q_pivot"] = """
        SELECT user_id,
               CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
               CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view,
               CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
               CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error,
               CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup
        FROM events GROUP BY user_id
    """

    o["k6_serialize"] = """
        SELECT event_id,
               md5(concat_ws('|', event_type, printf('%.2f', value))) AS digest
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    """

    o["q1_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
               round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    o["q3_top_orders"] = """
        SELECT o.o_orderkey,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey
        ORDER BY revenue DESC, o.o_orderkey
        LIMIT 10
    """

    o["q5_local_supplier_volume"] = """
        SELECT n.n_name,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN customer c ON o.o_custkey = c.c_custkey AND s.s_nationkey = c.c_nationkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n.n_name
        ORDER BY revenue DESC
    """

    o["q6_forecast_revenue"] = """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND CAST(l_discount AS DECIMAL(18,4)) BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """

    o["q4_order_priority"] = """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
          AND o.o_orderdate < TIMESTAMP '1997-07-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
    """

    o["q10_returned_items"] = """
        SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1996-10-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """

    o["q14_promo_revenue"] = """
        SELECT round(100.0
            * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                  THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                       * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4))) END) AS DOUBLE)
            / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                       * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE),
            6) AS promo_pct
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
          AND l.l_shipdate < TIMESTAMP '1996-09-01'
    """

    o["q15_top_supplier"] = """
        WITH rev AS (
          SELECT l_suppkey,
                 sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS r
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, CAST(rev.r AS DOUBLE) AS total_revenue
        FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        WHERE rev.r = (SELECT max(r) FROM rev)
    """

    o["q16_supplier_cnt"] = """
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#13'
          AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
    """

    o["q18_large_orders"] = """
        WITH big AS (
          SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS q
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 300
        )
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice, CAST(big.q AS DOUBLE) AS sum_qty
        FROM big
        JOIN orders o ON big.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100
    """

    o["q19_disjunctive"] = """
        SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 21)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40)
    """

    o["q22_idle_customers"] = """
        WITH cutoff AS (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_bal
          FROM customer WHERE c_acctbal > 0
        )
        SELECT c.c_nationkey, count(*) AS numcust,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        FROM customer c, cutoff
        WHERE c.c_acctbal > cutoff.avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c.c_nationkey
    """

    o["c13_cohort_retention"] = """
        WITH firsts AS (
          SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
          FROM events GROUP BY user_id
        )
        SELECT f.cohort_week,
               CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS activity_week,
               count(DISTINCT e.user_id) AS n_users
        FROM events e JOIN firsts f USING (user_id)
        GROUP BY 1, 2
    """

    o["q_window_range_7d"] = """
        WITH daily AS (
          SELECT c.c_nationkey, date_trunc('day', o.o_orderdate) AS d,
                 sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        )
        SELECT c_nationkey, d, CAST(rev AS DOUBLE) AS day_rev,
               CAST(sum(rev) OVER (PARTITION BY c_nationkey
                     ORDER BY date_diff('day', DATE '1990-01-01', CAST(d AS DATE))
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d
        FROM daily
    """

    o["q_gapfill_ffill"] = """
        WITH daily AS (
          SELECT c.c_nationkey, date_trunc('day', o.o_orderdate) AS d,
                 sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ), bounds AS (
          SELECT c_nationkey, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1
        ), spine AS (
          SELECT b.c_nationkey, s.d
          FROM bounds b, LATERAL (
            SELECT unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS d
          ) s
        )
        SELECT sp.c_nationkey, sp.d,
               CAST(dl.rev AS DOUBLE) AS day_rev,
               CAST(last_value(dl.rev IGNORE NULLS) OVER (
                    PARTITION BY sp.c_nationkey ORDER BY sp.d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 AS filled_rev
        FROM spine sp
        LEFT JOIN daily dl
          ON sp.c_nationkey = dl.c_nationkey AND sp.d = dl.d
    """

    o["e_props_json"] = """
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                 AS sum_k,
               count(*) AS n_events
        FROM events GROUP BY event_type
    """

    o["q_unpivot_measures"] = """
        WITH agg AS (
          SELECT l_returnflag,
                 CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS quantity,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS extendedprice,
                 CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS discount,
                 CAST(sum(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) AS tax
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'quantity' AS measure, quantity AS total FROM agg
        UNION ALL
        SELECT l_returnflag, 'extendedprice', extendedprice FROM agg
        UNION ALL
        SELECT l_returnflag, 'discount', discount FROM agg
        UNION ALL
        SELECT l_returnflag, 'tax', tax FROM agg
    """

    o["q2_min_cost_supplier"] = """
        WITH cost AS (
          SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
          FROM lineitem GROUP BY l_partkey, l_suppkey
        ), eligible AS (
          SELECT c.l_partkey, c.l_suppkey, c.unit_cost, s.s_acctbal, s.s_name, n.n_name
          FROM cost c
          JOIN supplier s ON c.l_suppkey = s.s_suppkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA'
        )
        SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey,
               round(e.unit_cost, 6) AS unit_cost
        FROM eligible e
        JOIN part p ON e.l_partkey = p.p_partkey
        WHERE p.p_type = 'STANDARD'
          AND e.unit_cost = (SELECT min(e2.unit_cost) FROM eligible e2
                             WHERE e2.l_partkey = e.l_partkey)
        ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
        LIMIT 100
    """

    o["q7_volume_shipping"] = """
        SELECT supp_region, cust_region, l_year, CAST(sum(volume) AS DOUBLE) AS revenue
        FROM (
          SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
                 year(l.l_shipdate) AS l_year,
                 CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4))) AS volume
          FROM lineitem l
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
          JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
          JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
          WHERE ((r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE')
              OR (r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA'))
            AND l.l_shipdate >= TIMESTAMP '1996-01-01'
            AND l.l_shipdate < TIMESTAMP '1998-01-01'
        ) v
        GROUP BY supp_region, cust_region, l_year
    """

    o["q8_market_share"] = """
        SELECT o_year,
               round(CAST(sum(CASE WHEN nation = 'NATION_2' THEN volume
                                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                     / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
        FROM (
          SELECT year(o.o_orderdate) AS o_year,
                 CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4))) AS volume,
                 n1.n_name AS nation
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
          JOIN region r ON n2.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
            AND o.o_orderdate >= TIMESTAMP '1996-01-01'
            AND o.o_orderdate < TIMESTAMP '1998-01-01'
        ) v
        GROUP BY o_year
    """

    o["q9_product_profit"] = """
        SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
        FROM (
          SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
                 CAST(l.l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))
                 - CAST(l.l_tax AS DECIMAL(18,4))
                   * CAST(l.l_extendedprice AS DECIMAL(18,4)) AS amount
          FROM lineitem l
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN part p ON l.l_partkey = p.p_partkey
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          WHERE p.p_name LIKE '%widget%'
        ) v
        GROUP BY nation, o_year
    """

    o["q11_important_parts"] = """
        WITH vals AS (
          SELECT l.l_partkey AS p_key,
                 sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS val
          FROM lineitem l
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          WHERE n.n_name = 'NATION_3'
          GROUP BY l.l_partkey
        )
        SELECT p_key, CAST(val AS DOUBLE) AS value
        FROM vals, (SELECT sum(val) AS total FROM vals) t
        WHERE val > CAST(0.001 AS DECIMAL(18,6)) * total
    """

    o["q12_late_shipping"] = """
        SELECT l.l_linestatus,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l.l_linestatus
    """

    o["q13_order_distribution"] = """
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey
        ) cc
        GROUP BY c_count
    """

    o["q17_small_qty_revenue"] = """
        WITH pavg AS (
          SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut
          FROM lineitem GROUP BY l_partkey
        )
        SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                     / 7.0, 6) AS avg_yearly
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN pavg a ON l.l_partkey = a.l_partkey
        WHERE p.p_brand = 'Brand#23' AND l.l_quantity < a.qty_cut
    """

    o["q20_excess_suppliers"] = """
        SELECT s.s_name, s.s_acctbal
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_regionkey = 1
          AND s.s_suppkey IN (
            SELECT l.l_suppkey FROM lineitem l
            WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
              AND l.l_shipdate >= TIMESTAMP '1997-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l.l_suppkey, l.l_partkey
            HAVING sum(l.l_quantity) > 15
          )
        ORDER BY s.s_name
    """

    o["q21_waiting_suppliers"] = """
        SELECT s.s_name, count(*) AS numwait
        FROM lineitem l1
        JOIN orders o ON l1.l_orderkey = o.o_orderkey
        JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 100
    """

    o["t_tokens"] = r"""
        SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        FROM documents
    """

    o["t_quality"] = rf"""
        WITH b AS (
          SELECT doc_id, text,
                 regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents
        )
        SELECT doc_id,
               round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1), 6) AS punct_ratio,
               round(CAST(len(list_filter(toks, x -> lower(x) IN ({_sql_list(EN_SW)}))) AS DOUBLE)
                     / greatest(len(toks), 1), 6) AS stopword_ratio
        FROM b
    """

    o["t_langid"] = rf"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        ), s AS (
          SELECT doc_id,
                 len(list_filter(t, x -> lower(x) IN ({de}))) AS s_de,
                 len(list_filter(t, x -> lower(x) IN ({en}))) AS s_en,
                 len(list_filter(t, x -> lower(x) IN ({es}))) AS s_es,
                 len(list_filter(t, x -> lower(x) IN ({fr}))) AS s_fr
          FROM toks
        )
        SELECT doc_id,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                    WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM s
    """

    o["t_winnow"] = r"""
        WITH norm AS (
          SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS n
          FROM documents WHERE doc_id < 500
        ), posn AS (
          SELECT doc_id, n, length(n) - 8 + 1 AS ng,
                 unnest(generate_series(1, length(n) - 8 + 1)) AS pos
          FROM norm WHERE length(n) >= 11
        ), grams AS (
          SELECT doc_id, pos, md5(substr(n, CAST(pos AS INT), 8)) AS h, ng
          FROM posn
        ), sel AS (
          SELECT doc_id,
                 min(h || lpad(CAST(pos AS VARCHAR), 10, '0'))
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
          FROM grams
          QUALIFY pos <= ng - 4 + 1
        )
        SELECT DISTINCT doc_id,
               CAST(substr(s, 33, 10) AS INT) AS pos,
               substr(s, 1, 32) AS gram_hash
        FROM sel
    """

    o["t_winnow_pairs"] = r"""
        WITH norm AS (
          SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS n
          FROM documents WHERE doc_id < 500
        ), posn AS (
          SELECT doc_id, n, length(n) - 8 + 1 AS ng,
                 unnest(generate_series(1, length(n) - 8 + 1)) AS pos
          FROM norm WHERE length(n) >= 11
        ), grams AS (
          SELECT doc_id, pos, md5(substr(n, CAST(pos AS INT), 8)) AS h, ng
          FROM posn
        ), sel AS (
          SELECT doc_id,
                 min(h || lpad(CAST(pos AS VARCHAR), 10, '0'))
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
          FROM grams
          QUALIFY pos <= ng - 4 + 1
        ), fps AS (
          SELECT DISTINCT doc_id, substr(s, 1, 32) AS gram_hash FROM sel
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM fps a JOIN fps b
          ON a.gram_hash = b.gram_hash AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 30
    """

    o["t_fingerprint"] = r"""
        SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp_md5
        FROM documents
    """

    o["d_exact_dup_groups"] = r"""
        SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS digest,
               count(*) AS n_docs, min(doc_id) AS keep_doc_id
        FROM documents
        GROUP BY 1 HAVING count(*) > 1
    """

    o["d_ngram_jaccard"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS t
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
          FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
          WHERE length(array_to_string(t[i:i+2], ' ')) > 0
        ), sizes AS (
          SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.3
    """

    # the operator's md5-window MinHash is portable: the oracle rebuilds
    # the same signatures (8 md5s -> 32 8-hex-char windows), the same
    # r=4 band buckets, and verifies candidates with exact Jaccard
    _mh_concat = " || ".join(
        ["md5(shingle)"] + [f"md5('#{k}' || shingle)" for k in range(1, 8)]
    )
    o["d_minhash_lsh"] = rf"""
        WITH toks AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS t
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
          FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
          WHERE length(array_to_string(t[i:i+2], ' ')) > 0
        ), hx AS (
          SELECT doc_id, shingle, {_mh_concat} AS h FROM sh
        ), sig AS (
          SELECT doc_id, i, min(substr(h, i * 8 + 1, 8)) AS mh
          FROM hx, UNNEST(generate_series(0, 31)) AS s(i)
          GROUP BY doc_id, i
        ), bands AS (
          SELECT doc_id, i // 4 AS band, string_agg(mh, '' ORDER BY i) AS bucket
          FROM sig GROUP BY doc_id, i // 4
        ), cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), sizes AS (
          SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_common
          FROM cand c
          JOIN sh x ON x.doc_id = c.doc_a
          JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.3
    """

    # simhash: md5_number_lower(token) == the engine's md5[8:16]-LE hash,
    # so signatures, 16-bit chunk banding and hamming all mirror exactly
    o["d_simhash"] = r"""
        WITH toks AS (
          SELECT DISTINCT doc_id, tok
          FROM (
            SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
            FROM documents
          ) WHERE length(tok) > 0
        ), th AS (
          SELECT doc_id, md5_number_lower(tok) AS h FROM toks
        ), votes AS (
          SELECT doc_id, p,
                 sum(CASE WHEN (h >> CAST(p AS UBIGINT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM th, UNNEST(generate_series(0, 63)) AS s(p)
          GROUP BY doc_id, p
        ), usig AS (
          SELECT doc_id,
                 sum(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << CAST(p AS INTEGER)
                          ELSE CAST(0 AS HUGEINT) END) AS su
          FROM votes GROUP BY doc_id
        ), sig AS (
          SELECT d.doc_id,
                 coalesce(su, 0) AS u,
                 CAST(CASE WHEN coalesce(su, 0) >= CAST('9223372036854775808' AS HUGEINT)
                           THEN coalesce(su, 0) - CAST('18446744073709551616' AS HUGEINT)
                           ELSE coalesce(su, 0) END AS BIGINT) AS s
          FROM documents d LEFT JOIN usig ON usig.doc_id = d.doc_id
        ), chunks AS (
          SELECT doc_id, s, c,
                 CAST((u >> CAST(c * 16 AS INTEGER)) & CAST(65535 AS HUGEINT) AS BIGINT) AS val
          FROM sig, UNNEST(generate_series(0, 3)) AS g(c)
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
          FROM chunks a JOIN chunks b
            ON a.c = b.c AND a.val = b.val AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM pairs WHERE bit_count(xor(sa, sb)) <= 6
    """

    # connected components: exact-jaccard edges (the cap never engages
    # at oracle scale) + transitive closure by recursive CTE; min
    # reachable doc_id is the cluster representative
    o["d_dup_clusters"] = r"""
        WITH RECURSIVE toks AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS t
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
          FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
          WHERE length(array_to_string(t[i:i+2], ' ')) > 0
        ), sizes AS (
          SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), prs AS (
          SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.3
        ), edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM prs
          UNION
          SELECT doc_b, doc_a FROM prs
        ), reach(node, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
        )
        SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    """

    # same closure as d_dup_clusters + cumulative md5 cut-points
    # (0.90 -> 0e666, 0.95 -> 0f333 at 16-bit resolution)
    o["d_leakage_splits"] = r"""
        WITH RECURSIVE toks AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS t
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
          FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
          WHERE length(array_to_string(t[i:i+2], ' ')) > 0
        ), sizes AS (
          SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), prs AS (
          SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.3
        ), edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM prs
          UNION
          SELECT doc_b, doc_a FROM prs
        ), reach(node, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
        ), clusters AS (
          SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
        )
        SELECT d.doc_id,
               CASE WHEN '0' || substr(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 4) < '0e666' THEN 'train'
                    WHEN '0' || substr(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 4) < '0f333' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents d LEFT JOIN clusters c USING (doc_id)
    """

    def _duck_scaled(col, lo, hi, bits):
        span = float(hi) - float(lo)
        return (
            f"least(CAST(floor(least(greatest((CAST({col} AS DOUBLE) - {float(lo)}) "
            f"/ {span}, 0.0), 1.0) * {float(1 << bits)}) AS BIGINT), {(1 << bits) - 1})"
        )

    _zu = _duck_scaled("user_id", 0, 1000, 8)
    _zv = _duck_scaled("value", 0, 100, 8)
    _zterms = " | ".join(
        f"((({src} >> {b}) & 1) << {b * 2 + i})"
        for b in range(8)
        for i, src in ((0, "su"), (1, "sv"))
    )
    o["q_zorder_key"] = f"""
        WITH scaled AS (
          SELECT event_id, {_zu} AS su, {_zv} AS sv FROM events
        )
        SELECT event_id, CAST({_zterms} AS BIGINT) AS zkey FROM scaled
    """

    o["q_sketch_distinct"] = """
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               TRUE AS approx_within_5pct
        FROM events GROUP BY event_type
    """

    o["q_sketch_quantiles"] = """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS exact_p50,
               TRUE AS approx_within_2pct_range
        FROM events GROUP BY event_type
    """

    # exact replay of the CM sketch: same seed-prefixed md5 buckets
    # (first 8 hex digits -> int, mod width), same min-over-rows
    o["q_sketch_cms"] = """
        WITH keys AS (
          SELECT CAST(user_id AS VARCHAR) AS key FROM events
        ), coords AS (
          SELECT key, d,
                 CAST(('0x' || substr(md5('cm' || CAST(d AS VARCHAR)
                                           || ':' || key), 1, 8))::BIGINT
                      % 256 AS INTEGER) AS bucket
          FROM keys, UNNEST(generate_series(0, 3)) AS s(d)
        ), sketch AS (
          SELECT d, bucket, count(*) AS cnt
          FROM coords GROUP BY d, bucket
        ), exact AS (
          SELECT key, count(*) AS exact FROM keys GROUP BY key
        ), est AS (
          SELECT c.key, min(coalesce(sk.cnt, 0)) AS cms_est
          FROM (SELECT DISTINCT key, d, bucket FROM coords) c
          LEFT JOIN sketch sk USING (d, bucket)
          GROUP BY c.key
        )
        SELECT key, exact, cms_est, cms_est - exact AS overcount
        FROM exact JOIN est USING (key)
    """

    o["d_decontaminate"] = r"""
        WITH toks AS (
          SELECT doc_id, source,
                 regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS t
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, source, array_to_string(t[i:i+4], ' ') AS shingle
          FROM toks, UNNEST(generate_series(1, greatest(len(t) - 4, 1))) AS g(i)
          WHERE length(array_to_string(t[i:i+4], ' ')) > 0
        ), bench AS (
          SELECT DISTINCT shingle FROM sh WHERE source = 'src0'
        )
        SELECT s.doc_id, count(*) AS n_overlap
        FROM sh s JOIN bench b USING (shingle)
        WHERE s.source <> 'src0'
        GROUP BY s.doc_id
        HAVING count(*) >= 1
    """

    o["t_mix_temperature"] = """
        WITH counts AS (
          SELECT lang, CAST(count(*) AS DOUBLE) AS n_s FROM documents GROUP BY lang
        ), tot AS (
          SELECT sum(n_s) AS n_total, sum(pow(n_s, 0.7)) AS z FROM counts
        ), rates AS (
          SELECT lang,
                 round(least(1.0, 0.5 * n_total * pow(n_s, 0.7) / z / n_s), 6) AS mix_rate
          FROM counts, tot
        ), thr AS (
          SELECT lang, mix_rate,
                 lpad(lower(hex(CAST(round(mix_rate * 65536) AS BIGINT))), 5, '0') AS t
          FROM rates
        )
        SELECT d.doc_id, d.lang, thr.mix_rate
        FROM documents d JOIN thr USING (lang)
        WHERE '0' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr.t
    """

    o["t_repetition"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS t
          FROM documents
        ), bg AS (
          SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
          FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS gi(i)
          WHERE len(t) >= 2
        ), cnt AS (
          SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
        ), bga AS (
          SELECT doc_id, sum(c) AS total_bg, max(c) AS top_c,
                 sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
          FROM cnt GROUP BY 1
        ), ta AS (
          SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_distinct
          FROM toks
        )
        SELECT ta.doc_id,
               round(1 - n_distinct / CAST(greatest(n_tok, 1) AS DOUBLE), 6) AS dup_token_frac,
               round(coalesce(top_c, 0) / CAST(greatest(coalesce(total_bg, 0), 1) AS DOUBLE), 6) AS top_2gram_frac,
               round(coalesce(dup_c, 0) / CAST(greatest(coalesce(total_bg, 0), 1) AS DOUBLE), 6) AS dup_2gram_frac
        FROM ta LEFT JOIN bga USING (doc_id)
    """

    o["d_dedup_keep"] = r"""
        WITH RECURSIVE toks AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS t
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
          FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
          WHERE length(array_to_string(t[i:i+2], ' ')) > 0
        ), sizes AS (
          SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), prs AS (
          SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.3
        ), edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM prs
          UNION
          SELECT doc_b, doc_a FROM prs
        ), reach(node, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
        ), labels AS (
          SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
        )
        SELECT d.doc_id FROM documents d
        WHERE d.doc_id NOT IN (SELECT node FROM labels WHERE node <> cluster_id)
    """

    o["t_sample_mix"] = """
        SELECT doc_id, lang, source FROM documents
        WHERE '0' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
              CASE lang WHEN 'en' THEN '08000'
                        WHEN 'de' THEN '04000'
                        WHEN 'fr' THEN '04000'
                        WHEN 'es' THEN '02000'
                        ELSE '0c000' END
    """

    # duplicated k-token spans: same tokenize recipe as the shingle
    # oracles; islands-and-gaps merge via window lag/sum
    o["d_dup_spans"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS t
          FROM documents WHERE doc_id < 500
        ), base AS (
          SELECT doc_id, t FROM toks WHERE len(t) >= 5
        ), kg AS (
          SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+4], ' ')) AS h
          FROM base, UNNEST(generate_series(1, len(t) - 4)) AS g(i)
        ), dup AS (
          SELECT h FROM (SELECT DISTINCT h, doc_id FROM kg)
          GROUP BY h HAVING count(*) >= 2
        ), hit AS (
          SELECT kg.doc_id, kg.pos FROM kg JOIN dup USING (h)
        ), isl AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
                      THEN 0 ELSE 1 END AS brk
          FROM hit
        ), grp AS (
          SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
          FROM isl
        )
        SELECT doc_id,
               CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + 4 AS BIGINT) AS span_end,
               count(*) AS n_grams,
               CAST(max(pos) + 4 - min(pos) + 1 AS BIGINT) AS span_tokens
        FROM grp GROUP BY doc_id, g
    """

    # corpus-level repeated-segment ("line") removal: non-overlapping
    # 5-token chunks, drop any chunk seen in > 2 distinct docs
    o["d_segment_dedup"] = r"""
        WITH toks AS (
          SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS ord
          FROM (SELECT doc_id,
                       string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS l
                FROM documents)
        ), segs AS (
          SELECT doc_id, (ord - 1) // 5 AS pos,
                 string_agg(tok, ' ' ORDER BY ord) AS seg
          FROM toks GROUP BY doc_id, (ord - 1) // 5
        ), freq AS (
          SELECT seg FROM segs GROUP BY seg
          HAVING count(DISTINCT doc_id) > 2
        )
        SELECT s.doc_id,
               COALESCE(string_agg(s.seg, ' ' ORDER BY s.pos)
                          FILTER (WHERE f.seg IS NULL), '') AS clean_text,
               count(*) AS n_segments,
               count(f.seg) AS n_removed
        FROM segs s LEFT JOIN freq f USING (seg)
        GROUP BY s.doc_id
    """

    # CCNet-style corpus-unigram surprisal + exact-tertile bucket
    # (quantile_cont ≡ Spark percentile, the q_percentiles precedent)
    o["t_ccnet_quality"] = r"""
        WITH t AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), '\s+')) AS token
          FROM documents
        ), tt AS (
          SELECT doc_id, token FROM t WHERE length(token) > 0
        ), freq AS (
          SELECT token, count(*) AS cnt FROM tt GROUP BY token
        ), n AS (
          SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM freq
        ), scored AS (
          SELECT doc_id, count(*) AS n_tokens, avg(log2(cnt)) AS alc
          FROM tt JOIN freq USING (token) GROUP BY doc_id
        ), s2 AS (
          SELECT doc_id, n_tokens, round(log2(n_total) - alc, 6) AS bits_per_token
          FROM scored, n
        ), cuts AS (
          SELECT quantile_cont(bits_per_token, 0.33333333) AS c1,
                 quantile_cont(bits_per_token, 0.66666667) AS c2
          FROM s2
        )
        SELECT doc_id, n_tokens, bits_per_token,
               CASE WHEN bits_per_token <= c1 THEN 'head'
                    WHEN bits_per_token <= c2 THEN 'middle'
                    ELSE 'tail' END AS ccnet_bucket
        FROM s2, cuts
    """

    # interpolated bigram LM (order-2 CCNet/KenLM analog): add-alpha
    # conditional mixed with the unigram, trained on the corpus itself
    o["t_lm_bigram"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
                             x -> length(x) > 0) AS t
          FROM documents
        ), uni AS (
          SELECT w, count(*) AS c1
          FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
        ), consts AS (
          SELECT CAST(sum(c1) AS DOUBLE) AS n_total,
                 CAST(count(*) AS DOUBLE) AS v
          FROM uni
        ), bg AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(t)),
                        i -> {'w1': t[i], 'w2': t[i+1]})) AS p
          FROM toks WHERE len(t) >= 2
        ), pp AS (
          SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg
        ), big AS (
          SELECT w1, w2, count(*) AS c2 FROM pp GROUP BY w1, w2
        )
        SELECT doc_id,
               count(*) AS n_bigrams,
               round(-avg(log2(
                 0.75 * (c2 + 0.1) / (c1_w1 + 0.1 * v)
                 + 0.25 * c1_w2 / n_total)), 6) AS bits_per_bigram
        FROM pp
        JOIN big USING (w1, w2)
        JOIN (SELECT w AS w1, c1 AS c1_w1 FROM uni) USING (w1)
        JOIN (SELECT w AS w2, c1 AS c1_w2 FROM uni) USING (w2),
        consts
        GROUP BY doc_id
    """

    # Gopher rule gates (Rae et al. 2021 Table A1 analogs): word-count /
    # mean-word-length / alphabetic-fraction / distinct-stopword rules
    o["t_gate_agreement"] = r"""
        WITH toks AS (
          SELECT doc_id, text,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> length(x) > 0) AS t
          FROM documents
        ), ga AS (
          SELECT doc_id,
                 (len(t) BETWEEN 50 AND 100000)
                 AND (round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                      / nullif(len(t), 0), 6) BETWEEN 3.0 AND 10.0)
                 AND (round(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                      / nullif(len(t), 0), 6) >= 0.8)
                 AND (len(list_intersect(list_transform(t, x -> lower(x)),
                      ['the','be','to','of','and','that','have','with','a','in'])) >= 2)
                 AS keep_a
          FROM toks
        ), gb AS (
          SELECT b.doc_id,
                 (round(CAST(len(list_filter(b.toks, x -> lower(x) IN
                    ('the','a','and','of','to','in','is','that','it','for'))) AS DOUBLE)
                    / greatest(len(b.toks), 1), 6) >= 0.08)
                 AND (round(CAST(length(regexp_replace(b.text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                    / greatest(length(b.text), 1), 6) <= 0.2)
                 AS keep_b
          FROM (SELECT doc_id, text,
                       regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents) b
        ), m AS (
          SELECT count(*) AS n,
                 CAST(sum(CASE WHEN COALESCE(keep_a, false) AND COALESCE(keep_b, false) THEN 1 ELSE 0 END) AS BIGINT) AS n11,
                 CAST(sum(CASE WHEN COALESCE(keep_a, false) AND NOT COALESCE(keep_b, false) THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                 CAST(sum(CASE WHEN NOT COALESCE(keep_a, false) AND COALESCE(keep_b, false) THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                 CAST(sum(CASE WHEN NOT COALESCE(keep_a, false) AND NOT COALESCE(keep_b, false) THEN 1 ELSE 0 END) AS BIGINT) AS n00
          FROM ga JOIN gb USING (doc_id)
        )
        SELECT n, n11, n10, n01, n00,
               round((n11 + n00) / CAST(n AS DOUBLE), 6) AS p_observed,
               round(((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
                     + (1.0 - (n11 + n10) / CAST(n AS DOUBLE)) * (1.0 - (n11 + n01) / CAST(n AS DOUBLE)), 6) AS p_expected,
               round(CASE WHEN ((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
                     + (1.0 - (n11 + n10) / CAST(n AS DOUBLE)) * (1.0 - (n11 + n01) / CAST(n AS DOUBLE)) <> 1.0
                     THEN ((n11 + n00) / CAST(n AS DOUBLE)
                           - (((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
                              + (1.0 - (n11 + n10) / CAST(n AS DOUBLE)) * (1.0 - (n11 + n01) / CAST(n AS DOUBLE))))
                          / (1.0 - (((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
                              + (1.0 - (n11 + n10) / CAST(n AS DOUBLE)) * (1.0 - (n11 + n01) / CAST(n AS DOUBLE))))
                     END, 6) AS kappa,
               round(CASE WHEN n11 + n10 + n01 > 0
                     THEN CAST(n11 AS DOUBLE) / (n11 + n10 + n01) END, 6) AS jaccard_keep
        FROM m
    """

    o["t_gopher_rules"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> length(x) > 0) AS t
          FROM documents
        ), sig AS (
          SELECT doc_id,
                 len(t) AS n_words,
                 round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                       / nullif(len(t), 0), 6) AS mean_word_len,
                 round(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                       / nullif(len(t), 0), 6) AS alpha_frac,
                 len(list_intersect(list_transform(t, x -> lower(x)),
                     ['the','be','to','of','and','that','have','with','a','in'])) AS n_stopwords
          FROM toks
        )
        SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stopwords,
               n_words BETWEEN 50 AND 100000 AS r_word_count,
               mean_word_len BETWEEN 3.0 AND 10.0 AS r_mean_len,
               alpha_frac >= 0.8 AS r_alpha,
               n_stopwords >= 2 AS r_stopwords,
               (n_words BETWEEN 50 AND 100000)
                 AND (mean_word_len BETWEEN 3.0 AND 10.0)
                 AND (alpha_frac >= 0.8)
                 AND (n_stopwords >= 2) AS keep
        FROM sig
    """

    # DSIR hashed-bigram importance weights: bucket = first 3 hex chars
    # of md5(gram) base-16 (identical strpos arithmetic both engines)
    o["t_dsir_weights"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                             x -> length(x) > 0) AS t
          FROM documents
        ), g AS (
          SELECT doc_id,
                 CASE WHEN len(t) >= 2
                      THEN list_transform(range(1, len(t)),
                                          i -> t[i] || ' ' || t[i+1])
                      ELSE [] END AS grams
          FROM toks
        ), ex AS (
          SELECT doc_id, unnest(grams) AS gram FROM g
        ), exb AS (
          SELECT doc_id,
                 (strpos('0123456789abcdef', substr(md5(gram), 1, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(md5(gram), 2, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(gram), 3, 1)) - 1) AS bucket
          FROM ex
        ), raw AS (
          SELECT bucket, count(*) AS cr FROM exb GROUP BY bucket
        ), tgt AS (
          SELECT bucket, count(*) AS ct FROM exb WHERE doc_id % 7 = 0 GROUP BY bucket
        ), nr AS (
          SELECT CAST(sum(cr) AS DOUBLE) AS n FROM raw
        ), nt AS (
          SELECT CAST(sum(ct) AS DOUBLE) AS n FROM tgt
        ), ratio AS (
          SELECT r.bucket,
                 ln((coalesce(t.ct, 0) + 1.0) / (nt.n + 4096.0))
               - ln((r.cr + 1.0) / (nr.n + 4096.0)) AS lr
          FROM raw r LEFT JOIN tgt t USING (bucket), nr, nt
        )
        SELECT e.doc_id, count(*) AS n_grams, round(sum(ratio.lr), 6) AS dsir_logweight
        FROM exb e JOIN ratio USING (bucket)
        GROUP BY e.doc_id
    """

    # planted contact block per row, scrubbed by category (same pattern
    # table as operators/text.PII_PATTERNS, RE2-compatible by design)
    o["t_pii_scrub"] = r"""
        WITH p AS (
          SELECT doc_id,
                 concat_ws(' ', text,
                   'contact', 'user' || CAST(doc_id AS VARCHAR) || '@example.com',
                   'ip', '10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1',
                   'tel', '+49 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                   'sid', '9' || lpad(CAST(doc_id AS VARCHAR), 9, '0')) AS pii_text
          FROM documents
        )
        , r1 AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                 regexp_replace(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s
          FROM p
        ), r2 AS (
          SELECT doc_id, n_email,
                 CAST(len(regexp_extract_all(s, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
                 regexp_replace(s, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS s
          FROM r1
        ), r3 AS (
          SELECT doc_id, n_email, n_ipv4,
                 CAST(len(regexp_extract_all(s, '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}\b')) AS BIGINT) AS n_phone,
                 regexp_replace(s, '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}\b', '<PHONE>', 'g') AS s
          FROM r2
        )
        SELECT doc_id, n_email, n_ipv4, n_phone,
               CAST(len(regexp_extract_all(s, '\b\d{9,}\b')) AS BIGINT) AS n_id,
               regexp_replace(s, '\b\d{9,}\b', '<ID>', 'g') AS redacted
        FROM r3
    """

    o["t_clean"] = r"""
        WITH c AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, 'https?://\S+')) AS n_urls,
                 len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
                 trim(regexp_replace(
                   regexp_replace(
                     regexp_replace(text, 'https?://\S+', ' ', 'g'),
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
                   '\s+', ' ', 'g')) AS clean_text
          FROM documents
        )
        SELECT doc_id, CAST(n_urls AS BIGINT) AS n_urls,
               CAST(n_emails AS BIGINT) AS n_emails, clean_text,
               CAST(length(clean_text) AS BIGINT) AS clean_len
        FROM c
    """

    o["t_length_buckets"] = r"""
        WITH t AS (
          SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
          FROM documents
        ), b AS (
          SELECT n,
                 CASE WHEN n <= 1 THEN 1 WHEN n <= 2 THEN 2 WHEN n <= 4 THEN 4
                      WHEN n <= 8 THEN 8 WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
                      WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
                      WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
                      WHEN n <= 1024 THEN 1024 WHEN n <= 2048 THEN 2048
                      WHEN n <= 4096 THEN 4096 WHEN n <= 8192 THEN 8192
                      WHEN n <= 16384 THEN 16384 WHEN n <= 32768 THEN 32768
                      WHEN n <= 65536 THEN 65536 WHEN n <= 131072 THEN 131072
                      ELSE 131072 END AS bucket_cap
          FROM t WHERE n > 0
        ), agg AS (
          SELECT bucket_cap,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n) AS BIGINT) AS sum_tokens
          FROM b GROUP BY bucket_cap
        )
        SELECT bucket_cap, n_docs, sum_tokens,
               CAST(greatest(bucket_cap * n_docs, sum_tokens) AS BIGINT) AS padded_tokens,
               (CAST(greatest(bucket_cap * n_docs, sum_tokens) AS DOUBLE) - sum_tokens)
                 / greatest(bucket_cap * n_docs, sum_tokens) AS waste_frac
        FROM agg
    """

    o["t_chunk_windows"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS t
          FROM documents
        ), sized AS (
          SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
        ), idx AS (
          SELECT doc_id, t,
                 unnest(generate_series(
                   0,
                   CASE WHEN n <= 64 THEN 0
                        ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) END)) AS chunk_idx
          FROM sized
        )
        SELECT doc_id, chunk_idx,
               chunk_idx * 48 AS chunk_start,
               CAST(len(list_slice(t, chunk_idx*48 + 1, chunk_idx*48 + 64)) AS BIGINT)
                 AS chunk_len,
               md5(array_to_string(list_slice(t, chunk_idx*48 + 1, chunk_idx*48 + 64), ' '))
                 AS chunk_md5
        FROM idx
    """

    o["t_pack_chunks"] = r"""
        WITH t AS (
          SELECT doc_id, lang,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
          FROM documents
        ), c AS (
          SELECT doc_id, lang, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS before
          FROM t
        )
        SELECT doc_id, lang, n_tokens,
               CAST(floor(before / 512) AS BIGINT) AS chunk_id,
               CAST(before - floor(before / 512) * 512 AS BIGINT) AS chunk_off
        FROM c
    """

    o["t_tfidf"] = r"""
        WITH terms AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM terms
          WHERE length(term) > 0 GROUP BY doc_id, term
        ), docfreq AS (
          SELECT term, count(DISTINCT doc_id) AS df FROM terms
          WHERE length(term) > 0 GROUP BY term
        ), n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + docfreq.df)) + 1.0), 6) AS tfidf
          FROM tf JOIN docfreq USING (term) CROSS JOIN n
        ), r AS (
          SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
          FROM scored
        )
        SELECT doc_id, term, tfidf, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3
    """

    o["s_decontaminate"] = """
        WITH b AS (
          SELECT vec_id AS bid, CAST(embedding AS DOUBLE[]) AS be
          FROM embeddings WHERE vec_id % 37 = 0
        ), c AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
        ), s AS (
          SELECT c.vec_id, b.bid,
                 CASE WHEN sqrt(list_sum(list_transform(c.ce, x -> x * x))) > 0
                       AND sqrt(list_sum(list_transform(b.be, x -> x * x))) > 0
                 THEN round(list_cosine_similarity(c.ce, b.be), 6)
                 ELSE 0.0 END AS cos
          FROM c, b
        ), m AS (
          SELECT vec_id, max(cos) AS max_cosine FROM s GROUP BY vec_id
        ), n AS (
          SELECT s.vec_id, min(s.bid) AS nearest_bench_id
          FROM s JOIN m ON s.vec_id = m.vec_id AND s.cos = m.max_cosine
          GROUP BY s.vec_id
        )
        SELECT m.vec_id, m.max_cosine, n.nearest_bench_id,
               m.max_cosine >= 0.8 AS contaminated
        FROM m JOIN n ON m.vec_id = n.vec_id
    """

    o["s_knn_cosine"] = """
        WITH q AS (
          SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id < 5
        ), c AS (
          SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
        ), s AS (
          SELECT query_id, neighbor_id,
                 round(list_cosine_similarity(qe, ce), 6) AS cosine
          FROM c, q WHERE neighbor_id <> query_id
        ), r AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM s
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 5
    """

    o["s_embedding_norms"] = """
        SELECT vec_id,
               round(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 6) AS l2_norm
        FROM embeddings
    """

    # JL projection: the float32->double promotion and the 2^24
    # multiply are both exact, so floor() then integer sums replay
    # bit-for-bit; p0..p7 pivot keeps the compare scalar-typed
    _p_cols = ",\n               ".join(
        f"CAST(max(CASE WHEN i = {i} THEN v END) AS BIGINT) AS p{i}"
        for i in range(8)
    )
    o["s_jl_projection"] = f"""
        WITH w AS (
          SELECT vec_id, j,
                 CAST(floor(CAST(embedding[j + 1] AS DOUBLE)
                            * 16777216) AS BIGINT) AS wv
          FROM embeddings, UNNEST(generate_series(0, 63)) AS s(j)
        ), sg AS (
          SELECT i, j,
                 CASE WHEN ('0x' || substr(md5('rp:' || CAST(i AS VARCHAR)
                                || ':' || CAST(j AS VARCHAR)), 1, 1))::INTEGER
                           % 2 = 0
                      THEN 1 ELSE -1 END AS sgn
          FROM UNNEST(generate_series(0, 7)) AS a(i),
               UNNEST(generate_series(0, 63)) AS b(j)
        ), p AS (
          SELECT vec_id, i, sum(wv * sgn) AS v
          FROM w JOIN sg USING (j) GROUP BY vec_id, i
        )
        SELECT vec_id,
               {_p_cols}
        FROM p GROUP BY vec_id
    """

    o["t_readability"] = r"""
        WITH b AS (
          SELECT doc_id, lower(text) AS low, trim(text) AS tt,
                 regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents
        ), c AS (
          SELECT doc_id,
                 CASE WHEN length(tt) = 0 THEN 0 ELSE len(toks) END
                     AS n_words,
                 greatest(len(regexp_extract_all(low, '[.!?]+')), 1)
                     AS n_sentences,
                 len(regexp_extract_all(low, '[aeiouy]+'))
                   + len(list_filter(toks,
                         x -> NOT regexp_matches(lower(x), '[aeiouy]')))
                     AS n_syllables
          FROM b
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_sentences AS BIGINT) AS n_sentences,
               CAST(n_syllables AS BIGINT) AS n_syllables,
               CASE WHEN n_words > 0 THEN
                 round(206.835
                       - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                       - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
               END AS flesch_ease,
               CASE WHEN n_words > 0 THEN
                 round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                       + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                       - 15.59, 6)
               END AS fk_grade
        FROM c
    """

    # char entropy: same sorted-distinct fold order as the engine, so
    # the double sum is term-for-term identical before the 6dp round
    o["t_char_entropy"] = """
        WITH cs AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, ''),
                             x -> length(x) > 0) AS cs
          FROM documents
        ), d AS (
          SELECT doc_id, cs,
                 list_sort(list_distinct(cs)) AS dch,
                 CAST(len(cs) AS DOUBLE) AS n
          FROM cs
        )
        SELECT doc_id,
               CAST(len(dch) AS BIGINT) AS n_distinct_chars,
               CASE WHEN len(cs) > 0 THEN
                 round(list_aggregate(
                   list_transform(dch, c ->
                     -(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / n)
                      * log2(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / n)
                   ), 'sum'), 6)
               END AS char_entropy
        FROM d
    """

    # corpus diversity: every float-chain input is integer first
    # (floor-2^20 elements, exact integer norm^2), so the unit
    # quantization is one IEEE op chain — bit-identical; 2^60 = Q^2
    o["s_diversity"] = """
        WITH a AS (
          SELECT label,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * 1048576) AS BIGINT)) AS av
          FROM embeddings
        ), nq AS (
          SELECT label, av,
                 list_aggregate(list_transform(av, v -> v * v), 'sum') AS nq
          FROM a
        ), u AS (
          SELECT label,
                 list_transform(av, v -> CAST(floor(CAST(v AS DOUBLE)
                     * 1073741824 / sqrt(nq)) AS BIGINT)) AS wv
          FROM nq WHERE nq > 0
        ), pe AS (
          SELECT label, i AS pos, wv[i + 1] AS v
          FROM u, UNNEST(generate_series(0, len(wv) - 1)) AS s(i)
        ), sums AS (
          SELECT label, pos, sum(v) AS s FROM pe GROUP BY label, pos
        ), ss AS (
          SELECT label,
                 sum(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)))
                     AS ss
          FROM sums GROUP BY label
        ), nb AS (
          SELECT label, count(*) AS n FROM u GROUP BY label
        )
        SELECT nb.label, nb.n,
               CAST(CAST(ss.ss AS DECIMAL(38,0)) AS VARCHAR) AS ss,
               CASE WHEN nb.n > 1 THEN
                 round((CAST(ss.ss AS DOUBLE) / 1152921504606846976.0
                        - nb.n) / (nb.n * (nb.n - 1)), 6)
               END AS mean_cos_q
        FROM nb JOIN ss USING (label)
    """

    o["s_quantize_int8"] = """
        WITH q AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xs,
                 list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)), 'max') AS maxabs
          FROM embeddings
        ), c AS (
          SELECT vec_id, xs, maxabs,
                 CASE WHEN maxabs = 0 THEN list_transform(xs, x -> 0)
                      ELSE list_transform(xs, x -> CAST(round(x / (maxabs / 127.0)) AS INTEGER))
                 END AS codes
          FROM q
        )
        SELECT vec_id,
               CAST(floor((maxabs / 127.0) * 1e9) AS BIGINT) AS scale_e9,
               array_to_string(codes, ',') AS codes_csv,
               CAST(floor(sqrt(list_aggregate(
                   list_transform(list_zip(xs, codes),
                                  s -> (s[1] - s[2] * (maxabs / 127.0)) * (s[1] - s[2] * (maxabs / 127.0))),
                   'sum')) * 1e6) AS BIGINT) AS recon_err_e6
        FROM c
    """

    o["d_pipeline_e2e"] = r"""
        WITH c AS (
          SELECT doc_id, lang,
                 trim(regexp_replace(
                   regexp_replace(
                     regexp_replace(text, 'https?://\S+', ' ', 'g'),
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
                   '\s+', ' ', 'g')) AS clean_text
          FROM documents
        ), toks AS (
          SELECT doc_id, lang, clean_text,
                 list_filter(regexp_split_to_array(trim(clean_text), '\s+'),
                             x -> length(x) > 0) AS t
          FROM c
        ), gated AS (
          SELECT doc_id, lang, clean_text FROM toks
          WHERE len(t) BETWEEN 50 AND 100000
            AND round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                      / nullif(len(t), 0), 6) BETWEEN 3.0 AND 10.0
            AND round(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                      / nullif(len(t), 0), 6) >= 0.8
            AND len(list_intersect(list_transform(t, x -> lower(x)),
                    ['the','be','to','of','and','that','have','with','a','in'])) >= 2
        ), dd AS (
          SELECT *, md5(lower(regexp_replace(clean_text, '\s+', ' ', 'g'))) AS digest
          FROM gated
        ), keepers AS (
          SELECT min(doc_id) AS doc_id FROM dd GROUP BY digest
        ), kept AS (
          SELECT dd.doc_id, dd.lang,
                 CASE WHEN length(trim(clean_text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(clean_text), '\s+'))
                 END AS n_tokens
          FROM dd JOIN keepers USING (doc_id)
        ), w AS (
          SELECT doc_id, lang, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS before
          FROM kept
        )
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(floor(before / 512) AS BIGINT) AS chunk_id,
               CAST(before - floor(before / 512) * 512 AS BIGINT) AS chunk_off
        FROM w
    """

    o["d_source_cap"] = """
        SELECT doc_id, source, source_rank FROM (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS source_rank
          FROM documents
        ) WHERE source_rank <= 5
    """

    # ---- stored-golden oracles (tools/make_goldens.py) ----------------
    # Each golden is computed by an INDEPENDENT implementation (plain
    # python / numpy / the fixture corpus itself — no Spark, no engine
    # code), committed under testdata_goldens/ with its generator.
    # Scale-dependent goldens carry a scale_rows key matched against the
    # live view's row count, so the same oracle string is correct at any
    # of the generated scale factors.  Paths derive from this file so
    # the repo works from any checkout location.
    gd = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata_goldens")

    o["golden_normalize"] = f"""
        SELECT conv_id, os, error, host, ip,
               CAST(facility AS BIGINT) AS facility,
               CAST(severity AS BIGINT) AS severity,
               yang_model, yang_message
        FROM read_parquet('{gd}/golden_envelopes.parquet')
    """

    o["a1_dedup_ttl_exact"] = f"""
        SELECT event_type, n_kept
        FROM read_parquet('{gd}/a1_ttl_kept.parquet')
        WHERE scale_rows = (SELECT count(*) FROM events)
    """

    o["s_ann_ivfpq"] = f"""
        SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
        FROM read_parquet('{gd}/ann_ivfpq_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    o["t_pack_spfhp"] = f"""
        SELECT doc_id, length, strategy_id, pack_id, slot
        FROM read_parquet('{gd}/spfhp_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
        )
    """

    o["t_fix_text"] = f"""
        SELECT doc_id, fixed_text, n_controls_removed, was_mojibake, changed
        FROM read_parquet('{gd}/fix_text_golden.parquet')
    """

    # t_c4_rules: the C4 line/page rules + the SAME page generation
    # replayed in SQL (plain string — the brace segment would fight an
    # f-string); word count = len(str_split_regex(trim(l), '\s+')),
    # exactly Spark's size(split(trim(l), '\s+'))
    o["t_c4_rules"] = r"""
        WITH pages AS (
          SELECT i AS page_id,
                 'This is sentence number ' || CAST(i AS VARCHAR)
                 || ' and it is long enough.'
                 || CASE WHEN i % 2 = 0 THEN chr(10) || 'short line' ELSE '' END
                 || CASE WHEN i % 3 = 0 THEN chr(10) || 'Enable javascript to view this page.' ELSE '' END
                 || CASE WHEN i % 5 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
                 || CASE WHEN i % 7 = 0 THEN chr(10) || 'function f() { return 1; }' ELSE '' END
                 || chr(10) || 'Another proper sentence with enough words here number '
                 || CAST(i AS VARCHAR) || '!'
                 || chr(10) || 'The third fine sentence stays here too.'
                 || chr(10) || 'No terminal punctuation here so dropped'
                 || CASE WHEN i % 11 = 0 THEN chr(10) || 'This page mentions badword1 sadly.' ELSE '' END
                 AS text
          FROM (SELECT unnest(generate_series(0, 95)) AS i)
        ), r AS (
          SELECT page_id, text,
                 str_split(text, chr(10)) AS lines,
                 list_filter(str_split(text, chr(10)),
                   l -> regexp_matches(l, '[.!?"]$')
                        AND len(str_split_regex(trim(l), '\s+')) >= 3
                        AND NOT contains(lower(l), 'javascript')) AS kept
          FROM pages
        )
        SELECT page_id,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(kept) AS BIGINT) AS n_kept,
               array_to_string(kept, chr(10)) AS kept_text,
               CAST(CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS INT) AS has_lorem,
               CAST(CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS INT) AS has_brace,
               CAST(CASE WHEN regexp_matches(lower(text), '\bbadword1\b') THEN 1 ELSE 0 END AS INT) AS has_badword,
               CAST(CASE WHEN contains(lower(text), 'lorem ipsum')
                           OR contains(text, '{')
                           OR regexp_matches(lower(text), '\bbadword1\b')
                           OR len(kept) < 3
                    THEN 0 ELSE 1 END AS INT) AS keep
        FROM r
    """

    # t_html_extract: the documented extraction chain replayed in SQL
    # on the same scaffold concat (RE2 flags (?is)/lazy match Java's;
    # no backreferences used anywhere); chr(39) = the single quote
    o["t_html_extract"] = f"""
        WITH wrapped AS (
          SELECT doc_id,
                 '{_HTML_PRE}' || CAST(doc_id AS VARCHAR) || '{_HTML_MID}'
                 || CAST(doc_id AS VARCHAR) || '{_HTML_MID2}' || text
                 || '{_HTML_POST}' AS html
          FROM documents
        ), t1 AS (
          SELECT doc_id, length(html) AS n_raw,
                 regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script\\s*>',
                                ' ', 'g') AS t
          FROM wrapped
        ), t2 AS (
          SELECT doc_id, n_raw,
                 regexp_replace(t, '(?is)<style\\b[^>]*>.*?</style\\s*>',
                                ' ', 'g') AS t
          FROM t1
        ), t3 AS (
          SELECT doc_id, n_raw,
                 regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t
          FROM t2
        ), t4 AS (
          SELECT doc_id, n_raw,
                 regexp_replace(t, '<[/!]?[A-Za-z][^>]*>', ' ', 'g') AS t
          FROM t3
        ), t5 AS (
          SELECT doc_id, n_raw,
                 replace(replace(replace(replace(replace(replace(replace(
                   replace(t, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', chr(39)), '&mdash;', '—'),
                   '&copy;', '©'), '&amp;', '&') AS t
          FROM t4
        ), t6 AS (
          SELECT doc_id, n_raw,
                 trim(regexp_replace(t, '\\s+', ' ', 'g')) AS t
          FROM t5
        )
        SELECT doc_id, n_raw, t AS clean_text, length(t) AS n_clean FROM t6
    """

    o["t_url_canon"] = f"""
        SELECT url_id, url, scheme, host, port, path_canon, query_canon, url_canon
        FROM read_parquet('{gd}/url_canon_golden.parquet')
    """

    # independent pure-python BPE replication; keyed by the corpus
    # content checksum (sf0.001/sf0.01 share a documents row count)
    o["t_bpe_train"] = f"""
        SELECT merge_rank, "left", "right", pair_count
        FROM read_parquet('{gd}/bpe_train_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(SUM(n_chars * (doc_id % 97 + 1)) AS BIGINT)
            FROM documents
        )
    """

    o["t_bpe_tokens"] = f"""
        SELECT doc_id, n_bpe_tokens
        FROM read_parquet('{gd}/bpe_tokens_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(SUM(n_chars * (doc_id % 97 + 1)) AS BIGINT)
            FROM documents
        )
    """

    o["c2_alarm_gauge"] = f"""
        SELECT host, family, entity, CAST(state AS BIGINT) AS state,
               last_error, n_events
        FROM read_parquet('{gd}/alarm_gauge_golden.parquet')
    """

    # keyed by an integer content checksum (sf0.001 and sf0.01 have the
    # same embedding row COUNT with different contents; floor(x*1000)
    # per element + integer sum is bit-exact on every engine)
    o["s_embedding_near_dup"] = f"""
        SELECT id_a, id_b, cosine
        FROM read_parquet('{gd}/near_dup_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    o["s_hard_negatives"] = f"""
        SELECT query_id, query_label, neighbor_id, neighbor_label,
               cosine, rank
        FROM read_parquet('{gd}/hard_negatives_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    o["s_classifier"] = f"""
        SELECT vec_id, label, pred, correct
        FROM read_parquet('{gd}/classifier_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    o["s_kmeans"] = f"""
        SELECT vec_id, cluster
        FROM read_parquet('{gd}/kmeans_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    o["s_pca"] = f"""
        SELECT vec_id, pc1_e6, pc2_e6, pc3_e6, pc4_e6
        FROM read_parquet('{gd}/pca_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    o["s_semdedup"] = f"""
        SELECT vec_id, cluster, keep
        FROM read_parquet('{gd}/semdedup_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    # approximate-by-construction ANN, but DETERMINISTIC by seed: the
    # stored goldens replicate the published spec (planes/centroid
    # training, stable probe order, HALF_UP cosine, id tie-breaks)
    o["s_ann_lsh"] = f"""
        SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
        FROM read_parquet('{gd}/ann_lsh_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    o["s_ann_ivf"] = f"""
        SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
        FROM read_parquet('{gd}/ann_ivf_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    o["s_ann_pq"] = f"""
        SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
        FROM read_parquet('{gd}/ann_pq_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    o["s_ann_join"] = f"""
        SELECT query_id, neighbor_id, cosine, rank
        FROM read_parquet('{gd}/ann_join_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    o["s_bitext_mine"] = f"""
        SELECT src_id, CAST(src_lang AS INTEGER) AS src_lang, tgt_id,
               cosine, margin, mutual
        FROM read_parquet('{gd}/bitext_golden.parquet')
        WHERE scale_key = (
            SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM embeddings
        )
    """

    # wire length from the MessagePack spec itself: fixmap header (1) +
    # three 1-char fixstr keys (2 each) + fixstr/str8 event_type +
    # uint-tier event_id + float64 value (9)
    o["k6_msgpack"] = """
        SELECT event_id,
               CAST(1 + 6
                 + CASE WHEN strlen(event_type) <= 31 THEN 1 + strlen(event_type)
                        ELSE 2 + strlen(event_type) END
                 + CASE WHEN event_id <= 127 THEN 1
                        WHEN event_id <= 255 THEN 2
                        WHEN event_id <= 65535 THEN 3
                        WHEN event_id <= 4294967295 THEN 5
                        ELSE 9 END
                 + 9 AS BIGINT) AS wire_bytes
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
    """

    o["m4_timestamps"] = """
        SELECT event_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_utc
        FROM events
    """

    # exposition-format lines rebuilt from first principles (metric
    # naming, label layout, integral canonical values)
    o["k5_prom_expo"] = """
        SELECT metric, 'counter' AS kind,
               metric || '{host="' || host || '"} '
                      || CAST(CAST(n AS BIGINT) AS VARCHAR) AS line
        FROM (
          SELECT 'napalm_logs_' || lower(event_type) AS metric,
                 'host-' || CAST(user_id % 50 AS VARCHAR) AS host,
                 count(*) AS n
          FROM events WHERE event_type IS NOT NULL
          GROUP BY 1, 2
        )
    """

    # gap-merge semantics: a new session starts when the event-time
    # gap is >= the 600 s threshold (Spark merges on strict overlap)
    o["c14_session_window"] = """
        WITH marks AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) >= 600
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM marks
        )
        SELECT user_id,
               CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
               count(*) AS n_events
        FROM sess GROUP BY user_id, sid
    """

    # shared transcript CTE — the pure-SQL mirror of
    # convstats.transcripts_from_events (conv_id = user, turn order =
    # (ts, event_id), role from event_type).  concat_ws on both sides
    # so NULL fields drop instead of nulling the row.
    _TRANS = """
        SELECT 'conv-' || CAST(user_id AS VARCHAR) AS conv_id,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) - 1
                    AS INTEGER) AS turn_idx,
               CASE WHEN event_type = 'error' THEN 'tool'
                    WHEN event_type IN ('purchase', 'signup') THEN 'agent'
                    ELSE 'user' END AS role,
               concat_ws(' ', event_type, props) AS text,
               CASE WHEN event_type = 'error' THEN event_type END AS tool,
               ts
        FROM events
    """

    o["cv_stats"] = f"""
        WITH t AS ({_TRANS})
        SELECT conv_id,
               count(*) AS n_turns,
               CAST(sum(CASE WHEN role = 'user'  THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_user,
               CAST(sum(CASE WHEN role = 'agent' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_agent,
               CAST(sum(CASE WHEN role = 'tool'  THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_tool,
               CAST(sum(length(text)) AS BIGINT) AS n_chars,
               round(CAST(sum(length(text)) AS DOUBLE) / count(*), 6)
                   AS avg_turn_chars,
               count(DISTINCT tool) AS n_tools,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        FROM t GROUP BY conv_id
    """

    o["cv_fingerprints"] = f"""
        WITH t AS ({_TRANS})
        SELECT conv_id,
               md5(string_agg(text, chr(31) ORDER BY turn_idx)) AS conv_hash,
               count(*) AS n_turns
        FROM t GROUP BY conv_id
    """

    o["cv_tool_chains"] = f"""
        WITH t AS ({_TRANS}),
        tool_turns AS (
          SELECT conv_id, turn_idx,
                 turn_idx - row_number() OVER (PARTITION BY conv_id
                                               ORDER BY turn_idx) AS island
          FROM t WHERE role = 'tool'
        ),
        chains AS (
          SELECT conv_id, island, count(*) AS chain_len
          FROM tool_turns GROUP BY conv_id, island
        )
        SELECT conv_id, max(chain_len) AS max_tool_chain,
               count(*) AS n_chains
        FROM chains GROUP BY conv_id
    """

    o["cv_role_transitions"] = f"""
        WITH t AS ({_TRANS})
        SELECT role_from, role_to, count(*) AS n FROM (
          SELECT coalesce(lag(role) OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx),
                          '<start>') AS role_from,
                 role AS role_to
          FROM t
        ) GROUP BY role_from, role_to
    """

    o["cv_latency"] = f"""
        WITH t AS ({_TRANS}),
        g AS (
          SELECT conv_id,
                 epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
                 CASE WHEN lag(role) OVER w = 'user' AND role = 'agent'
                      THEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                 END AS resp_us
          FROM t
          WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        )
        SELECT conv_id,
               round(quantile_cont(gap_us, 0.5), 6) AS p50_gap_us,
               round(quantile_cont(gap_us, 0.9), 6) AS p90_gap_us,
               max(gap_us) AS max_gap_us,
               round(CAST(sum(resp_us) AS DOUBLE) / count(resp_us), 6)
                   AS avg_resp_us,
               count(resp_us) AS n_responses
        FROM g WHERE gap_us IS NOT NULL GROUP BY conv_id
    """

    # SFT chat template: '<|role|>' \n text \n per turn; spans cover
    # the text body; whitespace token counts guard the ''-split case
    o["cv_sft_spans"] = rf"""
        WITH t AS ({_TRANS}),
        r AS (
          SELECT conv_id, turn_idx, role, text,
                 length('<|' || role || '|>') + 1 AS hlen,
                 length('<|' || role || '|>') + 1 + length(text) + 1 AS rlen,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE CAST(length(string_split_regex(trim(text), '\s+'))
                                AS INTEGER) END AS n_tokens
          FROM t
        )
        SELECT conv_id, turn_idx, role,
               CAST(coalesce(sum(rlen) OVER w, 0) + hlen AS BIGINT)
                   AS span_start,
               CAST(coalesce(sum(rlen) OVER w, 0) + hlen + length(text)
                    AS BIGINT) AS span_end,
               CASE WHEN role = 'agent' THEN 1 ELSE 0 END AS mask,
               n_tokens
        FROM r
        WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """

    o["cv_sft_render"] = rf"""
        WITH t AS ({_TRANS}),
        r AS (
          SELECT conv_id, turn_idx, role, text,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE CAST(length(string_split_regex(trim(text), '\s+'))
                                AS INTEGER) END AS n_tokens
          FROM t
        )
        SELECT conv_id,
               string_agg('<|' || role || '|>' || chr(10) || text || chr(10),
                          '' ORDER BY turn_idx) AS sample_text,
               CAST(sum(n_tokens) AS INTEGER) AS n_tokens,
               CAST(sum(CASE WHEN role = 'agent' THEN n_tokens ELSE 0 END)
                    AS INTEGER) AS n_loss_tokens,
               count(*) AS n_turns
        FROM r GROUP BY conv_id
    """

    o["cv_pref_pairs"] = f"""
        WITH t AS ({_TRANS}),
        fl AS (
          SELECT conv_id,
                 min(CASE WHEN role = 'agent' THEN turn_idx END) AS fl
          FROM t GROUP BY conv_id
        ),
        fp AS (
          SELECT t.conv_id,
                 md5(string_agg(string_split(t.text, ' ')[1], chr(31)
                                ORDER BY t.turn_idx)) AS prompt_fp
          FROM t JOIN fl ON t.conv_id = fl.conv_id
          WHERE fl.fl IS NOT NULL AND t.turn_idx < least(fl.fl, 1024)
          GROUP BY t.conv_id
        ),
        sc AS (
          SELECT conv_id, CAST(sum(length(text)) AS DOUBLE) AS score
          FROM t WHERE role = 'agent' GROUP BY conv_id
        ),
        s AS (
          SELECT fp.prompt_fp, fp.conv_id, sc.score
          FROM fp JOIN sc ON fp.conv_id = sc.conv_id
        ),
        b AS (
          SELECT prompt_fp, conv_id AS chosen_conv_id,
                 score AS chosen_score,
                 row_number() OVER (PARTITION BY prompt_fp
                                    ORDER BY score DESC, conv_id ASC) AS rn
          FROM s
        ),
        w AS (
          SELECT prompt_fp, conv_id AS rejected_conv_id,
                 score AS rejected_score,
                 row_number() OVER (PARTITION BY prompt_fp
                                    ORDER BY score ASC, conv_id DESC) AS rn
          FROM s
        )
        SELECT b.prompt_fp, chosen_conv_id, rejected_conv_id,
               chosen_score, rejected_score,
               round(chosen_score - rejected_score, 6) AS margin
        FROM b JOIN w ON b.prompt_fp = w.prompt_fp
        WHERE b.rn = 1 AND w.rn = 1
          AND chosen_score - rejected_score > 0
    """

    o["cv_best_of_n"] = f"""
        WITH t AS ({_TRANS}),
        fl AS (
          SELECT conv_id,
                 min(CASE WHEN role = 'agent' THEN turn_idx END) AS fl
          FROM t GROUP BY conv_id
        ),
        fp AS (
          SELECT t.conv_id,
                 md5(string_agg(string_split(t.text, ' ')[1], chr(31)
                                ORDER BY t.turn_idx)) AS prompt_fp
          FROM t JOIN fl ON t.conv_id = fl.conv_id
          WHERE fl.fl IS NOT NULL AND t.turn_idx < least(fl.fl, 1024)
          GROUP BY t.conv_id
        ),
        sc AS (
          SELECT conv_id, CAST(sum(length(text)) AS DOUBLE) AS score
          FROM t WHERE role = 'agent' GROUP BY conv_id
        ),
        s AS (
          SELECT fp.prompt_fp, fp.conv_id, sc.score
          FROM fp JOIN sc ON fp.conv_id = sc.conv_id
        ),
        r AS (
          SELECT prompt_fp, conv_id, score,
                 row_number() OVER (PARTITION BY prompt_fp
                                    ORDER BY score DESC, conv_id ASC) AS rn,
                 CAST(count(*) OVER (PARTITION BY prompt_fp) AS BIGINT)
                     AS n_candidates,
                 round(score - lead(score) OVER (
                     PARTITION BY prompt_fp
                     ORDER BY score DESC, conv_id ASC), 6) AS score_gap
          FROM s
        )
        SELECT prompt_fp, conv_id, score, n_candidates, score_gap
        FROM r WHERE rn = 1 AND n_candidates >= 2
    """

    # rollout prefix-trie sharing — the running-prefix md5 replays as
    # a windowed string_agg; trie = distinct (depth, prefix) nodes
    o["cv_prefix_share"] = """
        WITH t AS (
          SELECT 'c' || CAST(event_id // 8 AS VARCHAR) AS conv_id,
                 CAST(event_id % 8 AS INTEGER) AS turn_idx,
                 CASE WHEN event_id % 8 <= (event_id // 32) % 3 + 1
                      THEN 'p:' || CAST(event_id // 32 AS VARCHAR)
                           || ':' || CAST(event_id % 8 AS VARCHAR)
                      ELSE 'c:' || CAST(event_id // 8 AS VARCHAR)
                           || ':' || CAST(event_id % 8 AS VARCHAR)
                 END AS text
          FROM events
        ), o AS (
          SELECT conv_id, text,
                 row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   AS depth
          FROM t
        ), capped AS (
          SELECT * FROM o WHERE depth <= 64
        ), p AS (
          SELECT conv_id, CAST(depth AS INTEGER) AS depth,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 md5(string_agg(text, chr(31)) OVER
                     (PARTITION BY conv_id ORDER BY depth
                      ROWS UNBOUNDED PRECEDING)) AS pf,
                 first_value(md5(text)) OVER
                     (PARTITION BY conv_id ORDER BY depth
                      ROWS UNBOUNDED PRECEDING) AS prompt_fp
          FROM capped
        ), ng AS (
          SELECT prompt_fp, depth, pf,
                 COUNT(*) AS cnt, MAX(n_chars) AS n_chars
          FROM p GROUP BY 1, 2, 3
        ), dg AS (
          SELECT prompt_fp, depth, COUNT(*) AS n_pf, SUM(cnt) AS n_rows,
                 SUM(n_chars) AS trie_d, SUM(n_chars * cnt) AS naive_d
          FROM ng GROUP BY 1, 2
        ), cg AS (
          SELECT prompt_fp, COUNT(*) AS n_convs, SUM(nt) AS total_turns
          FROM (
            SELECT conv_id, any_value(prompt_fp) AS prompt_fp,
                   COUNT(*) AS nt
            FROM p GROUP BY conv_id
          ) GROUP BY 1
        )
        SELECT dg.prompt_fp,
               CAST(MAX(cg.n_convs) AS BIGINT) AS n_convs,
               CAST(MAX(cg.total_turns) AS BIGINT) AS total_turns,
               CAST(SUM(naive_d) AS BIGINT) AS naive_chars,
               CAST(SUM(trie_d) AS BIGINT) AS trie_chars,
               CAST(SUM(naive_d) - SUM(trie_d) AS BIGINT) AS shared_chars,
               CAST(COALESCE(MAX(CASE WHEN n_pf = 1 AND n_rows = cg.n_convs
                                      THEN depth END), 0) AS INTEGER)
                 AS lcp_turns
        FROM dg JOIN cg USING (prompt_fp)
        GROUP BY 1
    """

    o["cv_truncate"] = rf"""
        WITH t AS ({_TRANS}),
        r AS (
          SELECT conv_id, turn_idx, role,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE CAST(length(string_split_regex(trim(text), '\s+'))
                                AS INTEGER) END AS n_tokens
          FROM t
        ),
        c AS (
          SELECT conv_id, turn_idx, role, n_tokens,
                 CAST(sum(n_tokens) OVER (
                      PARTITION BY conv_id ORDER BY turn_idx DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS suffix_tokens
          FROM r
        )
        SELECT conv_id, turn_idx, role, n_tokens, suffix_tokens,
               CASE WHEN suffix_tokens <= 64
                         OR (turn_idx = 0 AND suffix_tokens > 64)
                    THEN 1 ELSE 0 END AS keep,
               CASE WHEN turn_idx = 0 AND suffix_tokens > 64
                    THEN 1 ELSE 0 END AS pinned
        FROM c
    """

    # conversation near-dedup = the d_minhash_lsh oracle over rendered
    # conversations (the cv_sft_render string_agg) instead of documents
    o["cv_neardup"] = rf"""
        WITH t AS ({_TRANS}),
        rendered AS (
          SELECT conv_id AS doc_id,
                 string_agg('<|' || role || '|>' || chr(10) || text || chr(10),
                            '' ORDER BY turn_idx) AS text
          FROM t GROUP BY conv_id
        ), toks AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), '\s+') AS t
          FROM rendered
        ), sh AS (
          SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
          FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
          WHERE length(array_to_string(t[i:i+2], ' ')) > 0
        ), hx AS (
          SELECT doc_id, shingle, {_mh_concat} AS h FROM sh
        ), sig AS (
          SELECT doc_id, i, min(substr(h, i * 8 + 1, 8)) AS mh
          FROM hx, UNNEST(generate_series(0, 31)) AS s(i)
          GROUP BY doc_id, i
        ), bands AS (
          SELECT doc_id, i // 4 AS band, string_agg(mh, '' ORDER BY i) AS bucket
          FROM sig GROUP BY doc_id, i // 4
        ), cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), sizes AS (
          SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_common
          FROM cand c
          JOIN sh x ON x.doc_id = c.doc_a
          JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    """

    o["cv_loop_detect"] = f"""
        WITH t AS ({_TRANS}),
        isl AS (
          SELECT conv_id, role, string_split(text, ' ')[1] AS k,
                 turn_idx - row_number() OVER (
                   PARTITION BY conv_id, role, string_split(text, ' ')[1]
                   ORDER BY turn_idx) AS island
          FROM t
        ),
        runs AS (
          SELECT conv_id, count(*) AS run_len
          FROM isl GROUP BY conv_id, role, k, island
        )
        SELECT conv_id,
               max(run_len) AS max_repeat_run,
               CAST(sum(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_loop_runs,
               max(run_len) >= 3 AS looping
        FROM runs GROUP BY conv_id
    """

    o["cv_role_violations"] = f"""
        WITH t AS ({_TRANS}),
        m AS (
          SELECT conv_id,
                 CASE WHEN lag(role) OVER w = role THEN 1 ELSE 0 END
                     AS same_role,
                 CASE WHEN turn_idx = 0
                           AND role NOT IN ('user', 'system')
                      THEN 1 ELSE 0 END AS bad_start,
                 CASE WHEN role = 'tool'
                           AND coalesce(lag(role) OVER w, '<start>')
                               NOT IN ('agent', 'tool')
                      THEN 1 ELSE 0 END AS orphan_tool
          FROM t
          WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        )
        SELECT conv_id,
               CAST(sum(same_role) AS BIGINT) AS n_same_role,
               CAST(sum(bad_start) AS BIGINT) AS bad_start,
               CAST(sum(orphan_tool) AS BIGINT) AS n_orphan_tool,
               sum(same_role) = 0 AND sum(bad_start) = 0
                   AND sum(orphan_tool) = 0 AS valid
        FROM m GROUP BY conv_id
    """

    # memorization probe — positional 4-gram digests left-joined to the
    # corpus's distinct gram set (incl. its short-doc pseudo-grams, the
    # shingles() convention), runs via the pos − row_number island key
    o["d_memorization"] = r"""
        WITH ctoks AS (
          SELECT regexp_split_to_array(
                   trim(lower(regexp_replace(text, '\s+', ' ', 'g'))),
                   '\s+') AS t
          FROM documents
        ), cg AS (
          SELECT DISTINCT md5(array_to_string(t[i:i+3], ' ')) AS g
          FROM ctoks,
               UNNEST(generate_series(1, greatest(len(t) - 3, 1))) AS u(i)
          WHERE length(array_to_string(t[i:i+3], ' ')) > 0
        ), samples AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN text
                      WHEN doc_id % 3 = 1 THEN
                        'q' || CAST(doc_id AS VARCHAR)
                        || ' w' || CAST(doc_id AS VARCHAR)
                        || ' e' || CAST(doc_id AS VARCHAR)
                        || ' r' || CAST(doc_id AS VARCHAR)
                        || ' t' || CAST(doc_id AS VARCHAR)
                      ELSE substr(text, 1, 60)
                           || ' qq' || CAST(doc_id AS VARCHAR) || ' '
                           || substr(text, 61, 60)
                 END AS text
          FROM documents
        ), stoks AS (
          SELECT doc_id,
                 regexp_split_to_array(
                   trim(lower(regexp_replace(text, '\s+', ' ', 'g'))),
                   '\s+') AS t
          FROM samples
        ), sg AS (
          SELECT doc_id, i, md5(array_to_string(t[i:i+3], ' ')) AS g
          FROM stoks, UNNEST(generate_series(1, len(t) - 3)) AS u(i)
          WHERE len(t) >= 4
        ), fl AS (
          SELECT s.doc_id, s.i, cg.g IS NOT NULL AS hit
          FROM sg s LEFT JOIN cg ON s.g = cg.g
        ), runs AS (
          SELECT doc_id, grp, COUNT(*) AS run_len
          FROM (
            SELECT doc_id,
                   i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
                     AS grp
            FROM fl WHERE hit
          ) GROUP BY 1, 2
        ), mr AS (
          SELECT doc_id, MAX(run_len) AS max_run FROM runs GROUP BY 1
        ), tot AS (
          SELECT doc_id, COUNT(*) AS n_grams,
                 SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS n_matched
          FROM fl GROUP BY 1
        )
        SELECT s.doc_id,
               CAST(COALESCE(tot.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(COALESCE(tot.n_matched, 0) AS BIGINT) AS n_matched,
               CAST(COALESCE(mr.max_run, 0) AS BIGINT) AS max_run,
               CAST(CASE WHEN COALESCE(mr.max_run, 0) > 0
                         THEN mr.max_run + 3 ELSE 0 END AS BIGINT)
                 AS span_tokens,
               COALESCE(mr.max_run, 0) >= 3 AS memorized
        FROM samples s
        LEFT JOIN tot USING (doc_id)
        LEFT JOIN mr USING (doc_id)
    """

    o["d_bloom_incremental"] = """
        WITH kd AS (
          SELECT doc_id,
                 lang || '/' || source || '/'
                      || CAST(n_chars % 50 AS VARCHAR) AS key
          FROM documents
        ),
        h AS (SELECT key FROM kd WHERE doc_id < 250),
        b AS (SELECT doc_id, key FROM kd WHERE doc_id >= 250),
        bits AS (
          SELECT DISTINCT
                 ('0x' || substr(md5('bf' || CAST(i AS VARCHAR)
                                 || ':' || key), 1, 12))::BIGINT
                 % 1024 AS pos
          FROM h, UNNEST(generate_series(0, 4)) AS s(i)
        ),
        pp AS (
          SELECT key,
                 ('0x' || substr(md5('bf' || CAST(i AS VARCHAR)
                                 || ':' || key), 1, 12))::BIGINT
                 % 1024 AS pos
          FROM (SELECT DISTINCT key FROM b),
               UNNEST(generate_series(0, 4)) AS s(i)
        ),
        cand AS (
          SELECT pp.key, count(bits.pos) = 5 AS bloom_candidate
          FROM pp LEFT JOIN bits USING (pos) GROUP BY pp.key
        ),
        hk AS (SELECT DISTINCT key FROM h)
        SELECT b.doc_id, b.key, c.bloom_candidate,
               c.bloom_candidate AND hk.key IS NOT NULL AS is_dup,
               NOT (c.bloom_candidate AND hk.key IS NOT NULL) AS kept
        FROM b JOIN cand c USING (key) LEFT JOIN hk USING (key)
    """

    # exact replay of the HLL register sketch: same seed-prefixed md5,
    # 2-hex-digit bucket, 12-hex-digit (48-bit) rank word, string-length
    # bit_length, BIGINT shifts; the only float op is the final division
    # by the shared alpha*m^2*2^49 literal (IEEE-rounded identically).
    from napalm_logs_spark.operators.sketch import hll_alpha_factor

    o["d_hll_distinct"] = f"""
        WITH keys AS (
          SELECT event_type,
                 md5('hll:' || CAST(event_id AS VARCHAR)) AS h
          FROM events
        ), br AS (
          SELECT event_type, ('0x' || substr(h, 1, 2))::BIGINT AS bucket,
                 ('0x' || substr(h, 3, 12))::BIGINT AS w
          FROM keys
        ), regs AS (
          SELECT event_type, bucket,
                 max(CASE WHEN w = 0 THEN 49
                          ELSE 49 - length(bin(w)) END) AS max_rank
          FROM br GROUP BY 1, 2
        ), agg AS (
          SELECT event_type, count(*) AS _nb,
                 sum(1::BIGINT << (49 - max_rank)) AS _sp
          FROM regs GROUP BY 1
        ), fin AS (
          SELECT event_type, 256 AS m,
                 CAST(256 - _nb AS BIGINT) AS v_empty,
                 CAST(_sp + (256 - _nb) * (1::BIGINT << 49) AS BIGINT)
                     AS s_scaled
          FROM agg
        )
        SELECT e.event_type, e.exact_distinct, f.m, f.v_empty, f.s_scaled,
               round({hll_alpha_factor(8)!r} / s_scaled, 4) AS est_distinct
        FROM (SELECT event_type, count(DISTINCT event_id) AS exact_distinct
              FROM events GROUP BY 1) e
        JOIN fin f USING (event_type)
    """

    # hll_overlap replay: the union registers are computed straight over
    # the unioned key set — per bucket max(A ∪ B) = max(max A, max B),
    # i.e. exactly what hll_merge's MAX-merge of the two register tables
    # produces.  Estimate chain order matches the operator: alpha/s is
    # one IEEE division; overlap = (a + b) - u left-to-right.
    _hll_regs = """
          SELECT ('0x' || substr(h, 1, 2))::BIGINT AS bucket,
                 max(CASE WHEN ('0x' || substr(h, 3, 12))::BIGINT = 0 THEN 49
                          ELSE 49 - length(bin(('0x' || substr(h, 3, 12))::BIGINT)) END)
                     AS max_rank
          FROM {src} GROUP BY 1
    """
    _hll_scaled = """
          SELECT CAST(sum(1::BIGINT << (49 - max_rank))
                      + (256 - count(*)) * (1::BIGINT << 49) AS BIGINT) AS {name}
          FROM {regs}
    """
    _alpha = f"{hll_alpha_factor(8)!r}"
    o["d_corpus_overlap"] = (
        """
        WITH crawl_a AS (
          SELECT md5('hll:' || md5(text)) AS h FROM documents WHERE doc_id % 3 <> 0
        ), crawl_b AS (
          SELECT md5('hll:' || md5(text)) AS h FROM documents WHERE doc_id % 2 = 0
        ), crawl_u AS (
          SELECT h FROM crawl_a UNION ALL SELECT h FROM crawl_b
        ), regs_a AS ("""
        + _hll_regs.format(src="crawl_a")
        + "), regs_b AS ("
        + _hll_regs.format(src="crawl_b")
        + "), regs_u AS ("
        + _hll_regs.format(src="crawl_u")
        + "), sa AS ("
        + _hll_scaled.format(regs="regs_a", name="s_a")
        + "), sb AS ("
        + _hll_scaled.format(regs="regs_b", name="s_b")
        + "), su AS ("
        + _hll_scaled.format(regs="regs_u", name="s_u")
        + f"""
        )
        SELECT 256 AS m, s_a, s_b, s_u,
               round({_alpha} / s_a, 4) AS est_a,
               round({_alpha} / s_b, 4) AS est_b,
               round({_alpha} / s_u, 4) AS est_union,
               round({_alpha} / s_a + {_alpha} / s_b - {_alpha} / s_u, 4)
                   AS est_overlap,
               round(({_alpha} / s_a + {_alpha} / s_b - {_alpha} / s_u)
                     / ({_alpha} / s_u), 4) AS est_jaccard
        FROM sa, sb, su
    """
    )

    o["q_cdc_apply"] = """
        WITH log AS (
          SELECT CAST(event_id % 997 AS BIGINT) AS key,
                 CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
                 value, ts, event_id
          FROM events
        ), v AS (
          SELECT *,
                 row_number() OVER (PARTITION BY key
                                    ORDER BY ts DESC, event_id DESC) AS rn,
                 count(*) OVER (PARTITION BY key) AS n_versions
          FROM log
        )
        SELECT key, value, ts, event_id, CAST(n_versions AS BIGINT) AS n_versions
        FROM v WHERE rn = 1 AND op <> 'D'
    """

    o["cv_pii_scrub"] = (
        "WITH t AS (" + _TRANS + ")" + r"""
        , p AS (
          SELECT conv_id, turn_idx,
                 concat_ws(' ', text,
                   'mail', 'u' || CAST(turn_idx AS VARCHAR) || '@example.com',
                   'ip', '10.' || CAST(turn_idx % 256 AS VARCHAR) || '.0.1',
                   'tel', '+1 555 ' || lpad(CAST(turn_idx % 10000 AS VARCHAR), 4, '0'),
                   'sid', '9' || lpad(CAST((turn_idx * 13) % 1000000 AS VARCHAR), 9, '0')
                 ) AS pii_text
          FROM t
        ), r1 AS (
          SELECT conv_id, turn_idx,
                 CAST(len(regexp_extract_all(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                 regexp_replace(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s
          FROM p
        ), r2 AS (
          SELECT conv_id, turn_idx, n_email,
                 CAST(len(regexp_extract_all(s, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
                 regexp_replace(s, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS s
          FROM r1
        ), r3 AS (
          SELECT conv_id, turn_idx, n_email, n_ipv4,
                 CAST(len(regexp_extract_all(s, '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}\b')) AS BIGINT) AS n_phone,
                 regexp_replace(s, '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}\b', '<PHONE>', 'g') AS s
          FROM r2
        )
        SELECT conv_id, turn_idx, n_email, n_ipv4, n_phone,
               CAST(len(regexp_extract_all(s, '\b\d{9,}\b')) AS BIGINT) AS n_id,
               regexp_replace(s, '\b\d{9,}\b', '<ID>', 'g') AS redacted
        FROM r3
    """
    )

    # PageRank: the all-integer recurrence (operators/graph.py) unrolled
    # as chained CTEs — `//` is BIGINT floor division, matching Spark's
    # `div`; dang{k} is the dangling-mass reduction of iteration k
    _pr = []
    _prev = "r0"
    for _k in range(1, 11):
        _pr.append(f"""
        dang{_k} AS MATERIALIZED (
          SELECT coalesce(sum(r.rank), 0) AS dang
          FROM {_prev} r LEFT JOIN deg d USING (node)
          WHERE d.node IS NULL
        ),
        r{_k} AS MATERIALIZED (
          SELECT no.node,
                 cs.tp + (85 * (coalesce(c.contrib, 0)
                                + dk.dang // cs.n)) // 100 AS rank
          FROM nodes no CROSS JOIN consts cs CROSS JOIN dang{_k} dk
          LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank // d.outdeg) AS contrib
            FROM {_prev} r JOIN deg d USING (node)
            JOIN edges e ON e.src = r.node
            GROUP BY e.dst
          ) c ON c.node = no.node
        )""")
        _prev = f"r{_k}"
    o["g_pagerank"] = f"""
        WITH consts AS (
          SELECT count(*) AS n,
                 1000000000000 // count(*) AS base,
                 (15 * (1000000000000 // count(*))) // 100 AS tp
          FROM documents
        ),
        nodes AS (SELECT doc_id AS node FROM documents),
        edges AS MATERIALIZED (
          SELECT src, dst FROM (
            SELECT doc_id AS src,
                   UNNEST([(17 * doc_id + 1) % cs.n,
                           (29 * doc_id + 3) % cs.n,
                           CASE WHEN doc_id % 3 = 0
                                THEN (13 * doc_id + 7) % cs.n END]) AS dst
            FROM documents CROSS JOIN consts cs
          ) WHERE dst IS NOT NULL AND src % 7 <> 0
        ),
        deg AS MATERIALIZED (SELECT src AS node, count(*) AS outdeg
                FROM edges GROUP BY src),
        r0 AS (SELECT node, cs.base AS rank
               FROM nodes CROSS JOIN consts cs),
        {",".join(_pr)}
        SELECT node, CAST(rank AS BIGINT) AS rank FROM {_prev}
    """

    # Bradley–Terry MM, 8 iterations unrolled — the same all-integer
    # recurrence bt_ratings runs (pair table ONCE, per iteration:
    # per-pair floor contribution to both endpoints, win-scaled raw
    # update clamped >= 1, total-mass renormalization)
    _bt = []
    _btprev = "p0"
    for _k in range(1, 9):
        _bt.append(f"""
        pairc{_k} AS MATERIALIZED (
          SELECT pr.i, pr.j,
                 (pr.n * 1000000000000) // (pi.p + pj.p) AS c
          FROM pairs pr JOIN {_btprev} pi ON pi.item = pr.i
                        JOIN {_btprev} pj ON pj.item = pr.j
        ),
        denom{_k} AS (
          SELECT item, sum(c) AS denom FROM (
            SELECT i AS item, c FROM pairc{_k}
            UNION ALL SELECT j, c FROM pairc{_k}
          ) GROUP BY item
        ),
        raw{_k} AS MATERIALIZED (
          SELECT it.item,
                 greatest((it.wins * 1000000000000) // d.denom, 1) AS raw
          FROM items it JOIN denom{_k} d USING (item)
        ),
        p{_k} AS MATERIALIZED (
          SELECT item,
                 (raw * (SELECT count(*) FROM items) * 1000000)
                   // (SELECT sum(raw) FROM raw{_k}) AS p
          FROM raw{_k}
        )""")
        _btprev = f"p{_k}"
    o["r_bt_arena"] = f"""
        WITH battles AS (
          SELECT CASE WHEN coin % (a + b + 2) < a + 1 THEN a ELSE b END AS winner,
                 CASE WHEN coin % (a + b + 2) < a + 1 THEN b ELSE a END AS loser
          FROM (
            SELECT event_id % 8 AS a, (event_id // 8) % 8 AS b,
                   ('0x' || substr(md5('bt:' || CAST(event_id AS VARCHAR)),
                                   1, 6))::BIGINT AS coin
            FROM events
          ) WHERE a <> b
        ),
        pairs AS MATERIALIZED (
          SELECT least(winner, loser) AS i, greatest(winner, loser) AS j,
                 count(*) AS n,
                 sum(CASE WHEN winner < loser THEN 1 ELSE 0 END) AS wi
          FROM battles GROUP BY 1, 2
        ),
        items AS MATERIALIZED (
          SELECT item, sum(w) AS wins, sum(n) AS n_comps FROM (
            SELECT i AS item, n, wi AS w FROM pairs
            UNION ALL SELECT j, n, n - wi FROM pairs
          ) GROUP BY item
        ),
        p0 AS (SELECT item, 1000000 AS p FROM items),
        {",".join(_bt)}
        SELECT it.item, CAST(pf.p AS BIGINT) AS rating,
               CAST(it.wins AS BIGINT) AS wins,
               CAST(it.n_comps AS BIGINT) AS n_comps
        FROM items it JOIN {_btprev} pf USING (item)
    """

    # GRPO/RLOO advantages — exact integer sufficient statistics per
    # rollout group; the float z-score / leave-one-out baseline are the
    # same single IEEE chain on both engines, floored to 1e-6 fixed
    # point (the s_quantize_int8 compare recipe)
    o["r_grpo_adv"] = """
        WITH r AS (
          SELECT event_id // 8 AS prompt_id,
                 event_id AS rollout_id,
                 CAST(FLOOR(value * 100) AS BIGINT) AS reward
          FROM events
        ), g AS (
          SELECT prompt_id, rollout_id, reward,
                 COUNT(*) OVER w AS n,
                 SUM(reward) OVER w AS sum_r,
                 SUM(reward * reward) OVER w AS sum_r2
          FROM r WINDOW w AS (PARTITION BY prompt_id)
        ), s AS (
          SELECT prompt_id, rollout_id, reward, CAST(n AS BIGINT) AS n,
                 CAST(n * reward - sum_r AS BIGINT) AS adv_num,
                 CAST(n * sum_r2 - sum_r * sum_r AS BIGINT) AS var_num
          FROM g
        )
        SELECT prompt_id, rollout_id, reward, n, adv_num, var_num,
               CASE WHEN var_num > 0 THEN CAST(FLOOR(
                   CAST(adv_num AS DOUBLE) / SQRT(CAST(var_num AS DOUBLE)) * 1e6
               ) AS BIGINT) END AS grpo_adv_fp,
               CASE WHEN n > 1 THEN CAST(FLOOR(
                   CAST(adv_num AS DOUBLE) / CAST(n - 1 AS DOUBLE) * 1e6
               ) AS BIGINT) END AS rloo_adv_fp,
               var_num = 0 AS degenerate
        FROM s
    """

    # reward-length bias — exact integer Pearson pieces; the float r is
    # the same 4-op IEEE chain (two sqrt, multiply, divide) both sides
    o["r_reward_len_bias"] = """
        WITH ro AS (
          SELECT event_id // 64 AS prompt_id,
                 CAST(length(props) AS BIGINT) AS x,
                 CASE WHEN (event_id // 64) % 2 = 0
                      THEN CAST(FLOOR(value * 100) AS BIGINT)
                           + CAST(length(props) AS BIGINT) * 20
                      ELSE CAST(FLOOR(value * 100) AS BIGINT)
                 END AS y
          FROM events
        ), g AS (
          SELECT prompt_id, COUNT(*) AS n,
                 SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                 SUM(x * x) AS sxx, SUM(y * y) AS syy
          FROM ro GROUP BY 1
        ), s AS (
          SELECT prompt_id, CAST(n AS BIGINT) AS n,
                 CAST(n * sxy - sx * sy AS BIGINT) AS num,
                 CAST(n * sxx - sx * sx AS BIGINT) AS denx,
                 CAST(n * syy - sy * sy AS BIGINT) AS deny
          FROM g
        )
        SELECT prompt_id, n, num, denx, deny,
               CASE WHEN denx > 0 AND deny > 0 THEN CAST(FLOOR(
                 CAST(num AS DOUBLE)
                   / (SQRT(CAST(denx AS DOUBLE)) * SQRT(CAST(deny AS DOUBLE)))
                   * 1e6) AS BIGINT) END AS pearson_fp
        FROM s
    """

    # boilerplate turns — distinct-conversation frequency of the
    # normalized turn digest, planted 'ack' templates on every 5th event
    o["cv_boilerplate"] = f"""
        WITH ev AS (
          SELECT event_id, ts, user_id, event_type,
                 CASE WHEN event_id % 5 = 0 THEN 'ack' ELSE props END AS props
          FROM events
        ), t AS ({_TRANS.replace("FROM events", "FROM ev")}),
        k AS (
          SELECT conv_id, turn_idx, role, text,
                 md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                   AS key
          FROM t
        ), dfreq AS (
          SELECT key, COUNT(*) AS turn_df
          FROM (SELECT DISTINCT key, conv_id FROM k) GROUP BY 1
        )
        SELECT conv_id, turn_idx, role, text,
               CAST(turn_df AS BIGINT) AS turn_df,
               turn_df >= 3 AS is_boilerplate
        FROM k JOIN dfreq USING (key)
    """

    # Fleiss' kappa — exact integer sufficient statistics over the
    # qualified (exactly-3-ratings) items; same pinned division chain
    o["r_fleiss_kappa"] = """
        WITH r AS (
          SELECT event_id // 3 AS item_id,
                 'c' || CAST(CAST(FLOOR(value * 100) AS BIGINT) % 4
                             AS VARCHAR) AS category
          FROM events
        ), counts AS (
          SELECT item_id, category, COUNT(*) AS n_ic
          FROM r GROUP BY 1, 2
        ), per_item AS (
          SELECT item_id, SUM(n_ic) AS n_i,
                 SUM(n_ic * (n_ic - 1)) AS po_i
          FROM counts GROUP BY 1
        ), istats AS (
          SELECT CAST(SUM(CASE WHEN n_i = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_items,
                 CAST(SUM(CASE WHEN n_i <> 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_items_dropped,
                 CAST(SUM(CASE WHEN n_i = 3 THEN po_i ELSE 0 END) AS BIGINT)
                   AS po_num
          FROM per_item
        ), cstats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
                 CAST(SUM(t * t) AS BIGINT) AS s
          FROM (
            SELECT c.category, SUM(c.n_ic) AS t
            FROM counts c JOIN per_item p USING (item_id)
            WHERE p.n_i = 3
            GROUP BY 1
          )
        ), flat AS (
          SELECT n_items, CAST(3 AS INTEGER) AS n_raters, n_categories,
                 n_items_dropped, po_num,
                 n_items * 3 * 2 AS po_den, s,
                 (n_items * 3) * (n_items * 3) AS nn2
          FROM istats, cstats
        )
        SELECT n_items, n_raters, n_categories, n_items_dropped,
               po_num, po_den, s, nn2,
               -- ADVICE r3: guard the degenerate all-items-dropped input
               -- (n_items = 0 → po_den = nn2 = 0 → 0/0 NaN, and
               -- CAST(NaN AS BIGINT) errors in DuckDB) the same way the
               -- Spark side does: NULL stats when no complete items.
               CASE WHEN n_items > 0 THEN
                 CAST(FLOOR(CAST(po_num AS DOUBLE) / CAST(po_den AS DOUBLE)
                            * 1e6) AS BIGINT)
               END AS po_fp,
               CASE WHEN n_items > 0 THEN
                 CAST(FLOOR(CAST(s AS DOUBLE) / CAST(nn2 AS DOUBLE)
                            * 1e6) AS BIGINT)
               END AS pe_fp,
               CASE WHEN n_items > 0
                         AND CAST(s AS DOUBLE) / CAST(nn2 AS DOUBLE) <> 1.0
                    THEN CAST(FLOOR(
                      (CAST(po_num AS DOUBLE) / CAST(po_den AS DOUBLE)
                       - CAST(s AS DOUBLE) / CAST(nn2 AS DOUBLE))
                      / (1.0 - CAST(s AS DOUBLE) / CAST(nn2 AS DOUBLE))
                      * 1e6) AS BIGINT)
               END AS kappa_fp
        FROM flat
    """

    # priority sampling — same all-integer priority (w<<32) // (U+1),
    # same (priority DESC, id ASC) order, tau = the 201st priority
    o["t_priority_sample"] = """
        WITH cand AS (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
                 (CAST(n_chars AS BIGINT) * 4294967296)
                   // (('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)),
                        1, 8))::BIGINT + 1) AS priority
          FROM documents
          WHERE n_chars IS NOT NULL AND n_chars > 0
        ),
        ranked AS (
          SELECT cand.*,
                 row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rn
          FROM cand
        ),
        tau AS (
          SELECT coalesce(max(CASE WHEN rn = 201 THEN priority END), 0) AS t
          FROM ranked
        )
        SELECT doc_id, weight, priority,
               greatest(weight, tau.t) AS est_weight
        FROM ranked, tau
        WHERE rn <= 200
    """

    o["g_triangles"] = """
        WITH consts AS (SELECT count(*) AS n FROM documents),
        base_edges AS (
          SELECT src, dst FROM (
            SELECT doc_id AS src,
                   UNNEST([(17 * doc_id + 1) % cs.n,
                           (29 * doc_id + 3) % cs.n,
                           CASE WHEN doc_id % 3 = 0
                                THEN (13 * doc_id + 7) % cs.n END]) AS dst
            FROM documents CROSS JOIN consts cs
          ) WHERE dst IS NOT NULL AND src % 7 <> 0
        ),
        planted AS (
          SELECT doc_id AS src, (doc_id + 1) % cs.n AS dst
          FROM documents CROSS JOIN consts cs WHERE doc_id % 5 = 0
          UNION ALL
          SELECT (doc_id + 1) % cs.n, (doc_id + 2) % cs.n
          FROM documents CROSS JOIN consts cs WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id, (doc_id + 2) % cs.n
          FROM documents CROSS JOIN consts cs WHERE doc_id % 5 = 0
        ),
        und AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM (SELECT * FROM base_edges UNION ALL SELECT * FROM planted)
          WHERE src <> dst
        ),
        deg AS MATERIALIZED (
          SELECT node, count(*) AS deg FROM (
            SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
          ) GROUP BY node
        ),
        oriented AS MATERIALIZED (
          SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
                      THEN u ELSE v END AS a,
                 CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
                      THEN v ELSE u END AS b,
                 CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
                      THEN dv.deg ELSE du.deg END AS db
          FROM und JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
        ),
        tris AS (
          SELECT o1.a AS a, o1.b AS b, o2.b AS c
          FROM oriented o1 JOIN oriented o2 ON o1.a = o2.a
           AND (o1.db < o2.db OR (o1.db = o2.db AND o1.b < o2.b))
          JOIN oriented o3 ON o3.a = o1.b AND o3.b = o2.b
        ),
        per_node AS (
          SELECT node, count(*) AS triangles FROM (
            SELECT a AS node FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
          ) GROUP BY node
        )
        SELECT d.node AS node, d.deg AS deg,
               coalesce(p.triangles, 0) AS triangles,
               CASE WHEN d.deg >= 2 THEN
                 CAST(coalesce(p.triangles, 0) * 2 AS DOUBLE)
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS lcc
        FROM deg d LEFT JOIN per_node p USING (node)
    """

    o["t_bm25"] = r"""
        WITH terms AS MATERIALIZED (
          SELECT doc_id, term FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
            FROM documents
          ) WHERE length(term) > 0
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf
               FROM terms GROUP BY doc_id, term),
        dl AS MATERIALIZED (SELECT doc_id, count(*) AS dl
                            FROM terms GROUP BY doc_id),
        stats AS (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                           AS avgdl,
                         CAST(count(*) AS DOUBLE) AS n
                  FROM dl),
        docfreq AS (SELECT term, count(DISTINCT doc_id) AS df
                    FROM terms GROUP BY term),
        qterms AS (
          SELECT DISTINCT query_id, term FROM (
            SELECT doc_id AS query_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')[1:4])
                     AS term
            FROM documents WHERE doc_id % 97 = 0
          ) WHERE length(term) > 0
        ),
        scored AS (
          SELECT q.query_id, tf.doc_id, count(*) AS n_hit,
                 sum(CAST(floor(
                   ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5))
                   * ((tf.tf * 2.2) /
                      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)))
                   * 1000000.0) AS BIGINT)) AS score_fp
          FROM tf JOIN qterms q USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          JOIN docfreq d USING (term) CROSS JOIN stats st
          GROUP BY q.query_id, tf.doc_id
        )
        SELECT query_id, doc_id, n_hit,
               CAST(score_fp AS BIGINT) AS score_fp,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY score_fp DESC, doc_id)
                    AS BIGINT) AS rnk
        FROM scored QUALIFY rnk <= 10
    """

    _bleu_ctes, _bleu_cols = [], []
    for _n in range(1, 5):
        for _side, _src in (("c", "ctoks"), ("r", "rtoks")):
            _bleu_ctes.append(f"""
        {_side}g{_n} AS (
          SELECT doc_id, array_to_string(t[i:i+{_n - 1}], chr(31)) AS g,
                 count(*) AS c
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_n} + 2)) AS i
                FROM {_src} WHERE len(t) >= {_n})
          GROUP BY doc_id, g)""")
        _bleu_ctes.append(f"""
        mm{_n} AS (
          SELECT c.doc_id, sum(least(c.c, r.c)) AS m
          FROM cg{_n} c JOIN rg{_n} r ON c.doc_id = r.doc_id AND c.g = r.g
          GROUP BY c.doc_id)""")
        _bleu_cols.append(
            f"CAST(coalesce(mm{_n}.m, 0) AS BIGINT) AS m{_n}, "
            f"greatest(len(ct.t) - {_n - 1}, 0) AS t{_n}"
        )
    _bleu_joins = "".join(
        f" LEFT JOIN mm{_n} ON mm{_n}.doc_id = ct.doc_id" for _n in range(1, 5)
    )
    o["t_bleu_stats"] = rf"""
        WITH consts AS (SELECT count(*) AS n FROM documents),
        pairs AS MATERIALIZED (
          SELECT a.doc_id AS doc_id, a.text AS cand, b.text AS ref
          FROM documents a CROSS JOIN consts cs
          JOIN documents b ON b.doc_id = (a.doc_id + 1) % cs.n
        ),
        ctoks AS MATERIALIZED (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(lower(cand)), '\s+'),
                             x -> length(x) > 0) AS t
          FROM pairs),
        rtoks AS MATERIALIZED (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(lower(ref)), '\s+'),
                             x -> length(x) > 0) AS t
          FROM pairs),
        {",".join(_bleu_ctes)}
        SELECT ct.doc_id AS doc_id,
               len(ct.t) AS cand_len, len(rt.t) AS ref_len,
               {", ".join(_bleu_cols)}
        FROM ctoks ct JOIN rtoks rt ON rt.doc_id = ct.doc_id{_bleu_joins}
    """

    o["t_chi2_drift"] = """
        WITH cells AS MATERIALIZED (
          SELECT lang AS bucket,
                 CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS split,
                 count(*) AS o
          FROM documents GROUP BY 1, 2
        ),
        row_tot AS (SELECT bucket, sum(o) AS rt FROM cells GROUP BY bucket),
        col_tot AS (SELECT split, sum(o) AS ct FROM cells GROUP BY split),
        grand AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM cells)
        SELECT c.bucket AS bucket, c.split AS split, c.o AS o,
               CAST(r.rt * t.ct AS DOUBLE) / g.n AS e,
               (c.o - CAST(r.rt * t.ct AS DOUBLE) / g.n)
                 * (c.o - CAST(r.rt * t.ct AS DOUBLE) / g.n)
                 / (CAST(r.rt * t.ct AS DOUBLE) / g.n) AS contrib
        FROM cells c
        JOIN row_tot r USING (bucket)
        JOIN col_tot t USING (split)
        CROSS JOIN grand g
    """

    _dm_ctes = []
    _dm_prev = "w0"
    for _t_ in range(1, 9):
        _dm_ctes.append(f"""
        u{_t_} AS (SELECT domain, mu_fp,
                          (w * (1000000 + (1 * mu_fp) // 4)) // 1000000 AS wu,
                          acc
                   FROM {_dm_prev}),
        n{_t_} AS (SELECT domain, mu_fp,
                          CAST((CAST(wu AS HUGEINT) * 1000000000000)
                               // (SELECT sum(wu) FROM u{_t_}) AS BIGINT) AS wn,
                          acc
                   FROM u{_t_}),
        w{_t_} AS (SELECT domain, mu_fp, wn AS w, acc + wn AS acc FROM n{_t_})""")
        _dm_prev = f"w{_t_}"
    o["t_doremi"] = f"""
        WITH losses AS (
          SELECT source AS domain,
                 (doc_id * 7919 + n_chars * 131) % 1000001 AS loss
          FROM documents
        ),
        mu AS MATERIALIZED (
          SELECT domain, sum(loss) // count(*) AS mu_fp
          FROM losses GROUP BY domain
        ),
        kk AS (SELECT count(*) AS k FROM mu),
        w0 AS (SELECT domain, mu_fp, 1000000000000 // kk.k AS w,
                      CAST(0 AS BIGINT) AS acc
               FROM mu CROSS JOIN kk),
        {",".join(_dm_ctes)}
        SELECT domain, CAST(mu_fp AS BIGINT) AS mu_fp,
               CAST(w AS BIGINT) AS w,
               CAST(acc // 8 AS BIGINT) AS w_bar FROM {_dm_prev}
    """

    o["t_doremi_apply"] = f"""
        WITH losses AS (
          SELECT source AS domain,
                 (doc_id * 7919 + n_chars * 131) % 1000001 AS loss
          FROM documents
        ),
        mu AS MATERIALIZED (
          SELECT domain, sum(loss) // count(*) AS mu_fp
          FROM losses GROUP BY domain
        ),
        kk AS (SELECT count(*) AS k FROM mu),
        w0 AS (SELECT domain, mu_fp, 1000000000000 // kk.k AS w,
                      CAST(0 AS BIGINT) AS acc
               FROM mu CROSS JOIN kk),
        {",".join(_dm_ctes)},
        quotas AS (
          SELECT domain, (nd.nd * (acc // 8)) // 1000000000000 AS quota
          FROM {_dm_prev} CROSS JOIN (SELECT count(*) AS nd FROM documents) nd
        ),
        ranked AS (
          SELECT doc_id, source AS domain,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS pick_rank
          FROM documents
        )
        SELECT r.doc_id AS doc_id, r.domain AS domain, r.pick_rank AS pick_rank
        FROM ranked r JOIN quotas q USING (domain)
        WHERE r.pick_rank <= q.quota
    """

    o["e_hist_quantiles"] = """
        WITH vals AS (
          SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
        ),
        hist AS MATERIALIZED (
          SELECT v // 500 AS bin, count(*) AS cnt
          FROM vals WHERE v >= 0 GROUP BY 1
        ),
        cum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM hist),
        nn AS (SELECT sum(cnt) AS n FROM hist),
        specs AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q_pct)
        SELECT q_pct, rank, min(bin) AS bin,
               min(bin) * 500 AS lo, (min(bin) + 1) * 500 - 1 AS hi
        FROM (
          SELECT s.q_pct AS q_pct,
                 CAST((s.q_pct * nn.n + 99) // 100 AS BIGINT) AS rank,
                 c.bin AS bin, c.cum AS cum
          FROM cum c CROSS JOIN nn CROSS JOIN specs s
        )
        WHERE cum >= rank GROUP BY q_pct, rank
    """

    # the planted-mutation corpus shared by the character-level dedup
    # oracles — verbatim replay of queries()._mutated_corpus
    _MUT = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               substr(text, 1, 10) || 'X' || substr(text, 12)
        FROM documents WHERE doc_id % 5 = 0 AND length(text) > 15
        UNION ALL
        SELECT doc_id + 2000000,
               substr(text, 1, 20) || substr(text, 22)
        FROM documents WHERE doc_id % 7 = 0 AND length(text) > 25
    """

    # BRUTE FORCE on purpose: the Spark side prunes candidates with the
    # Ed-Join q-gram prefix filter; an all-pairs levenshtein (length-
    # filtered) oracle independently proves that pruning loses nothing.
    o["d_editdist"] = f"""
        WITH c AS (
          SELECT * FROM ({_MUT}) WHERE doc_id % 2 = 0
        ),
        n AS (
          SELECT doc_id,
                 trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
          FROM c
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.norm, b.norm) AS INTEGER) AS dist
        FROM n a JOIN n b
          ON a.doc_id < b.doc_id
         AND abs(length(a.norm) - length(b.norm)) <= 2
        WHERE levenshtein(a.norm, b.norm) <= 2
    """

    o["cv_refusals"] = f"""
        WITH t AS ({_TRANS}),
        planted AS (
          SELECT conv_id, role,
                 CASE
                   WHEN role = 'agent'
                        AND (turn_idx * 31 + length(text)) % 13 < 2
                     THEN text || ' I cannot help with that.'
                   WHEN role = 'agent'
                        AND (turn_idx * 31 + length(text)) % 13 < 4
                     THEN text || ' As an AI, here is a summary.'
                   ELSE text
                 END AS text
          FROM t
        ),
        marked AS (
          SELECT conv_id,
                 CASE WHEN role = 'agent' THEN 1 ELSE 0 END AS is_agent,
                 CASE WHEN role = 'agent' AND (
                        lower(text) LIKE '%i cannot help%'
                        OR lower(text) LIKE '%i can''t help%'
                        OR lower(text) LIKE '%i cannot assist%'
                        OR lower(text) LIKE '%i am unable to%'
                        OR lower(text) LIKE '%i''m unable to%'
                        OR lower(text) LIKE '%i must decline%'
                        OR lower(text) LIKE '%as an ai%'
                      ) THEN 1 ELSE 0 END AS refused
          FROM planted
        ),
        agg AS (
          SELECT conv_id,
                 CAST(sum(is_agent) AS BIGINT) AS n_agent,
                 CAST(sum(refused) AS BIGINT) AS n_refusals
          FROM marked GROUP BY conv_id
        )
        SELECT conv_id, n_agent, n_refusals,
               CASE WHEN n_agent > 0
                    THEN CAST((n_refusals * 10000) // n_agent AS BIGINT)
               END AS refusal_pct_fp,
               coalesce(
                 CASE WHEN n_agent > 0
                      THEN (n_refusals * 10000) // n_agent <= 5000 END,
                 TRUE
               ) AS keep
        FROM agg
    """

    return _priority_order(o)
