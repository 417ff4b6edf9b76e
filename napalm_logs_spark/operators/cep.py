"""Stateful / correlation operators — the CEP surface.

The reference keeps correlation state in its sinks; this engine promotes
those behaviors to first-class windowed/stateful DataFrame operators:

* up/down pair resolution  (alerta sink, transport/alerta.py:46-69)
* per-entity state gauges  (prometheus sink, transport/prometheus.py:70-93)
* agent↔tool turn pairing  (graft-specific stream-stream interval join)
* ordered-sequence matches, hysteresis alerts, rate anomalies and
  windowed funnels

Event counters, flap counts and session windows are the registry's own
inline plans (``c3_tumbling_counts``, ``c5_flaps``, ``c7_sessions``).

Everything here is declarative DataFrame ops — Catalyst plans the
shuffles; every operator shuffles at most once on its natural key.
Streaming variants reuse the same column expressions with watermarks.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: canonical up/down error pairs (alerta sink semantics,
#: transport/alerta.py:46-56): UP error closes the DOWN alert of the
#: same (host, entity).  Alarm families follow the prometheus sink's
#: gauge semantics: SYSTEM_ALARM sets 1 / *_CLEARED sets 0 per
#: (host, component) (transport/prometheus.py:458-501) and
#: {MINOR,MAJOR}_ALARM_{SET,CLEARED} set 1/0 per (host, alarm_reason)
#: (transport/prometheus.py:503-540).
UP_DOWN_PAIRS: dict = {
    "INTERFACE_UP": ("interface", 1),
    "INTERFACE_DOWN": ("interface", 0),
    "OSPF_NEIGHBOR_UP": ("ospf_neighbor", 1),
    "OSPF_NEIGHBOR_DOWN": ("ospf_neighbor", 0),
    "ISIS_NEIGHBOR_UP": ("isis_neighbor", 1),
    "ISIS_NEIGHBOR_DOWN": ("isis_neighbor", 0),
    "BFD_STATE_CHANGE": ("bfd_session", None),
    "BGP_NEIGHBOR_STATE_CHANGED": ("bgp_neighbor", None),
    "SYSTEM_ALARM": ("system_alarm", 1),
    "SYSTEM_ALARM_CLEARED": ("system_alarm", 0),
    "MINOR_ALARM_SET": ("minor_alarm", 1),
    "MINOR_ALARM_CLEARED": ("minor_alarm", 0),
    "MAJOR_ALARM_SET": ("major_alarm", 1),
    "MAJOR_ALARM_CLEARED": ("major_alarm", 0),
}

#: families whose PROBLEM state is 1 (alarm set), inverting the
#: interface/neighbor convention where 0 (down) is the problem —
#: drives the alert 'status' polarity in transitions() while
#: the state01 gauge stays prometheus-exact (1=SET, 0=CLEARED)
PROBLEM_WHEN_ONE = frozenset({"system_alarm", "minor_alarm", "major_alarm"})


def _status_col(state_col, family_col):
    """'open' when the entity entered its problem state, else 'closed'."""
    problem = F.when(
        family_col.isin(*PROBLEM_WHEN_ONE), state_col == 1
    ).otherwise(state_col == 0)
    return F.when(problem, F.lit("open")).otherwise(F.lit("closed"))


def state_events(env: DataFrame) -> DataFrame:
    """Envelope rows → state-change events ``(host, family, entity,
    state01, ts …)`` for the paired up/down errors.

    The pair table is tiny → broadcast hash join (no shuffle of the
    event stream).  Errors carrying an explicit profile-level ``state``
    column (M9) override the pair-derived value.
    """
    spark = env.sparkSession
    pair_rows = [
        (error, family, state) for error, (family, state) in UP_DOWN_PAIRS.items()
    ]
    pair_df = spark.createDataFrame(
        pair_rows, "error string, family string, pair_state int"
    )
    return (
        env.join(F.broadcast(pair_df), on="error", how="inner")
        .withColumn(
            "state01",
            F.coalesce(F.col("state").cast("int"), F.col("pair_state")),
        )
        .filter(F.col("state01").isNotNull() & F.col("entity").isNotNull())
        .drop("pair_state")
    )


def last_state_gauge(events: DataFrame) -> DataFrame:
    """Latest state per (host, family, entity) — the prometheus gauge
    semantics (transport/prometheus.py:70-93), batch form.

    ``max_by`` over an ordering struct → single partial-aggregating
    shuffle, no window sort.
    """
    ordering = F.struct(F.col("ts"), F.col("turn_idx"))
    return events.groupBy("host", "family", "entity").agg(
        F.max_by("state01", ordering).alias("state"),
        F.max_by("error", ordering).alias("last_error"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


def transitions(events: DataFrame) -> DataFrame:
    """State *changes* per (host, family, entity): rows where the state
    differs from the previous state of the same key (alerta open/close
    resolution, transport/alerta.py:57-69).

    ``status``: 'open' when the entity went down, 'closed' when it came
    back up.  One shuffle (window partition by key).
    """
    w = Window.partitionBy("host", "family", "entity").orderBy("ts", "turn_idx")
    prev = F.lag("state01").over(w)
    return (
        events.withColumn("prev_state", prev)
        .filter(F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state01")))
        .withColumn("status", _status_col(F.col("state01"), F.col("family")))
    )


def agent_tool_pairs(
    transcripts: DataFrame,
    horizon_seconds: int = 60,
    streaming: bool = False,
    watermark: str = "2 minutes",
    how: str | None = None,
) -> DataFrame:
    """Pair each ``role='agent'`` turn with the ``role='tool'`` turns
    that follow it in the same conversation within ``horizon_seconds``
    (the reference's request/response pairing generalized — C6).

    Batch: left-outer interval join (orphan agent turns keep null tool).
    Streaming: stream-stream interval join with watermarks on both
    sides (Spark bounds state to the horizon + watermark delay).
    """
    agents = transcripts.filter(F.col("role") == "agent").select(
        F.col("conv_id"),
        F.col("turn_idx").alias("agent_turn"),
        F.col("text").alias("agent_text"),
        F.col("ts").alias("agent_ts"),
    )
    tools = transcripts.filter(F.col("role") == "tool").select(
        F.col("conv_id").alias("t_conv_id"),
        F.col("turn_idx").alias("tool_turn"),
        F.col("tool").alias("tool_name"),
        F.col("ts").alias("tool_ts"),
    )
    if streaming:
        agents = agents.withWatermark("agent_ts", watermark)
        tools = tools.withWatermark("tool_ts", watermark)
    cond = (
        (agents["conv_id"] == tools["t_conv_id"])
        & (tools["tool_ts"] >= agents["agent_ts"])
        & (
            tools["tool_ts"]
            <= agents["agent_ts"] + F.expr(f"INTERVAL {horizon_seconds} SECONDS")
        )
    )
    if how is None:
        how = "inner" if streaming else "left_outer"
    return agents.join(tools, cond, how).drop("t_conv_id")


def orphan_agent_turns(
    transcripts: DataFrame,
    horizon_seconds: int = 60,
    streaming: bool = False,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Timeout detection: agent turns with NO tool response in the same
    conversation within ``horizon_seconds`` — the negative of
    :func:`agent_tool_pairs` (a request that never got its response;
    the reference's alerta sink models only the positive pairing,
    transport/alerta.py:46-69 — this is the missing alarm for the pair
    that never closed).

    Batch: left-outer interval join → keep the null side.  Streaming:
    the same left-outer stream-stream join — Spark emits the null row
    only once the watermark proves no tool turn can still arrive, so an
    orphan alert fires exactly when the timeout truly expired (state
    bounded by horizon + watermark delay).
    """
    paired = agent_tool_pairs(
        transcripts,
        horizon_seconds=horizon_seconds,
        streaming=streaming,
        watermark=watermark,
        how="left_outer",
    )
    return paired.filter(F.col("tool_turn").isNull()).select(
        "conv_id", "agent_turn", "agent_text", "agent_ts"
    )


def pattern_sequence(
    df: DataFrame,
    steps: Sequence,
    within_seconds: int = 60,
    key: str = "conv_id",
    idx_col: str = "turn_idx",
) -> DataFrame:
    """MATCH_RECOGNIZE-style ordered-sequence detection: one match row
    per combination of events (e1 < e2 < ... < eK by event order within
    the same ``key``) where event i satisfies ``steps[i]`` and the whole
    sequence spans ≤ ``within_seconds``.

    ``steps`` are boolean Column predicates over the input columns.
    Relational plan: filter each step (pushed to the scan), then chain
    K-1 interval joins on ``key`` — each join co-partitions on the key,
    so at scale this is K-1 hash-shuffles of *pre-filtered* (small)
    step streams, never of the raw stream.

    Output: key, step_i ts/turn for each step, total span seconds.
    """
    assert len(steps) >= 2
    parts = [
        df.filter(pred).select(
            F.col(key).alias(f"k{i}"),
            F.col("ts").alias(f"ts{i}"),
            F.col(idx_col).alias(f"turn{i}"),
        )
        for i, pred in enumerate(steps)
    ]
    out = parts[0]
    horizon = F.expr(f"INTERVAL {within_seconds} SECONDS")
    for i in range(1, len(parts)):
        # every step is bounded against ts0 (tightest pruning)
        out = out.join(
            parts[i],
            (F.col(f"k{i-1}") == F.col(f"k{i}"))
            & (F.col(f"turn{i}") > F.col(f"turn{i-1}"))
            & (F.col(f"ts{i}") >= F.col(f"ts{i-1}"))
            & (F.col(f"ts{i}") <= F.col("ts0") + horizon),
        )
    last = len(parts) - 1
    span = F.unix_timestamp(F.col(f"ts{last}")) - F.unix_timestamp(F.col("ts0"))
    cols = [F.col(f"k{last}").alias(key)]
    for i in range(len(parts)):
        cols += [F.col(f"ts{i}"), F.col(f"turn{i}")]
    return out.select(*cols, span.alias("span_seconds"))


def hysteresis_alerts(
    events: DataFrame,
    key: str = "user_id",
    window_seconds: int = 3600,
    hi: int = 3,
    lo: int = 1,
    predicate=None,
) -> DataFrame:
    """Threshold alerting with hysteresis over tumbling-window rates:
    the alert latches ON when a window's event count reaches ``hi`` and
    releases only when a later window drops below ``lo`` — the classic
    flapping-suppression alarm (raising and clearing at the same
    threshold re-fires on every boundary wobble; the reference's alerta
    pairing raises/clears on distinct UP/DOWN messages for the same
    reason, transport/alerta.py:46-69).

    Relational form: windowed counts (one partial-aggregated shuffle),
    then a per-key running ``last(mark, ignorenulls)`` ordered by
    window — windows between the thresholds inherit the latched state.

    The gaps are filled first: every key gets one row per window
    between its first and last observed window, with ``n = 0`` for
    silent windows — so a latched alert RELEASES across a silent period
    (0 < lo) instead of carrying the stale latch into the next active
    window.  Cost is one per-key min/max aggregate plus a
    ``sequence``/``explode`` spine join; the spine is bounded by (key's
    observed time span / window_seconds) rows per key — the
    semantically required output size, not a blow-up.

    Emits one row per (key, window) with the count and the alert state.
    """
    from pyspark.sql import functions as F

    counts = _tumbling_counts(events, key, window_seconds, predicate)
    mark = (
        F.when(F.col("n") >= hi, F.lit(1))
        .when(F.col("n") < lo, F.lit(0))
        .otherwise(F.lit(None).cast("int"))
    )
    w = Window.partitionBy(key).orderBy("win_start")
    return (
        counts.withColumn("_mark", mark)
        .withColumn(
            "alert",
            F.coalesce(
                F.last("_mark", ignorenulls=True).over(w), F.lit(0)
            ).cast("int"),
        )
        .drop("_mark")
    )


def _tumbling_counts(
    events: DataFrame, key: str, window_seconds: int, predicate
) -> DataFrame:
    """(key, win_start, n) tumbling-window counts with every window
    between a key's first and last observed window filled with
    ``n = 0`` (sequence/explode spine — bounded by the key's time span
    over the window size, the semantically required output).  Shared by
    :func:`hysteresis_alerts` and :func:`rate_anomaly`."""
    ev = events.filter(predicate) if predicate is not None else events
    win = (F.floor(F.unix_timestamp(F.col("ts")) / window_seconds)
           * window_seconds).cast("long")
    counts = ev.groupBy(F.col(key), win.alias("win_start")).agg(
        F.count(F.lit(1)).alias("n")
    )
    spine = (
        counts.groupBy(key)
        .agg(F.min("win_start").alias("_lo"), F.max("win_start").alias("_hi"))
        .select(
            key,
            F.explode(
                F.sequence("_lo", "_hi", F.lit(window_seconds).cast("long"))
            ).alias("win_start"),
        )
    )
    return spine.join(counts, [key, "win_start"], "left").withColumn(
        "n", F.coalesce(F.col("n"), F.lit(0)).cast("long")
    )


def rate_anomaly(
    events: DataFrame,
    key: str = "user_id",
    window_seconds: int = 86400,
    baseline: int = 7,
    min_baseline: int = 3,
    z_hi: float = 2.0,
) -> DataFrame:
    """Per-key event-rate anomaly detection: flag a tumbling window
    whose count is ``z_hi`` sample standard deviations above the mean
    of the trailing ``baseline`` windows — the monitoring escalation on
    top of plain counters (C3) and fixed thresholds (C12): the
    threshold adapts to each key's own recent rate, so a chatty device
    and a quiet one alarm at their own scales (the reference exposes
    raw per-error counters and leaves thresholds to the operator,
    transport/prometheus.py; this computes the adaptive threshold
    in-engine).

    Semantics per (key, window), over DENSE windows (silent windows
    count as ``n = 0`` — a baseline that skipped them would
    overestimate the recent rate and mask real spikes):

    - ``n_baseline`` — how many trailing windows exist (< ``baseline``
      near a key's start);
    - ``mu`` — trailing mean; ``z`` — ``(n - mu) / sd`` with the
      SAMPLE stddev, emitted only when ``n_baseline >= min_baseline``
      and the baseline has any variance;
    - ``anomaly`` — 1 when the baseline is deep enough AND (``z >=
      z_hi``, or the baseline is FLAT (sd = 0) and ``n > mu`` — a
      first deviation from a constant rate is an anomaly even though
      z is undefined).

    Determinism/portability: mean and variance are computed from
    integer window counts via exact double sums (``nb·Σn² − (Σn)²``
    — every intermediate is an integer below 2^53), with the SAME
    explicit expression tree on the Spark and oracle sides, so the
    doubles are bit-identical — no reliance on engine-internal
    ``stddev`` summation order.

    Scale shape: one partial-aggregated count shuffle + a spine join
    sharing the key partitioning + one per-key ordered window pass —
    identical to C12; the frame is ``ROWS BETWEEN baseline PRECEDING
    AND 1 PRECEDING`` over the dense spine, so rows = windows and the
    state per key is O(baseline).
    """
    counts = _tumbling_counts(events, key, window_seconds, None)
    wb = (
        Window.partitionBy(key)
        .orderBy("win_start")
        .rowsBetween(-baseline, -1)
    )
    # materialize the three frame aggregates ONCE before deriving the
    # verdict columns: referencing the .over() expressions directly in
    # each output would list ~36 duplicate window functions in the
    # physical Window node (Spark computes every listed copy)
    stats = counts.select(
        key,
        "win_start",
        "n",
        F.count(F.lit(1)).over(wb).cast("double").alias("_nb"),
        F.coalesce(F.sum("n").over(wb), F.lit(0)).cast("double").alias("_s1"),
        F.coalesce(
            F.sum((F.col("n") * F.col("n")).cast("double")).over(wb),
            F.lit(0.0),
        ).alias("_s2"),
    )
    nb, s1, s2 = F.col("_nb"), F.col("_s1"), F.col("_s2")
    # try_divide: NULL (not an ANSI error) on the nb==0 / nb==1 /
    # flat-baseline rows — every use below is guarded, but predicates
    # and CaseWhen branches are not short-circuit-safe once the window
    # aggregates are materialized columns
    mu = F.try_divide(s1, nb)
    var_num = nb * s2 - s1 * s1          # = nb·(nb−1)·sample-variance
    sd = F.sqrt(F.try_divide(var_num, nb * (nb - F.lit(1.0))))
    z_raw = F.try_divide(F.col("n").cast("double") - mu, sd)
    deep = nb >= F.lit(float(min_baseline))
    return stats.select(
        key,
        "win_start",
        "n",
        nb.cast("long").alias("n_baseline"),
        F.when(nb >= 1, F.round(mu, 6)).alias("mu"),
        F.when(deep & (var_num > 0), F.round(z_raw, 6)).alias("z"),
        F.when(
            deep
            & (
                ((var_num > 0) & (z_raw >= F.lit(z_hi)))
                | ((var_num == 0) & (F.col("n") > mu))
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("anomaly"),
    )


def windowed_funnel(
    events: DataFrame,
    steps: Sequence,
    window_seconds: int = 3600,
    key: str = "conv_id",
) -> DataFrame:
    """Per-key windowed funnel (C16): the deepest step each key reaches
    under earliest-anchor greedy matching — ClickHouse-``windowFunnel``
    style conversion tracking, the CEP shape C9's sequence join cannot
    give cheaply (C9 enumerates every matching combination; a funnel
    wants one verdict per key).

    Semantics (all-integer, on epoch **microseconds**): ``t1`` is the
    key's earliest event satisfying ``steps[0]``; ``t_{i+1}`` is the
    earliest event satisfying ``steps[i]`` with ``t_{i+1} >= t_i`` and
    ``t_{i+1} <= t1 + window`` (the window anchors at the FIRST step,
    not per-hop).  Ties on the same microsecond are allowed to chain
    (``>=``) — the semantics depend only on timestamp VALUES, never on
    intra-timestamp event order, which is what makes the fold exactly
    replayable by chained ``min`` aggregates in any SQL engine.
    ``level`` = number of steps reached; unreached steps emit NULL.

    Scale shape: ONE map-side-combined shuffle on ``key``.  Each step's
    candidate timestamps are collected per key as a sorted array (the
    per-key candidate count is bounded by the key's own event count —
    conversations/users, not the corpus, set the bound), then the chain
    of ``array_min(filter(...))`` expressions resolves the funnel
    JVM-side with zero additional exchanges — compare the K-1 interval
    joins of :func:`pattern_sequence`, which this replaces when only
    first-match depth is wanted.  The reference has no funnel; this is
    the escalation analytics its per-error counters feed
    (`/root/reference/napalm_logs/transport/prometheus.py:29-96`).
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    # TIMESTAMP_NTZ-safe: cast through TIMESTAMP (UTC session) first
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    arrs = [
        F.sort_array(
            F.collect_list(F.when(pred, us))
        ).alias(f"_a{i}")
        for i, pred in enumerate(steps)
    ]
    per_key = events.groupBy(key).agg(*arrs)
    t = [F.try_element_at(F.col("_a0"), F.lit(1))]
    hi = t[0] + F.lit(int(window_seconds) * 1_000_000)

    def _in_range(lo, hi):
        return lambda x: (x >= lo) & (x <= hi)

    for i in range(1, len(steps)):
        t.append(
            F.array_min(
                F.filter(F.col(f"_a{i}"), _in_range(t[i - 1], hi))
            )
        )
    level = sum(
        (ti.isNotNull().cast("int") for ti in t), F.lit(0)
    ).cast("int")
    return per_key.select(
        key,
        *[ti.alias(f"t{i + 1}_us") for i, ti in enumerate(t)],
        level.alias("level"),
    )


def funnel_counts(levels: DataFrame, n_steps: int) -> DataFrame:
    """Funnel summary over :func:`windowed_funnel` output: per step,
    how many keys reached it, conversion vs the previous step and vs
    step 1 (round-6 doubles of exact integer ratios — replayable).
    One global aggregate (a handful of longs), then a tiny explode —
    driver-safe at any corpus size."""
    sums = levels.agg(
        *[
            F.sum((F.col("level") >= i).cast("long")).alias(f"_n{i}")
            for i in range(1, n_steps + 1)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("step"),
                F.coalesce(F.col(f"_n{i}"), F.lit(0)).alias("n_keys"),
                F.coalesce(
                    F.col(f"_n{i - 1}") if i > 1 else F.col("_n1"),
                    F.lit(0),
                ).alias("_prev"),
                F.coalesce(F.col("_n1"), F.lit(0)).alias("_first"),
            )
            for i in range(1, n_steps + 1)
        ]
    )
    ex = sums.select(F.explode(rows).alias("r")).select("r.*")
    conv = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.round(F.col(num).cast("double") / F.col(den), 6),
    )
    return ex.select(
        "step",
        "n_keys",
        conv("n_keys", "_prev").alias("conv_from_prev"),
        conv("n_keys", "_first").alias("conv_from_first"),
    )
