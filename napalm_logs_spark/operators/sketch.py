"""Fixed-size sketches: Count-Min frequencies and Bloom membership.

The engine's sketch family — HLL++ for distinct counts
(``q_sketch_distinct``), Count-Min for point frequency queries,
and a Bloom filter (as a set-bit position table) for membership /
incremental dedup.  The reference keeps exact per-error counters per device
(`/root/reference/napalm_logs/device.py:250-299`); at 10^12 turns an
exact per-key count table is itself a large dataset, while a CM sketch
(Cormode & Muthukrishnan 2005) answers "how often did key X occur"
from ``depth × width`` counters with a one-sided error bound:

    exact ≤ est ≤ exact + (e/width) · N   w.p. 1 − (1/e)^depth

Design for 100 TB:

* The build is ONE map-side-combined groupBy over ``depth`` exploded
  (row, bucket) pairs — the shuffle carries at most
  ``partitions × depth × width`` partial rows and the result is a
  ≤ ``depth·width``-row table no matter the corpus size.
* Sketches are mergeable by construction (counter-wise sum), so
  per-partition / per-batch sketches union + re-aggregate — the
  property that makes it a streaming/state-store citizen.
* Estimation broadcasts the (tiny) sketch against the probe keys; the
  corpus is never re-read.
* Hashing is the engine's portable md5 convention (seed-prefixed md5,
  first 8 hex digits → int): bit-identical in any engine with
  ``md5`` + hex parsing, so the DuckDB oracle replays the sketch
  exactly — the estimate is deterministic, not a tolerance check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(key: Column, d: int, width: int) -> Column:
    """Row-``d`` bucket: int(md5('cm{d}:' + key)[:8], 16) % width."""
    h = F.md5(F.concat(F.lit(f"cm{d}:"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width).cast(
        "int"
    )


def count_min_sketch(
    df: DataFrame, key_col: str = "key", *, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build the sketch: one row per non-empty (d, bucket) counter.

    ``inline(arrays)`` explodes each input row into its ``depth``
    (d, bucket) coordinates JVM-side, then a single algebraic groupBy
    partial-aggregates map-side — the only shuffle is counter-sized.
    Zero-count cells are implicit (estimation coalesces to 0).
    """
    key = F.col(key_col)
    coords = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"), _bucket(key, d, width).alias("bucket")
            )
            for d in range(depth)
        ]
    )
    return (
        df.select(F.inline(coords))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str = "key",
    *,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate each probe key: min over rows of its counters.

    The sketch is ≤ depth·width rows → broadcast side of the join; the
    probe set streams through without shuffling.  Keys absent from the
    corpus estimate as the collision mass of their buckets (≥ 0), the
    classic CMS semantics.
    """
    key = F.col(key_col)
    probes = keys.select(
        key.alias(key_col),
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _bucket(key, d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ),
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def bloom_positions(key: Column, *, k: int = 5, m: int = 1 << 18) -> Column:
    """The ``k`` bit positions of a key: seed-prefixed md5, first 12 hex
    digits (48 bits — exact in BIGINT on any engine) mod ``m``."""
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"bf{i}:"), key.cast("string"))), 1, 12
                ),
                16,
                10,
            ).cast("long")
            % m
            for i in range(k)
        ]
    )


def bloom_build(
    df: DataFrame, key_col: str = "key", *, k: int = 5, m: int = 1 << 18
) -> DataFrame:
    """Build the filter as its set-bit position table (≤ min(k·|keys|, m)
    rows).  A position table IS the sketch: union-mergeable (distinct of
    a union), broadcastable (≤ m longs), and SQL-replayable — the
    engine-portable representation of the classic bit array."""
    return (
        df.select(
            F.explode(bloom_positions(F.col(key_col), k=k, m=m)).alias("pos")
        )
        .distinct()
    )


def bloom_candidates(
    bits: DataFrame,
    df: DataFrame,
    key_col: str = "key",
    *,
    k: int = 5,
    m: int = 1 << 18,
) -> DataFrame:
    """Per distinct key: ``bloom_candidate`` = all ``k`` positions set.

    No false negatives by construction (a present key's positions are
    all set); false positives at the classic ``(1 - e^{-kn/m})^k`` rate.
    The bits table broadcasts; the probe side never shuffles."""
    probes = df.select(key_col).distinct()
    pos = probes.select(
        key_col, F.explode(bloom_positions(F.col(key_col), k=k, m=m)).alias("pos")
    )
    return (
        pos.join(F.broadcast(bits.withColumn("_hit", F.lit(1))), "pos", "left")
        .groupBy(key_col)
        .agg((F.count("_hit") == k).alias("bloom_candidate"))
    )


def incremental_dedup_bloom(
    batch: DataFrame,
    history: DataFrame,
    key_col: str = "key",
    *,
    k: int = 5,
    m: int = 1 << 18,
) -> DataFrame:
    """Dedup a new batch against history WITHOUT joining the history
    for definite-new rows — the incremental-crawl dedup shape.

    At 10^12-key history an exact anti-join shuffles both sides every
    batch; here history is scanned once into its position table
    (mergeable across batches — union+distinct, so it maintains
    incrementally like the streaming near-dup index), the batch probes
    the broadcast bits, and ONLY candidate keys (true dups + the
    ``(1-e^{-kn/m})^k`` false positives) pay the verify semi-join.
    Sizing ``m ≈ 16·|history|`` holds FP ≈ 0.05% at k=5 — the verify
    join is then dup-sized, not batch-sized.

    Output per batch row: ``bloom_candidate``, ``is_dup`` (verified),
    ``kept = NOT is_dup``.  ``is_dup ⇒ bloom_candidate`` always (no
    false negatives), tested.
    """
    bits = bloom_build(history, key_col, k=k, m=m)
    cand = bloom_candidates(bits, batch, key_col, k=k, m=m)
    hist_keys = history.select(key_col).distinct().withColumn(
        "_in_hist", F.lit(True)
    )
    verified = (
        cand.filter(F.col("bloom_candidate"))
        .join(hist_keys, key_col, "left")
        .select(
            key_col,
            F.coalesce(F.col("_in_hist"), F.lit(False)).alias("is_dup"),
        )
    )
    return (
        batch.join(cand, key_col, "left")
        .join(verified, key_col, "left")
        .select(
            *batch.columns,
            F.coalesce(F.col("bloom_candidate"), F.lit(False)).alias(
                "bloom_candidate"
            ),
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
            (~F.coalesce(F.col("is_dup"), F.lit(False))).alias("kept"),
        )
    )


def cms_vs_exact(
    df: DataFrame, key_col: str = "key", *, depth: int = 4, width: int = 256
) -> DataFrame:
    """Exact count vs sketch estimate per distinct key.

    The validation query: emits (key, exact, cms_est, overcount).  By
    the one-sided bound ``cms_est ≥ exact`` always; the oracle replays
    both sides exactly.  At scale you run :func:`count_min_sketch`
    alone and skip the exact pass — this shape exists to *measure* the
    sketch against truth at test SFs.
    """
    exact = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("exact"))
    est = cms_estimate(
        count_min_sketch(df, key_col, depth=depth, width=width),
        exact.select(key_col),
        key_col,
        depth=depth,
        width=width,
    )
    return exact.join(est, key_col).select(
        key_col,
        "exact",
        "cms_est",
        (F.col("cms_est") - F.col("exact")).alias("overcount"),
    )


def _hll_rank(key: Column, p: int) -> tuple[Column, Column]:
    """(bucket, rank) of a key under the portable HLL convention.

    One seed-prefixed md5; the first ``p/4`` hex digits are the
    register index, the next 12 hex digits (48 bits — exact in BIGINT
    everywhere) are the rank word ``w``; ``rank = 49 − bit_length(w)``
    (leading zeros of the 48-bit word, plus one; ``w = 0`` → 49).
    ``bit_length`` is a *string* length over the base-2 rendering —
    integer-exact on any engine, no float log2 boundary risk.
    """
    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError(f"p must be a multiple of 4 in [4, 16], got {p}")
    nib = p // 4
    h = F.md5(F.concat(F.lit("hll:"), key.cast("string")))
    bucket = F.conv(F.substring(h, 1, nib), 16, 10).cast("int")
    w = F.conv(F.substring(h, nib + 1, 12), 16, 10).cast("long")
    rank = (
        F.when(w == 0, F.lit(49))
        .otherwise(F.lit(49) - F.length(F.conv(w, 10, 2)))
        .cast("int")
    )
    return bucket, rank


def hll_registers(
    df: DataFrame,
    key_col: str = "key",
    group_cols: tuple = (),
    *,
    p: int = 8,
) -> DataFrame:
    """HyperLogLog register table: one row per (group, bucket) holding
    ``max_rank`` (Flajolet et al. 2007).  Completes the engine's sketch
    trio — Count-Min (frequency), Bloom (membership), HLL (distinct) —
    the three fixed-size summaries a 10^12-turn telemetry pipeline
    keeps instead of exact per-key tables (the reference keeps exact
    per-device counters, `/root/reference/napalm_logs/device.py:250-299`;
    at 100 TB the counter table is itself big data).

    Scale shape: one narrow projection then ONE map-side-combined
    ``max`` groupBy — the shuffle carries at most ``partitions × m``
    partial rows and the output is ≤ ``m = 2^p`` rows per group
    forever.  Registers merge by ``max`` (union two register tables,
    re-group — bit-identical to sketching the unioned input, tested),
    so per-slice register tables can be kept and merged later.
    Estimation never re-reads the corpus.

    Empty buckets are implicit (estimation reconstructs them from
    ``m − count``) — the table stays minimal under heavy grouping.
    """
    bucket, rank = _hll_rank(F.col(key_col), p)
    return (
        df.select(*group_cols, bucket.alias("bucket"), rank.alias("rank"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_alpha_factor(p: int) -> float:
    """The constant ``α_m · m² · 2^49`` as one Python double, so Spark
    and any SQL oracle share the bit-identical literal (shortest-repr
    round-trip).  Uses the m ≥ 128 closed form α = 0.7213/(1+1.079/m);
    the default ``p = 8`` (m = 256) is inside its validity range."""
    m = 1 << p
    return 0.7213 / (1.0 + 1.079 / m) * m * m * float(1 << 49)


def hll_estimate(
    registers: DataFrame, group_cols: tuple = (), *, p: int = 8
) -> DataFrame:
    """Distinct-count estimate per group from a register table.

    All-integer core: each register contributes ``2^(49 − max_rank)``
    (a BIGINT shift, exact), empty buckets contribute ``2^49`` each via
    the ``v_empty = m − observed`` closed form — no bucket spine join.
    The only float op is the final single division by the shared
    :func:`hll_alpha_factor` literal (IEEE-correctly-rounded, so any
    engine replaying the integers lands on the same double).  Raw HLL
    estimator without the small/large-range corrections (they need
    ``ln`` whose cross-engine bit-parity is NOT guaranteed) — with
    m = 256 the raw estimate is the right regime for n ≳ 640 and the
    oracle replays it exactly; ``v_empty`` is emitted so a caller can
    apply linear counting client-side when v_empty is large.
    """
    m = 1 << p
    gb = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_nb"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 49 - max_rank)")).alias(
            "_sp"
        ),
    )
    v_empty = (F.lit(m) - F.col("_nb")).cast("long")
    s_scaled = (F.col("_sp") + v_empty * F.lit(1 << 49)).cast("long")
    return gb.select(
        *group_cols,
        F.lit(m).alias("m"),
        v_empty.alias("v_empty"),
        s_scaled.alias("s_scaled"),
        F.round(F.lit(hll_alpha_factor(p)) / s_scaled, 4).alias(
            "est_distinct"
        ),
    )


def hll_merge(regs_a: DataFrame, regs_b: DataFrame) -> DataFrame:
    """MAX-merge two register tables (same ``p``) into the UNION's
    registers — bit-identical to sketching the unioned input, because
    ``max(max(A), max(B)) = max(A ∪ B)`` per bucket.  One small groupBy
    over at most ``2·m`` rows; the corpora themselves are never
    re-read or joined — this is the whole point of the sketch at
    100 TB."""
    return (
        regs_a.select("bucket", "max_rank")
        .unionAll(regs_b.select("bucket", "max_rank"))
        .groupBy("bucket")
        .agg(F.max("max_rank").alias("max_rank"))
    )


def hll_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str = "key",
    *,
    p: int = 8,
) -> DataFrame:
    """Corpus-overlap estimation from mergeable HLL sketches — the
    inclusion–exclusion shape (|A∩B| ≈ |A| + |B| − |A∪B|) every crawl
    pipeline runs BEFORE committing to a cross-corpus dedup: two crawls
    that barely overlap don't justify the full MinHash join.  At
    100 TB the two corpora live in different tables (or different
    snapshots of one table) and are never joined or even co-read — each
    side reduces to ≤ 2^p register rows, the union comes from
    :func:`hll_merge`, and estimation is driver-trivial.

    Output is ONE row carrying, per set (a / b / union), the exact
    integer register sums (``s_a``/``s_b``/``s_u`` — the hash-gate
    columns) and the rounded raw-HLL estimates, plus the derived
    ``est_overlap`` and ``est_jaccard``.  Every float op is a division
    by the shared :func:`hll_alpha_factor` literal or a fixed-order
    sum of those divisions, so an ANSI-SQL oracle replays the numbers
    bit-for-bit (same contract as :func:`hll_estimate`); estimates are
    raw HLL (no ``ln`` corrections — cross-engine bit-parity), so treat
    small-set numbers as the validation regime, not production ones.
    """
    m = 1 << p
    alpha = hll_alpha_factor(p)

    def _scaled(regs: DataFrame, name: str) -> DataFrame:
        gb = regs.groupBy().agg(
            F.count(F.lit(1)).alias("_nb"),
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), 49 - max_rank)")
            ).alias("_sp"),
        )
        return gb.select(
            (
                F.col("_sp")
                + (F.lit(m) - F.col("_nb")).cast("long") * F.lit(1 << 49)
            )
            .cast("long")
            .alias(name)
        )

    ra = hll_registers(df_a, key_col, p=p)
    rb = hll_registers(df_b, key_col, p=p)
    sa = _scaled(ra, "s_a")
    sb = _scaled(rb, "s_b")
    su = _scaled(hll_merge(ra, rb), "s_u")
    est_a = F.lit(alpha) / F.col("s_a")
    est_b = F.lit(alpha) / F.col("s_b")
    est_u = F.lit(alpha) / F.col("s_u")
    # fixed evaluation order (a + b) - u, then / u: both engines chain
    # the same IEEE ops on the same doubles
    overlap = est_a + est_b - est_u
    return (
        sa.crossJoin(sb)
        .crossJoin(su)
        .select(
            F.lit(m).alias("m"),
            "s_a",
            "s_b",
            "s_u",
            F.round(est_a, 4).alias("est_a"),
            F.round(est_b, 4).alias("est_b"),
            F.round(est_u, 4).alias("est_union"),
            F.round(overlap, 4).alias("est_overlap"),
            F.round(overlap / est_u, 4).alias("est_jaccard"),
        )
    )


def hll_vs_exact(
    df: DataFrame,
    key_col: str = "key",
    group_cols: tuple = (),
    *,
    p: int = 8,
) -> DataFrame:
    """Exact distinct vs HLL estimate per group — the validation shape
    (like :func:`cms_vs_exact`): at test SFs both sides run and the
    oracle replays the sketch bit-for-bit; at 100 TB you run the
    registers alone."""
    est = hll_estimate(hll_registers(df, key_col, group_cols, p=p),
                       group_cols, p=p)
    exact = df.groupBy(*group_cols).agg(
        F.countDistinct(key_col).alias("exact_distinct")
    )
    joined = exact.join(est, list(group_cols)) if group_cols else \
        exact.crossJoin(est)
    return joined.select(
        *group_cols, "exact_distinct", "m", "v_empty", "s_scaled",
        "est_distinct",
    )


# ---------------------------------------------------------------------------
# fixed-bin histogram quantiles — the mergeable percentile sketch


def histogram_bins(
    df: DataFrame, value_col: str, *, bin_width: int = 1000
) -> DataFrame:
    """Fixed-width histogram of a non-negative integer column.

    The simplest mergeable quantile sketch (the HDR-histogram shape):
    ``bin = value div bin_width`` — bins merge by counter-wise SUM
    (like Count-Min), so per-partition / per-micro-batch histograms
    compose exactly.  One map-side-combined groupBy; output is
    bin-count-sized regardless of corpus size.  Values must be
    non-negative integers (``div`` truncates toward zero).
    """
    return (
        df.select(F.col(value_col).alias("_v"))
        .filter(F.col("_v") >= 0)
        .groupBy(F.expr(f"_v div {bin_width}").alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    *,
    bin_width: int = 1000,
    qs: tuple = (50, 90, 99),
) -> DataFrame:
    """Percentiles from the fixed-bin histogram — exact bin answers.

    For each ``q`` in ``qs`` (integer percent): ``rank = ceil(q·N/100)``
    (the lower empirical quantile), answered as the first bin whose
    cumulative count reaches the rank — the true quantile is inside
    ``[lo, hi]``, an error bounded by bin_width by construction (the
    honest sketch contract; approx_percentile gives no such bound).

    All integer arithmetic → exact value-match oracle.  The cumsum
    window sorts the *histogram*, not the corpus (bins ≤ max_value /
    bin_width rows); the corpus contributes one map-side-combined
    groupBy.
    """
    from pyspark.sql import Window

    hist = histogram_bins(df, value_col, bin_width=bin_width)
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bin"))
    ).crossJoin(F.broadcast(hist.agg(F.sum("cnt").alias("_n"))))
    specs = df.sparkSession.createDataFrame(
        [(int(p),) for p in qs], "q_pct long"
    )
    ranked = cum.crossJoin(F.broadcast(specs)).withColumn(
        "rank", F.expr("(q_pct * _n + 99) div 100")
    )
    return (
        ranked.filter(F.col("cum") >= F.col("rank"))
        .groupBy("q_pct", "rank")
        .agg(F.min("bin").alias("bin"))
        .select(
            "q_pct",
            "rank",
            "bin",
            (F.col("bin") * bin_width).alias("lo"),
            ((F.col("bin") + 1) * bin_width - 1).alias("hi"),
        )
    )
