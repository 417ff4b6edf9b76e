"""Pairwise-preference ranking: Bradley–Terry strengths via MM.

The RLHF/eval side of a transcript pipeline constantly turns pairwise
preference data into per-item scores: arena-style model rankings
(Chatbot-Arena publishes Bradley–Terry fits over millions of human
battles), reward-model calibration checks, and annotator-agreement
audits all reduce to "given (winner, loser) rows, estimate a latent
strength per item".  The reference has no analytics layer at all
(napalm-logs stops at per-event publishing); this module extends the
engine's eval family (``t_bleu_stats``, ``cv_pref_pairs``,
``cv_best_of_n``) with the canonical ranking estimator.

Algorithm — the MM iteration of Hunter (2004), *MM algorithms for
generalized Bradley–Terry models*:

    p_i  <-  W_i / SUM_j  n_ij / (p_i + p_j)

where ``W_i`` is item *i*'s total wins and ``n_ij`` the number of
comparisons between *i* and *j*.  Each update is a monotone ascent of
the BT log-likelihood and converges to the MLE when the comparison
graph is strongly connected.

Determinism contract (the engine-wide rule — see graph.pagerank /
similarity k-means): every per-iteration quantity is an *integer*.
Ratings are fixed-point at ``SCALE``; each pair contributes
``(n_ij * CONTRIB_SCALE) div (p_i + p_j)`` to BOTH endpoints'
denominators; the raw update is ``(W_i * CONTRIB_SCALE) div denom_i``
(clamped to >= 1 so an all-losing item stays in the arithmetic's
domain); each iteration renormalizes to total mass
``n_items * SCALE`` with one more floor division.  Integer sums are
associative/commutative, so the result is bit-identical under any
partitioning AND a SQL engine replays the exact recurrence (the
oracle unrolls iterations as chained CTEs) — a value-match gate on an
iterative MLE, no tolerance.

Scale notes (10^9 battles / 10^6 items):

* The raw outcome stream collapses ONCE to the canonical pair-count
  table (one shuffle on the unordered pair key) — at arena scale that
  is items²-bounded and in practice tiny next to the outcome log.
* Per iteration: two hash joins of the rating table against the pair
  table (on ``i`` then ``j``) and one map-side-combined groupBy — the
  same two-shuffle shape as PageRank; pair/item tables are cached,
  AQE splits skewed hubs (a champion model compared against everyone).
* The normalization total is a 1-row aggregate broadcast back via
  crossJoin; driver state is two scalars (item count, iteration) —
  no per-item collect.
* Lineage is truncated with an EAGER ``localCheckpoint`` every
  iteration — stricter than PageRank's every-3: the BT step
  stacks two joins, a union aggregate, and two 1-row broadcasts, and
  letting three of those nest makes AQE's recursive stage creation
  (not the data) the bottleneck — measured 188 s -> seconds at
  sf0.01.  The checkpointed table is items-sized, so the
  materialization cost is the output size, the cheapest thing in the
  job.

Int64 headroom: ``W_i * CONTRIB_SCALE`` caps at ~1e6 wins * 1e12 =
1e18 < 2^63; more than 10^6 wins per item needs a lower
``CONTRIB_SCALE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**6
CONTRIB_SCALE = 10**12


def bt_pair_counts(
    outcomes: DataFrame,
) -> DataFrame:
    """Collapse an outcome log to the canonical BT pair-count table.

    Returns ``(i, j, n, wi)`` with ``i < j``, ``n`` total comparisons
    of the pair and ``wi`` the wins of ``i`` — the sufficient
    statistic for the whole MM fit (the 10^9-row battle log is never
    touched again).  Draws are not modeled; filter them upstream.
    """
    w, l = F.col("winner"), F.col("loser")
    return (
        outcomes.filter(w != l)
        .select(
            F.least(w, l).alias("i"),
            F.greatest(w, l).alias("j"),
            (w < l).cast("long").alias("_wi"),
        )
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_wi").alias("wi"),
        )
    )


def bt_ratings(
    outcomes: DataFrame,
    *,
    iterations: int = 8,
) -> DataFrame:
    """Fixed-point Bradley–Terry ratings over a (winner, loser) log.

    Returns ``(item, rating, wins, n_comps)`` — ``rating`` the
    fixed-point integer strength (mean ≈ ``SCALE``), ``wins`` /
    ``n_comps`` the item's exact win and comparison counts.

    Exact recurrence (all integer ops), replayed verbatim by the SQL
    oracle::

        p0(v)    = SCALE
        c(i,j)   = (n_ij * CONTRIB_SCALE) div (p_i + p_j)
        denom(v) = SUM c over pairs containing v
        raw(v)   = max((W_v * CONTRIB_SCALE) div denom(v), 1)
        p'(v)    = (raw(v) * n_items * SCALE) div SUM raw
    """
    pairs = bt_pair_counts(outcomes).persist()
    items = (
        pairs.select(F.col("i").alias("item"), F.col("n"), F.col("wi").alias("w"))
        .unionAll(
            pairs.select(
                F.col("j").alias("item"), F.col("n"), (F.col("n") - F.col("wi")).alias("w")
            )
        )
        .groupBy("item")
        .agg(F.sum("w").alias("wins"), F.sum("n").alias("n_comps"))
        .persist()
    )
    n_items = items.count()  # scalar driver state
    target = n_items * SCALE

    p = items.select("item", F.lit(SCALE).cast("long").alias("p"))
    for it in range(iterations):
        pi = p.select(F.col("item").alias("i"), F.col("p").alias("p_i"))
        pj = p.select(F.col("item").alias("j"), F.col("p").alias("p_j"))
        c = (
            pairs.join(pi, "i")
            .join(pj, "j")
            .select(
                "i",
                "j",
                F.expr(f"(n * {CONTRIB_SCALE}L) div (p_i + p_j)").alias("c"),
            )
        )
        denom = (
            c.select(F.col("i").alias("item"), F.col("c"))
            .unionAll(c.select(F.col("j").alias("item"), F.col("c")))
            .groupBy("item")
            .agg(F.sum("c").alias("denom"))
        )
        raw = items.join(denom, "item").select(
            "item",
            F.greatest(
                F.expr(f"(wins * {CONTRIB_SCALE}L) div denom"), F.lit(1).cast("long")
            ).alias("raw"),
        )
        tot = raw.agg(F.sum("raw").alias("tot"))
        p = raw.crossJoin(F.broadcast(tot)).select(
            "item", F.expr(f"(raw * {target}L) div tot").alias("p")
        )
        if it + 1 < iterations:
            p = p.localCheckpoint()
    return items.join(p, "item").select(
        "item", F.col("p").alias("rating"), "wins", "n_comps"
    )


def group_advantages(
    rollouts: DataFrame,
) -> DataFrame:
    """Per-prompt-group advantage estimates for policy-gradient RLHF.

    The write-side of a GRPO/RLOO training run (Shao et al. 2024,
    *DeepSeekMath*, §4.1; Ahmadian et al. 2024, *Back to Basics:
    RLOO*): the policy samples a GROUP of rollouts per prompt, a
    reward model scores each, and the per-rollout learning signal is
    the reward standardized against its own group — no learned value
    baseline.  This is the advantage-construction stage between
    ``cv_best_of_n`` (keep the max) and ``cv_pref_pairs`` (keep a
    pair): GRPO keeps EVERY rollout, weighted.

    Input: one row per rollout ``(prompt_id, rollout_id, reward)`` with
    an INTEGER ``reward`` (the
    engine-wide contract — callers quantize float rewards first, e.g.
    ``floor(r * 100)``, so every sum below is exact).  Output: the
    input keys plus the exact integer sufficient statistics and the
    two standard advantages:

    * ``n`` — group size; ``adv_num = n*r - sum(r)`` — the shared
      centered numerator (exact integer);
    * ``var_num = n*sum(r^2) - sum(r)^2`` — n^2 * population variance
      (exact integer; 0 iff the group is reward-degenerate);
    * ``grpo_adv = adv_num / sqrt(var_num)`` — the z-score
      ``(r - mean)/std_pop`` as ONE IEEE chain over exact integers
      (int->double casts, sqrt, and divide are all correctly rounded,
      so the double is bit-identical on any engine — the s_diversity /
      s_bitext_mine compare recipe); NULL when ``var_num = 0`` (the
      degenerate group a GRPO step skips: zero gradient signal);
    * ``rloo_adv = adv_num / (n - 1)`` — the leave-one-out baseline
      ``r - mean(others)`` (same numerator, exact rational), NULL for
      singleton groups;
    * ``degenerate`` — ``var_num = 0`` flag for filter/monitoring.

    Scale (10^9 rollouts, groups of 4-64): all three statistics ride
    ONE window over ``prompt_id`` — a single hash Exchange of the
    input (plan-tested), zero Python, no join back.  Group cardinality
    is the sampler's G (bounded, typically <= 64), so no partition
    skew: the heavy key is the PROMPT count, which is exactly what the
    shuffle hashes over.  Int64 headroom: ``n * sum(r^2) <= n^2 *
    max(r)^2`` must stay < 2^63, i.e. ``n * |r| < 3.0e9`` — a group of
    64 rollouts with |reward| <= 4.7e7 fits; callers with wider
    rewards lower the quantization scale (like bt_ratings'
    ``CONTRIB_SCALE`` bound).

    The reference has no RL layer (napalm-logs stops at per-event
    publishing); this extends the transcript-pipeline eval/RLHF family
    the way graph.pagerank extends the crawl side.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("prompt_id")
    r = F.col("_r")
    base = rollouts.select(
        F.col("prompt_id"),
        F.col("rollout_id"),
        F.col("reward").cast("long").alias("_r"),
    )
    stats = (
        base.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("_sum_r", F.sum(r).over(w))
        .withColumn("_sum_r2", F.sum(r * r).over(w))
    )
    adv_num = F.col("n") * r - F.col("_sum_r")
    var_num = F.col("n") * F.col("_sum_r2") - F.col("_sum_r") * F.col("_sum_r")
    return stats.select(
        F.col("prompt_id"),
        F.col("rollout_id"),
        r.alias("reward"),
        F.col("n"),
        adv_num.alias("adv_num"),
        var_num.alias("var_num"),
        F.when(
            var_num > 0,
            adv_num.cast("double") / F.sqrt(var_num.cast("double")),
        ).alias("grpo_adv"),
        F.when(
            F.col("n") > 1, adv_num.cast("double") / (F.col("n") - 1).cast("double")
        ).alias("rloo_adv"),
        (var_num == 0).alias("degenerate"),
    )


def reward_length_bias(
    rollouts: DataFrame,
) -> DataFrame:
    """Per-group reward↔length correlation — the length-hacking gauge.

    The best-documented reward-model failure is length bias: the RM
    scores longer completions higher regardless of quality, and the
    policy learns to pad (Singhal et al. 2023, *A Long Way to Go*;
    every RLHF ablation since).  The standing QA check is the
    correlation between completion length and reward WITHIN a prompt
    group — across prompts, length and difficulty confound; within a
    group, a strong positive correlation is the smoking gun that the
    advantage signal (:func:`group_advantages`) is paying for tokens.

    Inputs are INTEGER columns (the engine contract — quantize float
    rewards as in ``group_advantages``; ``n_chars`` is already a
    count).  Per group this emits the exact integer Pearson pieces

        num  = n·Σxy − Σx·Σy
        denx = n·Σx² − (Σx)²      deny = n·Σy² − (Σy)²

    and ``pearson_r = num / (sqrt(denx)·sqrt(deny))``.  ``denx·deny``
    would overflow int64 (each is ≤ n²·max²), so the denominator is
    the product of two exact square roots — four correctly-rounded
    IEEE ops over exact integers, bit-identical on any engine (the
    group_advantages compare recipe).  NULL when either side is
    constant (zero variance ⇒ correlation undefined).

    Scale: one hash aggregate on ``prompt_id`` — map-side combined,
    output one row per prompt.  Int64 headroom: ``n·Σx² ≤ n²·max(x)²
    < 2^63`` requires ``n·max(|x|, |y|) < 3.0e9`` per group, same
    bound as group_advantages.
    """
    x = F.col("n_chars").cast("long")
    y = F.col("reward").cast("long")
    g = rollouts.groupBy("prompt_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    num = F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    denx = F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    deny = F.col("n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    return g.select(
        F.col("prompt_id"),
        F.col("n"),
        num.alias("num"),
        denx.alias("denx"),
        deny.alias("deny"),
        F.when(
            (denx > 0) & (deny > 0),
            num.cast("double")
            / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
        ).alias("pearson_r"),
    )


def fleiss_kappa(
    ratings: DataFrame,
    *,
    raters: int,
) -> DataFrame:
    """Fleiss' kappa over a (item, category) rating log.

    Before preference labels train a reward model, the standing QA
    gate is inter-annotator agreement: with ``raters`` independent
    annotators assigning one of k categories per item, Fleiss (1971)
    measures chance-corrected agreement.  Items rated by a different
    number of annotators (dropped assignments, dedup collisions) are
    EXCLUDED and counted — the classic statistic is only defined at
    constant n, and silently mixing panel sizes biases Pe.

    Exact integer sufficient statistics (one shuffle each, map-side
    combined):

        po_num = Σ_{i,c} n_ic·(n_ic − 1)      po_den = N·n·(n−1)
        s      = Σ_c T_c²   with   T_c = Σ_i n_ic      nn2 = (N·n)²

    and the value is the PINNED IEEE chain (each op correctly
    rounded, so bit-identical cross-engine — the engine-wide compare
    recipe)::

        po = po_num/po_den;  pe = s/nn2;  kappa = (po − pe)/(1 − pe)

    ``kappa`` is NULL when pe = 1 (all mass in one category — chance
    agreement is total and the statistic is undefined; the
    t_gate_agreement convention).  Output: ONE row —
    ``(n_items, n_raters, n_categories, n_items_dropped, po_num,
    po_den, s, nn2, po, pe, kappa)``.

    Scale: ratings → (item, category) counts (shuffle 1, input-sized)
    → per-item qualification + po partials (shuffle 2 on item) and
    category totals (shuffle 3 on category, k rows) → three scalar
    rows joined by crossJoin broadcast.  Int64 headroom: ``(N·n)²``
    and ``T_c²`` cap at ~9.2e18, so N·n < 3.0e9 rated assignments;
    beyond that, lift s/nn2 to DECIMAL(38,0) (the s_diversity
    recipe).
    """
    if raters < 2:
        raise ValueError("fleiss_kappa needs raters >= 2")
    counts = ratings.groupBy("item_id", "category").agg(
        F.count(F.lit(1)).alias("n_ic")
    )
    per_item = counts.groupBy("item_id").agg(
        F.sum("n_ic").alias("n_i"),
        F.sum(F.col("n_ic") * (F.col("n_ic") - 1)).alias("po_i"),
    )
    qualified = per_item.select(
        "item_id", (F.col("n_i") == raters).alias("ok"), "po_i"
    )
    item_stats = qualified.agg(
        F.sum(F.col("ok").cast("long")).alias("n_items"),
        F.sum((~F.col("ok")).cast("long")).alias("n_items_dropped"),
        F.sum(F.when(F.col("ok"), F.col("po_i")).otherwise(F.lit(0))).alias(
            "po_num"
        ),
    )
    cat_stats = (
        counts.join(
            qualified.filter("ok").select("item_id"), "item_id"
        )
        .groupBy("category")
        .agg(F.sum("n_ic").alias("t_c"))
        .agg(
            F.count(F.lit(1)).alias("n_categories"),
            F.sum(F.col("t_c") * F.col("t_c")).alias("s"),
        )
    )
    out = item_stats.crossJoin(F.broadcast(cat_stats))
    po_den = F.col("n_items") * F.lit(raters) * F.lit(raters - 1)
    nn2 = (F.col("n_items") * F.lit(raters)) * (F.col("n_items") * F.lit(raters))
    # guard n_items = 0 (every item dropped): double 0/0 is engine-
    # dependent (NaN vs NULL), so the stats are NULL outright
    some = F.col("n_items") > 0
    po = F.when(some, F.col("po_num").cast("double") / po_den.cast("double"))
    pe = F.when(some, F.col("s").cast("double") / nn2.cast("double"))
    return out.select(
        "n_items",
        F.lit(raters).alias("n_raters"),
        "n_categories",
        "n_items_dropped",
        "po_num",
        po_den.alias("po_den"),
        "s",
        nn2.alias("nn2"),
        po.alias("po"),
        pe.alias("pe"),
        F.when(some & (pe != 1.0), (po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )
