"""SFT training-sample construction from transcripts.

The last mile of a transcript training-data pipeline: render each
conversation (``conv_id, turn_idx, role, text, tool, ts`` — BASELINE
input_hint) into one training sample with a deterministic chat
template, and emit the per-turn character spans + loss mask a trainer
needs (loss on agent turns only — the standard SFT masking rule).
The reference has no training notion; this is the transcript-payload
analog of its final serialize-and-publish stage
(`/root/reference/napalm_logs/device.py:336-351` assembles the fixed
output envelope per message — here the envelope is a training sample
per conversation).

Template (fixed):

    <|role|>\\n{text}\\n        per turn, concatenated in turn order

Span offsets index into the rendered sample string (0-based,
half-open, character units) and cover the {text} body only — the
template frame is never loss-masked.

Scale notes (100 TB / 10^12 turns):

* :func:`sft_spans` is one window over ``conv_id`` — the SAME key and
  exchange as :func:`convstats.transcripts_from_events`, so when
  composed the whole render plan has a single shuffle.  All
  expressions are JVM built-ins (no Python).
* :func:`sft_render` adds one ordered ``collect_list`` rollup per
  conversation; per-group state is bounded by conversation length
  (same bound as convstats' fingerprint), with the same ``max_turns``
  truncation guard for adversarial conversations.
* Packing rendered samples to a fixed token budget is NOT re-done
  here: samples are documents, so :func:`text.pack_spfhp` /
  :func:`text.pack_chunks` compose directly (see
  tests/test_sft.py::test_compose_with_spfhp_packing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from napalm_logs_spark.operators.convstats import US

#: roles whose text spans receive loss (mask = 1)
LOSS_ROLES = ("agent",)


def _header(role: Column) -> Column:
    return F.concat(F.lit("<|"), role, F.lit("|>\n"))


def _ws_tokens(text: Column) -> Column:
    """Whitespace token count; 0 for empty/all-space text (split of ''
    returns [''] — guard it explicitly, mirrored in the SQL oracle)."""
    t = F.trim(text)
    return (
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
        .cast("int")
    )


def sft_spans(tdf: DataFrame) -> DataFrame:
    """Per-turn loss-mask spans within the rendered sample.

    One row per turn: the half-open character span ``[span_start,
    span_end)`` of the turn's text body inside the conversation's
    rendered sample, ``mask`` (1 = trainable, agent turns), and the
    turn's whitespace token count.  One window on ``conv_id`` — the
    running sum of rendered-turn lengths gives each turn's offset.
    """
    hdr = _header(F.col("role"))
    rendered_len = F.length(hdr) + F.length("text") + F.lit(1)  # +\n
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    turn_off = F.coalesce(F.sum(rendered_len).over(w), F.lit(0))
    span_start = (turn_off + F.length(hdr)).cast("long")
    return tdf.select(
        "conv_id",
        "turn_idx",
        "role",
        span_start.alias("span_start"),
        (span_start + F.length("text")).alias("span_end"),
        F.col("role").isin(*LOSS_ROLES).cast("int").alias("mask"),
        _ws_tokens(F.col("text")).alias("n_tokens"),
    )


MAX_PROMPT_TURNS = 1024


def _prompt_fingerprints(tdf: DataFrame, prompt_text_col: str) -> DataFrame:
    """(conv_id, prompt_fp) — md5 of the ordered pre-first-agent-turn
    texts (the shared fingerprint stage of :func:`preference_pairs` and
    :func:`best_of_n`); conversations with no loss-role turn drop."""
    is_loss = F.col("role").isin(*LOSS_ROLES)
    w_conv = Window.partitionBy("conv_id")
    first_loss = F.min(F.when(is_loss, F.col("turn_idx"))).over(w_conv)
    marked = tdf.select(
        "conv_id", "turn_idx", F.col(prompt_text_col).alias("_pt"),
        first_loss.alias("_fl"),
    ).filter(F.col("_fl").isNotNull())
    prompt_turns = marked.filter(F.col("turn_idx") < F.col("_fl"))
    return prompt_turns.groupBy("conv_id").agg(
        F.md5(
            F.concat_ws(
                US,
                F.transform(
                    F.slice(
                        F.sort_array(
                            F.collect_list(F.struct("turn_idx", "_pt"))
                        ),
                        1,
                        MAX_PROMPT_TURNS,
                    ),
                    lambda s: s["_pt"],
                ),
            )
        ).alias("prompt_fp")
    )


def best_of_n(
    tdf: DataFrame,
    scores: DataFrame,
    *,
    prompt_text_col: str = "text",
    min_candidates: int = 1,
) -> DataFrame:
    """Rejection sampling / Best-of-N selection (WebGPT, Llama-2
    §3.2.2): per shared prompt, keep the single highest-scoring
    conversation among its N candidates — the other standard RLHF
    write-side next to :func:`preference_pairs` (DPO pairs train a
    policy; BoN winners make an SFT distillation corpus).

    Same prompt fingerprint as the pair builder (md5 of the ordered
    pre-first-agent-turn texts over ``prompt_text_col``); within a
    group the winner is max score, tie-break min ``conv_id``.
    ``n_candidates`` (group size) and ``score_gap`` (winner minus
    runner-up, NULL for singleton groups) ride along as the selection-
    quality signals; ``min_candidates`` drops prompts with too few
    alternatives (2 = require a real contest).

    Scale: identical to the pair builder — one ``prompt_fp`` exchange;
    the rank, the group count, and the runner-up ``lead`` all share
    that window partitioning, so a million-candidate hot prompt costs
    one reducer sort and emits one row.
    """
    scored = _prompt_fingerprints(tdf, prompt_text_col).join(
        scores.select("conv_id", "score"), "conv_id"
    )
    w = Window.partitionBy("prompt_fp").orderBy(
        F.col("score").desc(), F.col("conv_id").asc()
    )
    wc = Window.partitionBy("prompt_fp")
    return (
        scored.select(
            "prompt_fp",
            "conv_id",
            "score",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wc).cast("long").alias("n_candidates"),
            F.round(F.col("score") - F.lead("score").over(w), 6).alias(
                "score_gap"
            ),
        )
        .filter((F.col("_rn") == 1) & (F.col("n_candidates") >= min_candidates))
        .drop("_rn")
    )


def preference_pairs(
    tdf: DataFrame,
    scores: DataFrame,
    *,
    prompt_text_col: str = "text",
) -> DataFrame:
    """DPO/RLHF preference-pair construction: one (chosen, rejected)
    conversation pair per shared prompt.

    The *prompt* of a conversation is its prefix of turns strictly
    before the first loss-role (agent) turn; conversations with no
    agent turn have no response and are dropped.  Conversations are
    grouped by the md5 fingerprint of the ordered prompt texts
    (``prompt_text_col`` lets callers fingerprint a normalized view of
    the text, e.g. with volatile IDs stripped, so semantically-equal
    prompts collide).  Within a prompt group the pair is
    best-vs-worst by ``scores.score``:

    * chosen   = max score, tie-break min ``conv_id``
    * rejected = min score, tie-break max ``conv_id``
    * rows with ``margin = chosen_score - rejected_score <= 0`` are
      dropped (a pair needs a strict preference), which also removes
      single-conversation groups.

    Scale (10^12 turns): the prompt fingerprint is one ``conv_id``
    aggregate that reuses the transcript ordering exchange
    (``sort_array(collect_list)``, ``MAX_PROMPT_TURNS``-bounded like
    convstats fingerprints); pairing is two rank-1 windows over
    ``prompt_fp`` — a hot prompt (one shared greeting, millions of
    conversations) costs its reducer one sort, never a cross join,
    and emits exactly one row.  All JVM built-ins, no Python.

    Reference analog: the reference publishes one envelope per message
    (`/root/reference/napalm_logs/device.py:336-351`); the
    preference pair is the transcript-payload training envelope.
    """
    scored = _prompt_fingerprints(tdf, prompt_text_col).join(
        scores.select("conv_id", "score"), "conv_id"
    )
    # both rank-1 selections ride ONE prompt_fp exchange: two window
    # passes back-to-back on the same partitioning (sort-only between
    # them), then a conditional aggregate stitches chosen + rejected
    # into the pair row — no self-join, no second shuffle of scored
    w_best = Window.partitionBy("prompt_fp").orderBy(
        F.col("score").desc(), F.col("conv_id").asc()
    )
    w_worst = Window.partitionBy("prompt_fp").orderBy(
        F.col("score").asc(), F.col("conv_id").desc()
    )
    ranked = scored.select(
        "prompt_fp",
        "conv_id",
        "score",
        F.row_number().over(w_best).alias("_rb"),
        F.row_number().over(w_worst).alias("_rw"),
    )
    agg = ranked.groupBy("prompt_fp").agg(
        F.max(
            F.when(F.col("_rb") == 1, F.struct("conv_id", "score"))
        ).alias("_c"),
        F.max(
            F.when(F.col("_rw") == 1, F.struct("conv_id", "score"))
        ).alias("_r"),
    )
    return agg.select(
        "prompt_fp",
        F.col("_c.conv_id").alias("chosen_conv_id"),
        F.col("_r.conv_id").alias("rejected_conv_id"),
        F.col("_c.score").alias("chosen_score"),
        F.col("_r.score").alias("rejected_score"),
        F.round(F.col("_c.score") - F.col("_r.score"), 6).alias("margin"),
    ).filter(F.col("margin") > 0)


def truncate_to_budget(tdf: DataFrame, *, budget_tokens: int) -> DataFrame:
    """Context-window truncation: per-turn keep verdicts for the
    longest conversation *suffix* that fits a token budget.

    The standard serving/training truncation rule — recent turns matter
    most — expressed as one reverse running-sum window: a turn is kept
    when the whitespace-token sum of itself plus every LATER turn is
    ≤ ``budget_tokens``.  ``turn_idx = 0`` is kept too (the
    system-prompt retention rule) even when it is out of budget;
    pinned-only turns are flagged so a renderer can splice them ahead
    of the kept suffix.

    One window on ``conv_id`` (same exchange as the transcript
    ordering — the sort direction differs but the hash partitioning is
    reused), zero Python, output is input-sized: scale-safe at any
    conversation length.
    """
    tok = _ws_tokens(F.col("text"))
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    suffix_tok = F.sum(tok).over(w)
    in_budget = suffix_tok <= F.lit(budget_tokens)
    pinned = (F.col("turn_idx") == 0) & ~in_budget
    return tdf.select(
        "conv_id",
        "turn_idx",
        "role",
        tok.alias("n_tokens"),
        suffix_tok.cast("long").alias("suffix_tokens"),
        (in_budget | pinned).cast("int").alias("keep"),
        pinned.cast("int").alias("pinned"),
    )


def sft_render(tdf: DataFrame, *, max_turns: int = 100_000) -> DataFrame:
    """One training sample per conversation.

    ``sample_text`` is the template-rendered conversation;
    ``n_tokens`` / ``n_loss_tokens`` are whitespace token totals
    (all turns / loss-masked turns) — the numbers a data-mixture
    planner budgets with.  ``sort_array(collect_list(struct(...)))``
    keeps render order deterministic under any shuffle arrival;
    ``max_turns`` truncates pathological conversations (deterministic,
    documented — same guard as convstats.conversation_fingerprints).
    """
    rendered = F.concat(_header(F.col("role")), F.col("text"), F.lit("\n"))
    mask = F.col("role").isin(*LOSS_ROLES)
    turns = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("turn_idx"),
                rendered.alias("rt"),
                _ws_tokens(F.col("text")).alias("tok"),
                mask.cast("int").alias("m"),
            )
        )
    )
    kept = F.slice(turns, 1, max_turns)
    return tdf.groupBy("conv_id").agg(
        F.concat_ws(
            "", F.transform(kept, lambda s: s["rt"])
        ).alias("sample_text"),
        F.aggregate(
            kept, F.lit(0), lambda acc, s: acc + s["tok"]
        ).alias("n_tokens"),
        F.aggregate(
            kept, F.lit(0), lambda acc, s: acc + s["tok"] * s["m"]
        ).alias("n_loss_tokens"),
        F.count(F.lit(1)).alias("n_turns"),
    )
