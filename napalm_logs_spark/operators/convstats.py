"""Conversation-level transcript analytics.

The engine's native payload is a table of multi-turn transcripts
(``conv_id, turn_idx, role, text, tool, ts`` — BASELINE input_hint).
This module adds the corpus-analytics layer a transcript lakehouse
needs *above* the per-turn normalize/CEP path: per-conversation
rollups, conversation content fingerprints, tool-call chain analysis and
role-transition statistics.  The reference has no conversation notion
(its unit is a single syslog message); these are the transcript-payload
analogs of its per-device aggregation loops
(`/root/reference/napalm_logs/device.py:250-299` processes one message
at a time per device — here a "device" is a conversation and the
rollup is a single distributed aggregate).

Scale notes (100 TB / 10^12 turns):

* Every operator here is one hash shuffle on ``conv_id`` with map-side
  partial aggregation — no window over the whole corpus, no driver
  collect.  Conversations are bounded (thousands of turns at most), so
  per-group state (``collect_list`` in the fingerprint) is bounded the
  same way per-document shingle lists are in :mod:`docdedup`.
* ``transcripts_from_events`` exists so the DuckDB oracle can replay
  the exact derivation: it is the only place a window runs, and it
  partitions by the conversation key (``user_id``) — the same key the
  downstream aggregates shuffle on, so AQE can reuse the exchange.
* Skewed (hot) conversations: the rollups are algebraic aggregates
  (sum/count/min/max), which partial-aggregate map-side before the
  shuffle — a hot conv_id costs one reducer one merge, not a data
  pile-up.  The fingerprint's ``collect_list`` is the one holistic
  aggregate; :func:`conversation_fingerprints` therefore takes a
  ``max_turns`` guard that truncates pathological conversations
  deterministically (documented in the hash) rather than OOMing a
  reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: unit separator — joins turn texts inside a conversation fingerprint
#: (never appears in transcript text; chr(31) on the DuckDB side)
US = "\x1f"


def _us(col: Column) -> Column:
    """Epoch microseconds for TIMESTAMP and TIMESTAMP_NTZ alike
    (identity cast under the UTC session timezone used everywhere)."""
    return F.unix_micros(col.cast("timestamp"))


def transcripts_from_events(events: DataFrame) -> DataFrame:
    """Deterministic transcript view over the events table.

    Used by tests/benchmarks to synthesise the input_hint shape from
    the driver's parquet without external data: each user's event
    stream becomes one conversation, ordered by (ts, event_id).  The
    mapping is pure SQL so a DuckDB oracle can replay it verbatim::

        conv_id  = 'conv-' || user_id
        turn_idx = row_number() over (partition by user_id
                                      order by ts, event_id) - 1
        role     = error -> 'tool' | purchase/signup -> 'agent'
                   | else 'user'
        text     = event_type || ' ' || props
        tool     = event_type when role = 'tool'
    """
    role = (
        F.when(F.col("event_type") == "error", F.lit("tool"))
        .when(F.col("event_type").isin("purchase", "signup"), F.lit("agent"))
        .otherwise(F.lit("user"))
    )
    # project conv_id FIRST, then window on the named column: the
    # ordering exchange is then hashpartitioning(conv_id) itself
    # (bijective with user_id), so every downstream conv_id window or
    # aggregate reuses this one shuffle instead of re-exchanging on a
    # derived expression.
    base = events.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        role.alias("role"),
        F.concat_ws(" ", F.col("event_type"), F.col("props")).alias("text"),
        F.when(role == "tool", F.col("event_type")).alias("tool"),
        F.col("ts"),
        F.col("event_id"),
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    return base.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        "role",
        "text",
        "tool",
        "ts",
    )


def conversation_stats(tdf: DataFrame) -> DataFrame:
    """Per-conversation rollup: turn counts by role, size, duration.

    One algebraic groupBy — partial-aggregates map-side, single
    shuffle on ``conv_id``.  ``n_tools`` is an exact distinct count
    (expands to a two-phase aggregate; still shuffle-bounded).
    """
    is_role = lambda r: F.sum((F.col("role") == r).cast("long"))  # noqa: E731
    return tdf.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        is_role("user").alias("n_user"),
        is_role("agent").alias("n_agent"),
        is_role("tool").alias("n_tool"),
        F.sum(F.length("text")).alias("n_chars"),
        F.round(
            F.sum(F.length("text")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_turn_chars"),
        F.countDistinct("tool").alias("n_tools"),
        (_us(F.max("ts")) - _us(F.min("ts"))).alias("duration_us"),
    )


def conversation_fingerprints(
    tdf: DataFrame, *, max_turns: int = 100_000
) -> DataFrame:
    """Canonical per-conversation content hash.

    ``conv_hash = md5(concat_ws(US, texts ordered by turn_idx))`` —
    the conversation-level analog of :func:`docdedup.exact_dedup`'s
    per-document hash.  ``sort_array(collect_list(struct(...)))``
    keeps ordering deterministic regardless of shuffle arrival order
    (turn_idx is unique within a conversation).  ``max_turns`` bounds
    reducer memory on adversarial conversations: only the first
    ``max_turns`` turns feed the hash (slice is deterministic, so two
    identical over-long conversations still collide).
    """
    turns = F.sort_array(F.collect_list(F.struct("turn_idx", "text")))
    texts = F.transform(F.slice(turns, 1, max_turns), lambda s: s["text"])
    return tdf.groupBy("conv_id").agg(
        F.md5(F.concat_ws(US, texts)).alias("conv_hash"),
        F.count(F.lit(1)).alias("n_turns"),
    )


def tool_chains(tdf: DataFrame) -> DataFrame:
    """Longest run of consecutive tool turns per conversation.

    Gaps-and-islands: island id = turn_idx − row_number() within
    (conv_id, is_tool) — consecutive tool turns share an island.  Two
    narrow windows partitioned by conv_id (co-partitioned: one
    exchange, reused), then an algebraic max.  Conversations with no
    tool turns don't appear (inner semantics, mirrored in the oracle).
    """
    w = Window.partitionBy("conv_id", "role").orderBy("turn_idx")
    isl = tdf.filter(F.col("role") == "tool").withColumn(
        "island", F.col("turn_idx") - F.row_number().over(w)
    )
    return (
        isl.groupBy("conv_id", "island")
        .agg(F.count(F.lit(1)).alias("chain_len"))
        .groupBy("conv_id")
        .agg(
            F.max("chain_len").alias("max_tool_chain"),
            F.count(F.lit(1)).alias("n_chains"),
        )
    )


def role_transitions(tdf: DataFrame) -> DataFrame:
    """Corpus-wide role-bigram distribution (who speaks after whom).

    lag window per conversation, then a 9-row global rollup — the
    transcript analog of the reference's per-error counters
    (`/root/reference/napalm_logs/device.py:250` increments one
    counter per message type).  First turns (no predecessor) roll up
    under role_from='<start>'.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        tdf.select(
            F.coalesce(F.lag("role").over(w), F.lit("<start>")).alias("role_from"),
            F.col("role").alias("role_to"),
        )
        .groupBy("role_from", "role_to")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def agent_loop_detect(
    tdf: DataFrame, *, min_run: int = 3, key: Column | None = None
) -> DataFrame:
    """Detect agents stuck in a loop: runs of consecutive turns by the
    same role with identical (normalized) content.

    Agent-trajectory curation needs this gate before transcripts become
    training data — a tool-calling agent that retries the same call N
    times, or a model that repeats the same sentence every turn, must
    be flagged (and usually dropped) rather than learned from.  It is
    the conversation-level analog of :func:`text.repetition_scores`'
    Gopher dup-fraction signals, lifted from tokens-within-a-document
    to turns-within-a-conversation.

    ``key`` is the loop fingerprint (default: md5 of the
    case/whitespace-normalized text).  Runs are gaps-and-islands on
    (conv_id, role, key): island id = turn_idx − row_number() within
    that partition, so consecutive identical turns share an island.
    Both windows partition by conv_id first — co-partitioned with the
    transcript derivation's exchange, so the whole operator is one
    shuffle.  Output has one row per conversation (every conversation
    has at least one run).

    Columns: ``max_repeat_run`` (longest identical run),
    ``n_loop_runs`` (runs of length ≥ min_run), ``looping`` verdict.
    """
    if key is None:
        key = F.md5(F.lower(F.trim(F.col("text"))))
    w = Window.partitionBy("conv_id", "role", key).orderBy("turn_idx")
    runs = (
        tdf.withColumn("island", F.col("turn_idx") - F.row_number().over(w))
        .groupBy("conv_id", "role", key.alias("k"), "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("conv_id").agg(
        F.max("run_len").alias("max_repeat_run"),
        F.sum((F.col("run_len") >= min_run).cast("long")).alias("n_loop_runs"),
        (F.max("run_len") >= min_run).alias("looping"),
    )


def role_violations(tdf: DataFrame) -> DataFrame:
    """Chat-format validation gates per conversation.

    SFT corpora are schema-checked before training (role alternation,
    who may open a conversation, tool results only after an agent
    call); this is that validator as one distributed pass.  Violations
    counted per conversation:

    * ``n_same_role`` — consecutive turns by the same role (a broken
      alternation; some formats allow it, so it is a count not a hard
      fail),
    * ``bad_start`` — the opening turn's role is not ``user``/``system``,
    * ``n_orphan_tool`` — a tool turn whose predecessor is neither an
      agent turn (the call) nor another tool turn (a result chain),
      including a tool turn that opens the conversation,
    * ``valid`` — the conjunctive keep verdict (no violations).

    One lag window + one algebraic groupBy, both on conv_id — single
    exchange, reused from the transcript derivation.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.lag("role").over(w)
    marked = tdf.select(
        "conv_id",
        "turn_idx",
        "role",
        (prev == F.col("role")).cast("long").alias("same_role"),
        (
            (F.col("turn_idx") == 0)
            & ~F.col("role").isin("user", "system")
        ).cast("long").alias("bad_start"),
        (
            (F.col("role") == "tool")
            & ~F.coalesce(prev, F.lit("<start>")).isin("agent", "tool")
        ).cast("long").alias("orphan_tool"),
    )
    return marked.groupBy("conv_id").agg(
        F.sum(F.coalesce(F.col("same_role"), F.lit(0))).alias("n_same_role"),
        F.sum("bad_start").alias("bad_start"),
        F.sum("orphan_tool").alias("n_orphan_tool"),
        (
            (F.sum(F.coalesce(F.col("same_role"), F.lit(0))) == 0)
            & (F.sum("bad_start") == 0)
            & (F.sum("orphan_tool") == 0)
        ).alias("valid"),
    )


#: deflection phrases an RLHF/SFT curation pass screens agent turns
#: for — lowercase substrings, deliberately literal (no regex) so the
#: match is engine-portable and cheap (JVM `contains`, no NFA)
REFUSAL_PATTERNS = (
    "i cannot help",
    "i can't help",
    "i cannot assist",
    "i am unable to",
    "i'm unable to",
    "i must decline",
    "as an ai",
)


def refusal_gate(
    tdf: DataFrame,
) -> DataFrame:
    """Per-conversation refusal/deflection screen over agent turns.

    SFT/RLHF corpus curation drops or downweights conversations whose
    assistant turns are dominated by boilerplate refusals — keeping
    them teaches the model to deflect (the over-refusal failure mode);
    a corpus-level refusal-rate dashboard is also the standard drift
    alarm when an upstream generation policy changes.  This is that
    gate as one distributed pass.

    A turn refuses when its lowercased text contains ANY of
    ``REFUSAL_PATTERNS`` (literal substrings — portable to any engine's
    ``contains``/``LIKE``, no regex dialect risk).  Output per
    conversation: ``n_agent`` turns, ``n_refusals``, the fixed-point
    refusal percentage ``refusal_pct_fp`` (basis points, integer —
    engine-exact like the other convstats gauges), and the ``keep``
    verdict: refusal share at most 5000 bp (50%).
    Conversations with no agent turns have NULL pct and keep = true
    (nothing to screen).

    One algebraic groupBy on conv_id — rides the transcript
    derivation's existing exchange; the pattern chain is a JVM
    ``contains`` OR-fold over the scan, zero Python.
    """
    low = F.lower(F.col("text"))
    refused = F.lit(False)
    for p in REFUSAL_PATTERNS:
        refused = refused | F.contains(low, F.lit(p))
    is_agent = (F.col("role") == "agent").cast("long")
    out = tdf.groupBy("conv_id").agg(
        F.sum(is_agent).alias("n_agent"),
        F.sum((refused & (F.col("role") == "agent")).cast("long")).alias(
            "n_refusals"
        ),
    )
    # integer division end-to-end: basis points are exact, so the gate
    # (and any oracle) never depends on float rounding
    pct = F.when(
        F.col("n_agent") > 0,
        F.expr("(n_refusals * 10000L) div n_agent"),
    )
    return out.select(
        "conv_id",
        "n_agent",
        "n_refusals",
        pct.alias("refusal_pct_fp"),
        F.coalesce(pct <= 5000, F.lit(True)).alias("keep"),
    )


def turn_latency_stats(tdf: DataFrame) -> DataFrame:
    """Per-conversation inter-turn latency profile.

    Response-time analytics over the transcript: per-conversation
    median / p90 / max gap between consecutive turns, plus the mean
    agent-after-user response gap (the "assistant latency" a serving
    dashboard wants).  One window (same conv_id exchange as the other
    operators) + one algebraic/percentile aggregate.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gap_us = _us(F.col("ts")) - _us(F.lag("ts").over(w))
    prev_role = F.lag("role").over(w)
    gaps = tdf.select(
        "conv_id",
        gap_us.alias("gap_us"),
        F.when(
            (prev_role == "user") & (F.col("role") == "agent"), gap_us
        ).alias("resp_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("conv_id").agg(
        F.round(F.expr("percentile(gap_us, 0.5)"), 6).alias("p50_gap_us"),
        F.round(F.expr("percentile(gap_us, 0.9)"), 6).alias("p90_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.round(
            F.sum("resp_us").cast("double") / F.count("resp_us"), 6
        ).alias("avg_resp_us"),
        F.count("resp_us").alias("n_responses"),
    )


PREFIX_MAX_TURNS = 64


def prefix_sharing(tdf: DataFrame) -> DataFrame:
    """Prefix-trie sharing statistics per rollout group.

    When a sampler draws N rollouts from one prompt (Best-of-N, GRPO
    groups, tree search), the conversations share a prefix — the
    prompt, and often the first agent turns.  Serving stacks exploit
    this with prefix/KV caching (vLLM's prefix cache, SGLang's
    RadixAttention) and storage stacks with prefix-trie dedup; the
    planning input both need is "how much IS shared?".  Per prompt
    group this computes exactly that: the character cost of the
    group's prefix TRIE (each distinct turn-prefix stored once)
    versus naive per-rollout storage, plus the depth of the deepest
    turn-prefix common to ALL members (the group LCP — the cache hit
    every member enjoys).

    Mechanics: each conversation's ordered turn texts (capped at
    ``PREFIX_MAX_TURNS``, the conversation_fingerprints reducer-memory
    guard) expand to one node per depth ``d`` with
    ``pf = md5(concat_ws(US, texts[1..d]))`` — the running-prefix
    fingerprint, replayable in ANSI SQL as a windowed
    ``string_agg``.  Groups key on ``md5(texts[1])`` (the
    cv_pref_pairs prompt-identity convention).  Two conversations
    share a trie node iff their first ``d`` turns are byte-identical,
    so:

    * ``naive_chars``  = SUM of turn chars over every rollout;
    * ``trie_chars``   = SUM over DISTINCT (depth, pf) nodes —
      what a prefix-deduplicated store/cache actually holds;
    * ``shared_chars`` = the difference (cache-hit volume);
    * ``lcp_turns``    = max depth where the group has ONE distinct
      prefix held by ALL ``n_convs`` members (prefix property makes
      this monotone, so ``max`` is correct; a singleton group's LCP
      is its own turn count and its ``shared_chars`` is 0).

    Scale: the conv_id collect is the fingerprints aggregate (state
    bounded by ``PREFIX_MAX_TURNS``); nodes explode to at most ``turns``
    rows and every later aggregate only shrinks them.  The per-depth
    prefix concat is O(T²) characters per conversation — bounded by
    ``PREFIX_MAX_TURNS``² and chosen deliberately: it makes the fingerprint
    an exact ANSI replay (the alternative, an O(T) chained hash,
    needs recursion no portable oracle has).  Group skew is the
    sampler's N (bounded); the hot key is the prompt count, which is
    what the shuffle hashes.  Zero Python throughout.
    """
    turns = F.sort_array(F.collect_list(F.struct("turn_idx", "text")))
    per_conv = (
        tdf.groupBy("conv_id")
        .agg(turns.alias("ts"))
        .select(
            "conv_id",
            F.transform(F.slice("ts", 1, PREFIX_MAX_TURNS), lambda s: s["text"]).alias(
                "texts"
            ),
        )
        .withColumn("prompt_fp", F.md5(F.element_at("texts", 1)))
    )
    depth_structs = F.transform(
        F.sequence(F.lit(1), F.size("texts")),
        lambda d: F.struct(
            d.cast("int").alias("depth"),
            F.md5(F.concat_ws(US, F.slice(F.col("texts"), F.lit(1), d))).alias("pf"),
            F.coalesce(
                F.length(F.element_at(F.col("texts"), d)), F.lit(0)
            ).cast("long").alias("n_chars"),
        ),
    )
    nodes = per_conv.select(
        "prompt_fp", F.explode(depth_structs).alias("nd")
    ).select("prompt_fp", "nd.*")
    node_g = nodes.groupBy("prompt_fp", "depth", "pf").agg(
        F.count(F.lit(1)).alias("cnt"),
        # identical pf at a depth => identical prefix => identical
        # turn text, so max is a deterministic pick of equal values
        F.max("n_chars").alias("n_chars"),
    )
    depth_g = node_g.groupBy("prompt_fp", "depth").agg(
        F.count(F.lit(1)).alias("n_pf"),
        F.sum("cnt").alias("n_rows"),
        F.sum("n_chars").alias("trie_d"),
        F.sum(F.col("n_chars") * F.col("cnt")).alias("naive_d"),
    )
    conv_g = per_conv.groupBy("prompt_fp").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.sum(F.size("texts")).alias("total_turns"),
    )
    return (
        depth_g.join(conv_g, "prompt_fp")
        .groupBy("prompt_fp")
        .agg(
            F.first("n_convs").alias("n_convs"),
            F.first("total_turns").alias("total_turns"),
            F.sum("naive_d").alias("naive_chars"),
            F.sum("trie_d").alias("trie_chars"),
            (F.sum("naive_d") - F.sum("trie_d")).alias("shared_chars"),
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("n_pf") == 1) & (F.col("n_rows") == F.col("n_convs")),
                        F.col("depth"),
                    )
                ),
                F.lit(0),
            ).alias("lcp_turns"),
        )
    )


def boilerplate_turns(tdf: DataFrame, *, min_df: int = 3) -> DataFrame:
    """Corpus-level boilerplate-turn detection (turn-level segment dedup).

    Assistant corpora are full of turns that appear verbatim in
    thousands of conversations — canned acknowledgements, templated
    tool banners, safety boilerplate.  Training on them over-weights
    the template (the Gopher/CCNet repeated-segment argument —
    ``d_segment_dedup`` — at TURN granularity, the natural unit of
    the input_hint table), so curation flags every turn whose
    normalized text occurs in ``min_df``-or-more DISTINCT
    conversations.

    Normalization (``lower``, whitespace collapse, trim) makes
    trivially-reformatted copies collide — the agent_loop_detect key
    convention.  Mechanics: one DISTINCT over (digest, conv_id) —
    NOT a per-digest ``collect_set``, which a hot template key
    ("ok.") would blow up — then a digest-count table joined back to
    the input.  The count table is one row per distinct turn text;
    the join back is a plain hash join AQE can skew-split, and a
    turn's verdict never depends on partitioning.  Output:
    input rows + ``turn_df`` (distinct-conversation frequency) +
    ``is_boilerplate``; filter downstream with
    ``~is_boilerplate | role != 'agent'`` or similar policy.
    """
    key = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    # NULL text would make md5(key) NULL and the inner join back on
    # _key would silently drop the row (ADVICE r3) — coalesce to a
    # sentinel so row-preservation holds; NULL turns bucket together,
    # which is the right dedup semantics for an absent text anyway.
    keyed = tdf.withColumn("_key", F.md5(F.coalesce(key, F.lit("\x00null"))))
    df_tab = (
        keyed.select("_key", "conv_id")
        .distinct()
        .groupBy("_key")
        .agg(F.count(F.lit(1)).alias("turn_df"))
    )
    return (
        keyed.join(df_tab, "_key")
        .drop("_key")
        .withColumn("is_boilerplate", F.col("turn_df") >= min_df)
    )
