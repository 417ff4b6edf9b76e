"""Unit semantics for the SFT sample builder (operators/sft.py):
span offsets actually index the rendered sample, masks follow the
agent-only loss rule, and rendered samples compose with the SPFHP
packer as ordinary documents."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.operators.sft import sft_render, sft_spans
from napalm_logs_spark.operators.text import pack_histogram

T0 = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def tdf(spark):
    rows = [
        ("c1", 0, "user",  "hello there",      None,  T0),
        ("c1", 1, "agent", "hi how can I help", None,  T0),
        ("c1", 2, "tool",  "search results",   "web", T0),
        ("c1", 3, "agent", "here you go",      None,  T0),
        ("c2", 0, "user",  "   ",              None,  T0),  # whitespace-only
        ("c2", 1, "agent", "",                 None,  T0),  # empty
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )


def test_spans_index_rendered_text(tdf):
    """The invariant the trainer relies on: slicing the rendered sample
    at [span_start, span_end) recovers exactly the turn's text."""
    samples = {r["conv_id"]: r["sample_text"] for r in sft_render(tdf).collect()}
    turns = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tdf.collect()}
    spans = sft_spans(tdf).collect()
    assert len(spans) == 6
    for r in spans:
        s = samples[r["conv_id"]]
        assert s[r["span_start"]:r["span_end"]] == turns[(r["conv_id"], r["turn_idx"])]


def test_masks_and_tokens(tdf):
    got = {(r["conv_id"], r["turn_idx"]): r.asDict() for r in sft_spans(tdf).collect()}
    assert [got[("c1", i)]["mask"] for i in range(4)] == [0, 1, 0, 1]
    assert got[("c1", 1)]["n_tokens"] == 5
    # empty / whitespace-only turns count zero tokens
    assert got[("c2", 0)]["n_tokens"] == 0
    assert got[("c2", 1)]["n_tokens"] == 0


def test_render_totals(tdf):
    got = {r["conv_id"]: r.asDict() for r in sft_render(tdf).collect()}
    c1 = got["c1"]
    assert c1["n_turns"] == 4
    assert c1["n_tokens"] == 2 + 5 + 2 + 3
    assert c1["n_loss_tokens"] == 5 + 3
    assert c1["sample_text"].startswith("<|user|>\nhello there\n<|agent|>\n")
    assert got["c2"]["n_tokens"] == 0 and got["c2"]["n_loss_tokens"] == 0


def test_render_max_turns_truncation(tdf):
    got = {r["conv_id"]: r.asDict()
           for r in sft_render(tdf, max_turns=2).collect()}
    c1 = got["c1"]
    # only turns 0-1 feed the sample; n_turns still reports the true count
    assert c1["sample_text"] == "<|user|>\nhello there\n<|agent|>\nhi how can I help\n"
    assert c1["n_tokens"] == 7 and c1["n_loss_tokens"] == 5
    assert c1["n_turns"] == 4


def test_compose_with_spfhp_packing(tdf):
    """Rendered samples are documents: the SPFHP packer consumes them
    directly (conv_id as doc id, whitespace tokens as length)."""
    samples = sft_render(tdf).select(
        F.col("conv_id").alias("doc_id"), F.col("sample_text").alias("text")
    )
    packs = pack_histogram(samples, budget=32)
    rows = packs.collect()
    packed_ids = {r["doc_id"] for r in rows}
    # c1 has 12 tokens of text + 8 template tokens -> packs; c2 renders
    # to template-only tokens and packs too (non-empty rendered text)
    assert "c1" in packed_ids
    for r in rows:
        assert r["pack_id"] is not None


# ---------------------------------------------------------------------------
# preference pairs (DPO) + context-window truncation


@pytest.fixture(scope="module")
def pref_tdf(spark):
    def conv(cid, prompt_turns, agent_text):
        rows = [
            (cid, i, "user", t, None, T0) for i, t in enumerate(prompt_turns)
        ]
        rows.append((cid, len(prompt_turns), "agent", agent_text, None, T0))
        return rows

    rows = (
        # three convs sharing prompt ["hi", "please help"]
        conv("a1", ["hi", "please help"], "long detailed answer here")   # 25ch
        + conv("a2", ["hi", "please help"], "ok")                        # 2ch
        + conv("a3", ["hi", "please help"], "medium answer")             # 13ch
        # shared prompt but identical scores -> margin 0, dropped
        + conv("b1", ["bye"], "same")
        + conv("b2", ["bye"], "same")
        # no agent turn -> dropped
        + [("c1", 0, "user", "hi", None, T0)]
        # unique prompt, single conv -> no pair
        + conv("d1", ["solo prompt"], "resp")
    )
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )


def _scores(tdf):
    return (
        tdf.filter(F.col("role") == "agent")
        .groupBy("conv_id")
        .agg(F.sum(F.length("text")).cast("double").alias("score"))
    )


def test_preference_pairs_best_vs_worst(pref_tdf):
    from napalm_logs_spark.operators.sft import preference_pairs

    rows = preference_pairs(pref_tdf, _scores(pref_tdf)).collect()
    # only the a-group survives: b margin 0, c no agent, d singleton
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["chosen_conv_id"] == "a1" and r["rejected_conv_id"] == "a2"
    assert r["chosen_score"] == 25.0 and r["rejected_score"] == 2.0
    assert r["margin"] == 23.0


def test_preference_pairs_tie_breaks(spark):
    """Equal-score ties resolve deterministically: chosen = min conv_id
    among max-score, rejected = max conv_id among min-score."""
    from napalm_logs_spark.operators.sft import preference_pairs

    rows = []
    for cid, resp in [("z1", "aa"), ("z2", "aa"), ("z3", "bbbb"), ("z4", "bbbb")]:
        rows += [
            (cid, 0, "user", "same prompt", None, T0),
            (cid, 1, "agent", resp, None, T0),
        ]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )
    got = preference_pairs(tdf, _scores(tdf)).collect()
    assert len(got) == 1
    r = got[0].asDict()
    assert r["chosen_conv_id"] == "z3"    # max score 4, min conv_id
    assert r["rejected_conv_id"] == "z2"  # min score 2, max conv_id


def test_preference_pairs_prompt_normalization(spark):
    """prompt_text_col fingerprints the normalized view, so prompts
    that differ only in the volatile part still collide."""
    from napalm_logs_spark.operators.sft import preference_pairs

    rows = [
        ("n1", 0, "user", "greet id=111", None, T0),
        ("n1", 1, "agent", "wordy reply", None, T0),
        ("n2", 0, "user", "greet id=222", None, T0),
        ("n2", 1, "agent", "x", None, T0),
    ]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    ).withColumn("ptext", F.split(F.col("text"), " ")[0])
    # raw texts differ -> no pair
    assert preference_pairs(tdf, _scores(tdf)).count() == 0
    # normalized texts collide -> one pair
    got = preference_pairs(tdf, _scores(tdf), prompt_text_col="ptext").collect()
    assert len(got) == 1 and got[0]["chosen_conv_id"] == "n1"


def test_truncate_to_budget_suffix_and_pin(spark):
    from napalm_logs_spark.operators.sft import truncate_to_budget

    rows = [
        ("t1", 0, "user", "sys prompt here",  None, T0),  # 3 tokens
        ("t1", 1, "user", "one two three",    None, T0),  # 3
        ("t1", 2, "agent", "four five",       None, T0),  # 2
        ("t1", 3, "user", "six",              None, T0),  # 1
        ("t1", 4, "agent", "",                None, T0),  # 0
    ]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )
    got = {r["turn_idx"]: r.asDict()
           for r in truncate_to_budget(tdf, budget_tokens=3).collect()}
    # suffix sums from the end: t4=0, t3=1, t2=3, t1=6, t0=9
    assert [got[i]["suffix_tokens"] for i in range(5)] == [9, 6, 3, 1, 0]
    # kept: t2..t4 fit the budget; t1 does not; t0 pinned despite overflow
    assert [got[i]["keep"] for i in range(5)] == [1, 0, 1, 1, 1]
    assert [got[i]["pinned"] for i in range(5)] == [1, 0, 0, 0, 0]


def test_truncate_budget_covers_all(spark):
    """A budget >= the whole conversation keeps every turn, none pinned."""
    from napalm_logs_spark.operators.sft import truncate_to_budget

    rows = [("u1", i, "user", "a b", None, T0) for i in range(3)]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )
    got = truncate_to_budget(tdf, budget_tokens=100).collect()
    assert all(r["keep"] == 1 and r["pinned"] == 0 for r in got)


def test_conversation_neardup_composition(spark):
    """Conversation-level near-dedup (the cv_neardup driver query):
    rendered conversations feed MinHash+LSH directly.  Two planted
    conversations differing in one turn out of twelve must pair with
    high Jaccard; an unrelated conversation must not pair."""
    from napalm_logs_spark.operators.docdedup import minhash_lsh_pairs
    from napalm_logs_spark.operators.sft import sft_render

    def conv(cid, texts):
        return [(cid, i, "user" if i % 2 == 0 else "agent", t, None, T0)
                for i, t in enumerate(texts)]

    base = [f"turn {i} the quick brown fox jumps over the lazy dog"
            for i in range(12)]
    variant = list(base)
    variant[5] = "a completely different fifth turn body"
    other = [f"unrelated {i} lorem ipsum dolor sit amet consectetur"
             for i in range(12)]
    tdf = spark.createDataFrame(
        conv("k1", base) + conv("k2", variant) + conv("k3", other),
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    rendered = sft_render(tdf).select(
        F.col("conv_id").alias("doc_id"), F.col("sample_text").alias("text")
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(
                 rendered, num_hashes=32, bands=8, n=3, threshold=0.1
             ).collect()}
    assert ("k1", "k2") in pairs and pairs[("k1", "k2")] > 0.5
    assert all("k3" not in p for p in pairs)


def test_render_composes_with_foreachbatch(spark, tmp_path, pref_tdf):
    """Deployment shape: the SFT write-side runs inside foreachBatch on
    a transcript stream — per-batch render output must equal the batch
    render of the same rows (conversations arrive whole per batch)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    pref_tdf.write.parquet(src)
    expected = {r["conv_id"]: r.asDict() for r in sft_render(pref_tdf).collect()}

    def render_batch(bdf, bid):
        sft_render(bdf).write.mode("append").parquet(out)

    q = (
        spark.readStream.schema(pref_tdf.schema)
        .parquet(src)
        .writeStream.foreachBatch(render_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["conv_id"]: r.asDict() for r in spark.read.parquet(out).collect()}
    assert got == expected


def test_best_of_n_selection_and_gap(spark):
    from napalm_logs_spark.operators.sft import best_of_n

    def _ts(sec):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    # two prompt groups: "hi" (3 candidates) and "yo" (1 candidate)
    rows = []
    for cid, prompt, resp in [
        (1, "hi", "aaa"), (2, "hi", "bbbbb"), (3, "hi", "cc"),
        (4, "yo", "dddd"),
    ]:
        rows += [(f"c{cid}", 0, "user", prompt, None, _ts(0)),
                 (f"c{cid}", 1, "agent", resp, None, _ts(1))]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp",
    )
    scores = spark.createDataFrame(
        [(f"c{c}", float(s)) for c, s in [(1, 3), (2, 5), (3, 2), (4, 4)]],
        "conv_id string, score double",
    )
    out = {r.conv_id: r for r in best_of_n(tdf, scores).collect()}
    # group "hi": winner c2 (score 5), runner-up 3 -> gap 2; group "yo":
    # singleton winner with NULL gap
    assert set(out) == {"c2", "c4"}
    assert out["c2"].n_candidates == 3 and out["c2"].score_gap == 2.0
    assert out["c4"].n_candidates == 1 and out["c4"].score_gap is None
    # min_candidates=2 drops the singleton prompt
    out2 = {r.conv_id for r in best_of_n(tdf, scores, min_candidates=2).collect()}
    assert out2 == {"c2"}


def test_best_of_n_tie_breaks_to_lowest_conv_id(spark):
    from napalm_logs_spark.operators.sft import best_of_n

    def _ts(sec):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    rows = []
    for cid in ("b", "a", "c"):
        rows += [(cid, 0, "user", "same", None, _ts(0)),
                 (cid, 1, "agent", "r", None, _ts(1))]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp",
    )
    scores = spark.createDataFrame(
        [(c, 7.0) for c in ("a", "b", "c")], "conv_id string, score double"
    )
    got = best_of_n(tdf, scores).collect()
    assert len(got) == 1 and got[0].conv_id == "a"
    assert got[0].score_gap == 0.0  # tie: winner minus runner-up
