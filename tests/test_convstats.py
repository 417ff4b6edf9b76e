"""Unit semantics for the conversation-level transcript analytics
(operators/convstats.py) on hand-built transcripts — covers the paths
the events-derived registry queries can't reach (byte-identical
duplicate conversations, max_turns truncation, empty tool chains)."""

import datetime as dt
import hashlib

import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.operators.convstats import (
    US,
    conversation_fingerprints,
    conversation_stats,
    role_transitions,
    tool_chains,
    transcripts_from_events,
    turn_latency_stats,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(s):
    return T0 + dt.timedelta(seconds=s)


def _tdf(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )


@pytest.fixture(scope="module")
def tdf(spark):
    # c1: user/agent/tool mix with a 2-chain and a 1-chain of tools
    # c2: byte-identical content to c3 (different ids/timestamps)
    rows = [
        ("c1", 0, "user",  "hi",        None,      _ts(0)),
        ("c1", 1, "agent", "hello",     None,      _ts(4)),
        ("c1", 2, "tool",  "search q",  "search",  _ts(10)),
        ("c1", 3, "tool",  "fetch u",   "fetch",   _ts(11)),
        ("c1", 4, "agent", "answer",    None,      _ts(20)),
        ("c1", 5, "user",  "thanks",    None,      _ts(120)),
        ("c1", 6, "tool",  "log it",    "log",     _ts(121)),
        ("c2", 0, "user",  "dup text",  None,      _ts(0)),
        ("c2", 1, "agent", "dup reply", None,      _ts(7)),
        ("c3", 0, "user",  "dup text",  None,      _ts(1000)),
        ("c3", 1, "agent", "dup reply", None,      _ts(1009)),
    ]
    return _tdf(spark, rows)


def test_conversation_stats(tdf):
    got = {r["conv_id"]: r.asDict() for r in conversation_stats(tdf).collect()}
    c1 = got["c1"]
    assert c1["n_turns"] == 7
    assert (c1["n_user"], c1["n_agent"], c1["n_tool"]) == (2, 2, 3)
    assert c1["n_tools"] == 3  # search, fetch, log
    assert c1["duration_us"] == 121_000_000
    assert got["c2"]["n_tools"] == 0  # countDistinct skips nulls


def test_fingerprints_and_dup_groups(tdf):
    fp = {r["conv_id"]: r["conv_hash"]
          for r in conversation_fingerprints(tdf).collect()}
    # c2 and c3 share content, c1 differs; hash matches hashlib exactly
    assert fp["c2"] == fp["c3"] != fp["c1"]
    expect = hashlib.md5(f"dup text{US}dup reply".encode()).hexdigest()
    assert fp["c2"] == expect


def test_fingerprint_max_turns_truncation(tdf):
    # with max_turns=1 only turn 0 feeds the hash: c2/c3 still collide,
    # and the hash equals md5 of the first text alone
    fp = {r["conv_id"]: r["conv_hash"]
          for r in conversation_fingerprints(tdf, max_turns=1).collect()}
    assert fp["c2"] == fp["c3"] == hashlib.md5(b"dup text").hexdigest()
    assert fp["c1"] == hashlib.md5(b"hi").hexdigest()


def test_tool_chains(tdf):
    got = {r["conv_id"]: r.asDict() for r in tool_chains(tdf).collect()}
    # c1 has islands [2,3] and [6] -> max chain 2, 2 chains
    assert got["c1"]["max_tool_chain"] == 2
    assert got["c1"]["n_chains"] == 2
    # conversations with no tool turns are absent (inner semantics)
    assert "c2" not in got and "c3" not in got


def test_role_transitions(tdf):
    got = {(r["role_from"], r["role_to"]): r["n"]
           for r in role_transitions(tdf).collect()}
    assert got[("<start>", "user")] == 3  # every conversation starts with user
    assert got[("user", "agent")] == 3
    assert got[("tool", "tool")] == 1  # the c1 2-chain
    assert sum(got.values()) == 11  # one bigram per turn


def test_turn_latency(tdf):
    got = {r["conv_id"]: r.asDict() for r in turn_latency_stats(tdf).collect()}
    c2 = got["c2"]
    # single gap: user->agent 7 s; it is also the only response
    assert c2["p50_gap_us"] == 7_000_000.0
    assert c2["max_gap_us"] == 7_000_000
    assert c2["avg_resp_us"] == 7_000_000.0
    assert c2["n_responses"] == 1
    # c1 gaps: 4,6,1,9,100,1 s; responses: only user->agent = 4 s
    c1 = got["c1"]
    assert c1["max_gap_us"] == 100_000_000
    assert c1["p50_gap_us"] == 5_000_000.0  # median of 1,1,4,6,9,100
    assert c1["n_responses"] == 1 and c1["avg_resp_us"] == 4_000_000.0


def test_transcripts_from_events_shape(spark):
    ev = spark.createDataFrame(
        [
            (1, _ts(0), 7, "view", 1.0, '{"k": 1}'),
            (2, _ts(5), 7, "error", 2.0, '{"k": 2}'),
            (3, _ts(9), 7, "purchase", 3.0, None),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    rows = transcripts_from_events(ev).orderBy("turn_idx").collect()
    assert [r["turn_idx"] for r in rows] == [0, 1, 2]
    assert rows[0]["conv_id"] == "conv-7"
    assert [r["role"] for r in rows] == ["user", "tool", "agent"]
    assert rows[1]["tool"] == "error" and rows[0]["tool"] is None
    assert rows[2]["text"] == "purchase"  # concat_ws drops the NULL props


def test_agent_loop_detect(spark):
    from napalm_logs_spark.operators.convstats import agent_loop_detect

    rows = [
        # c1: agent retries the same call 3x (a loop), then moves on
        ("c1", 0, "user",  "do it",     None, _ts(0)),
        ("c1", 1, "agent", "call X",    None, _ts(1)),
        ("c1", 2, "agent", "call X",    None, _ts(2)),
        ("c1", 3, "agent", "call X",    None, _ts(3)),
        ("c1", 4, "agent", "done",      None, _ts(4)),
        # c2: same text twice but different roles — NOT a run
        ("c2", 0, "user",  "ping",      None, _ts(0)),
        ("c2", 1, "agent", "ping",      None, _ts(1)),
        # c3: same text by same role but separated — two runs of 1
        ("c3", 0, "agent", "a",         None, _ts(0)),
        ("c3", 1, "agent", "b",         None, _ts(1)),
        ("c3", 2, "agent", "a",         None, _ts(2)),
    ]
    got = {
        r["conv_id"]: r.asDict()
        for r in agent_loop_detect(_tdf(spark, rows), min_run=3).collect()
    }
    assert got["c1"]["max_repeat_run"] == 3
    assert got["c1"]["n_loop_runs"] == 1
    assert got["c1"]["looping"] is True
    assert got["c2"]["max_repeat_run"] == 1
    assert got["c2"]["looping"] is False
    assert got["c3"]["max_repeat_run"] == 1
    assert got["c3"]["n_loop_runs"] == 0
    # normalization: case/whitespace variants collide under the default key
    norm = [
        ("c4", 0, "agent", "Call  X ", None, _ts(0)),
        ("c4", 1, "agent", "call x",   None, _ts(1)),
    ]
    got4 = agent_loop_detect(_tdf(spark, norm), min_run=2).collect()[0]
    assert got4["max_repeat_run"] == 1  # trim-only: inner whitespace differs
    norm2 = [
        ("c5", 0, "agent", "call x ",  None, _ts(0)),
        ("c5", 1, "agent", "Call X",   None, _ts(1)),
    ]
    got5 = agent_loop_detect(_tdf(spark, norm2), min_run=2).collect()[0]
    assert got5["max_repeat_run"] == 2 and got5["looping"] is True


def test_role_violations(spark):
    from napalm_logs_spark.operators.convstats import role_violations

    rows = [
        # c1: clean alternation — valid
        ("c1", 0, "user",  "q",  None, _ts(0)),
        ("c1", 1, "agent", "a",  None, _ts(1)),
        ("c1", 2, "tool",  "r",  "t",  _ts(2)),
        ("c1", 3, "agent", "a2", None, _ts(3)),
        # c2: agent opens (bad_start) and double-user (same_role)
        ("c2", 0, "agent", "hi", None, _ts(0)),
        ("c2", 1, "user",  "u1", None, _ts(1)),
        ("c2", 2, "user",  "u2", None, _ts(2)),
        # c3: tool turn right after user (orphan) AND opening tool turn
        ("c3", 0, "tool",  "r0", "t",  _ts(0)),
        ("c3", 1, "user",  "u",  None, _ts(1)),
        ("c3", 2, "tool",  "r1", "t",  _ts(2)),
        # c4: system may open; tool chains (tool after tool) are fine
        ("c4", 0, "system", "s", None, _ts(0)),
        ("c4", 1, "agent",  "a", None, _ts(1)),
        ("c4", 2, "tool",   "r", "t",  _ts(2)),
        ("c4", 3, "tool",   "r", "t",  _ts(3)),
    ]
    got = {
        r["conv_id"]: r.asDict()
        for r in role_violations(_tdf(spark, rows)).collect()
    }
    assert got["c1"] == {
        "conv_id": "c1", "n_same_role": 0, "bad_start": 0,
        "n_orphan_tool": 0, "valid": True,
    }
    assert got["c2"]["bad_start"] == 1
    assert got["c2"]["n_same_role"] == 1
    assert got["c2"]["valid"] is False
    assert got["c3"]["bad_start"] == 1  # tool opening is also a bad start
    assert got["c3"]["n_orphan_tool"] == 2
    # c4: tool-after-tool chain is legal, same_role counts the repeat
    assert got["c4"]["n_orphan_tool"] == 0
    assert got["c4"]["bad_start"] == 0
    assert got["c4"]["n_same_role"] == 1
    assert got["c4"]["valid"] is False


# ---------------------------------------------------------------------------
# prefix_sharing (rollout-group trie / KV-cache planning stats)


def _pfx_rows(convs):
    """convs: {conv_id: [text, ...]} -> transcript rows."""
    rows = []
    for cid, texts in convs.items():
        for i, t in enumerate(texts):
            rows.append((cid, i, "user" if i == 0 else "agent", t, None, _ts(i)))
    return rows


def _py_prefix_sharing(convs, max_turns=64):
    """Independent replication: dict/trie-based, hashlib prefixes."""
    groups = {}
    for cid, texts in convs.items():
        texts = texts[:max_turns]
        fp = hashlib.md5(texts[0].encode()).hexdigest()
        groups.setdefault(fp, []).append(texts)
    out = {}
    for fp, members in groups.items():
        nodes = {}  # (depth, prefix_hash) -> (n_chars, count)
        naive = 0
        for texts in members:
            for d in range(1, len(texts) + 1):
                pf = hashlib.md5(US.join(texts[:d]).encode()).hexdigest()
                n = len(texts[d - 1])
                naive += n
                c = nodes.get((d, pf), (n, 0))
                nodes[(d, pf)] = (n, c[1] + 1)
        trie = sum(n for n, _ in nodes.values())
        lcp = 0
        for d in range(1, max(len(t) for t in members) + 1):
            at_d = [(k, v) for k, v in nodes.items() if k[0] == d]
            if len(at_d) == 1 and at_d[0][1][1] == len(members):
                lcp = d
        out[fp] = dict(
            n_convs=len(members),
            total_turns=sum(len(t) for t in members),
            naive_chars=naive,
            trie_chars=trie,
            shared_chars=naive - trie,
            lcp_turns=lcp,
        )
    return out


def test_prefix_sharing_hand_computed(spark):
    from napalm_logs_spark.operators.convstats import prefix_sharing

    # one prompt group: 3 rollouts share ["P", "A1"] then diverge;
    # a second group is a singleton.
    convs = {
        "r1": ["P", "A1", "x"],
        "r2": ["P", "A1", "yy"],
        "r3": ["P", "A1", "x"],  # byte-identical to r1 -> full share
        "solo": ["Q", "zzz"],
    }
    got = {
        r["prompt_fp"]: r.asDict()
        for r in prefix_sharing(_tdf(spark, _pfx_rows(convs))).collect()
    }
    g = got[hashlib.md5(b"P").hexdigest()]
    # trie: depth1 "P" (1 char) + depth2 "A1" (2) + depth3 {"x","yy"} (1+2)
    assert g["trie_chars"] == 1 + 2 + 1 + 2
    # naive: 3*(1+2) + 1 + 2 + 1
    assert g["naive_chars"] == 13
    assert g["shared_chars"] == 13 - 6
    assert g["lcp_turns"] == 2  # r2 diverges at depth 3
    assert g["n_convs"] == 3 and g["total_turns"] == 9
    s = got[hashlib.md5(b"Q").hexdigest()]
    # singleton: whole conversation is its own LCP, nothing shared
    assert s["shared_chars"] == 0 and s["lcp_turns"] == 2


def test_prefix_sharing_parity_with_replication(spark):
    from napalm_logs_spark.operators.convstats import prefix_sharing

    convs = {}
    for c in range(40):
        g, sd = c // 5, (c // 5) % 3 + 1
        texts = [f"p:{g}:{k}" if k <= sd else f"c:{c}:{k}" for k in range(6)]
        convs[f"c{c:03d}"] = texts
    want = _py_prefix_sharing(convs)
    got = {
        r["prompt_fp"]: r.asDict()
        for r in prefix_sharing(_tdf(spark, _pfx_rows(convs))).collect()
    }
    assert set(got) == set(want)
    for fp, w in want.items():
        for k, v in w.items():
            assert got[fp][k] == v, (fp, k, got[fp], w)


def test_prefix_sharing_max_turns_and_invariance(spark):
    from napalm_logs_spark.operators.convstats import PREFIX_MAX_TURNS, prefix_sharing

    # every conversation runs past the cap: only the first 64 turns count
    convs = {
        f"c{i}": ["P"] + [f"t:{i}:{k}" for k in range(PREFIX_MAX_TURNS + 5)]
        for i in range(6)
    }
    df = _tdf(spark, _pfx_rows(convs))
    capped = prefix_sharing(df).collect()
    assert capped[0]["total_turns"] == 6 * PREFIX_MAX_TURNS
    want = _py_prefix_sharing(convs, max_turns=PREFIX_MAX_TURNS)
    assert capped[0]["trie_chars"] == want[hashlib.md5(b"P").hexdigest()]["trie_chars"]
    a = sorted(map(tuple, prefix_sharing(df.repartition(1)).collect()))
    b = sorted(map(tuple, prefix_sharing(df.repartition(11)).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# boilerplate_turns (turn-level segment dedup)


def test_boilerplate_turns_semantics(spark):
    from napalm_logs_spark.operators.convstats import boilerplate_turns

    rows = []
    # "Sure!" appears (reformatted) in 3 conversations; unique tails don't
    for c in range(3):
        rows += [(f"c{c}", 0, "user", f"ask {c}", None, _ts(0)),
                 (f"c{c}", 1, "agent", ["Sure!", "  sure! ", "SURE!"][c], None, _ts(1)),
                 (f"c{c}", 2, "agent", f"answer {c}", None, _ts(2))]
    # same text twice within ONE conversation: df counts conversations, not turns
    rows += [("c9", 0, "agent", "dup-in-conv", None, _ts(0)),
             ("c9", 1, "agent", "dup-in-conv", None, _ts(1))]
    out = boilerplate_turns(_tdf(spark, rows), min_df=3).collect()
    by_text = {}
    for r in out:
        by_text.setdefault(r["text"], []).append(r)
    assert all(r["turn_df"] == 3 and r["is_boilerplate"]
               for t in ("Sure!", "  sure! ", "SURE!") for r in by_text[t])
    assert all(r["turn_df"] == 1 and not r["is_boilerplate"]
               for t in ("ask 0", "answer 2") for r in by_text[t])
    assert all(r["turn_df"] == 1 for r in by_text["dup-in-conv"])
    assert len(out) == len(rows)  # row-preserving


def test_boilerplate_turns_null_text_preserved(spark):
    """ADVICE r3: a NULL text must not be silently dropped by the join
    back on the md5 key — the operator is row-preserving."""
    from napalm_logs_spark.operators.convstats import boilerplate_turns

    rows = [("c0", 0, "user", None, None, _ts(0)),
            ("c1", 0, "user", None, None, _ts(0)),
            ("c2", 0, "user", None, None, _ts(0)),
            ("c3", 0, "user", "hello", None, _ts(0))]
    out = boilerplate_turns(_tdf(spark, rows), min_df=3).collect()
    assert len(out) == 4  # row-preserving incl. NULL texts
    nulls = [r for r in out if r["text"] is None]
    assert len(nulls) == 3
    # NULL texts bucket together: df = 3 distinct conversations
    assert all(r["turn_df"] == 3 and r["is_boilerplate"] for r in nulls)


def test_boilerplate_turns_partitioning_invariance(spark):
    from napalm_logs_spark.operators.convstats import boilerplate_turns

    rows = []
    for c in range(20):
        for k in range(4):
            t = "ACK" if (c + k) % 3 == 0 else f"u:{c}:{k}"
            rows.append((f"c{c}", k, "agent", t, None, _ts(k)))
    df = _tdf(spark, rows)
    a = sorted(map(tuple, boilerplate_turns(df.repartition(1), min_df=5).collect()))
    b = sorted(map(tuple, boilerplate_turns(df.repartition(9), min_df=5).collect()))
    assert a == b


def test_refusal_gate_counts_and_verdicts(spark):
    from napalm_logs_spark.operators.convstats import refusal_gate

    rows = [
        # c1: 2 agent turns, 1 refusal -> 5000 bp, keep (<= 5000)
        ("c1", 0, "user", "please summarize this", None, _ts(0)),
        ("c1", 1, "agent", "Sure, I cannot help with that request.", None, _ts(1)),
        ("c1", 2, "agent", "here is the summary you asked for", None, _ts(2)),
        # c2: 1 agent turn, 1 refusal -> 10000 bp, drop
        ("c2", 0, "user", "do the thing", None, _ts(0)),
        ("c2", 1, "agent", "As an AI, I must decline.", None, _ts(1)),
        # c3: no agent turns -> NULL pct, keep
        ("c3", 0, "user", "hello i cannot help myself", None, _ts(0)),
        ("c3", 1, "tool", "I must decline", "search", _ts(1)),
        # c4: refusal text on a USER turn does not count
        ("c4", 0, "user", "i'm unable to phrase this", None, _ts(0)),
        ("c4", 1, "agent", "no refusal here", None, _ts(1)),
    ]
    got = {r.conv_id: r for r in refusal_gate(_tdf(spark, rows)).collect()}
    assert (got["c1"].n_agent, got["c1"].n_refusals, got["c1"].refusal_pct_fp,
            got["c1"].keep) == (2, 1, 5000, True)
    assert (got["c2"].n_agent, got["c2"].n_refusals, got["c2"].refusal_pct_fp,
            got["c2"].keep) == (1, 1, 10000, False)
    assert (got["c3"].n_agent, got["c3"].n_refusals, got["c3"].refusal_pct_fp,
            got["c3"].keep) == (0, 0, None, True)
    assert (got["c4"].n_agent, got["c4"].n_refusals, got["c4"].refusal_pct_fp,
            got["c4"].keep) == (1, 0, 0, True)


def test_refusal_gate_case_insensitive_and_invariant(spark):
    from napalm_logs_spark.operators.convstats import refusal_gate

    rows = [
        (f"c{c}", k, "agent",
         "I CANNOT HELP with that" if (c + k) % 3 == 0 else f"fine {c} {k}",
         None, _ts(k))
        for c in range(15) for k in range(4)
    ]
    df = _tdf(spark, rows)
    a = sorted(map(tuple, refusal_gate(df.repartition(1)).collect()))
    b = sorted(map(tuple, refusal_gate(df.repartition(9)).collect()))
    assert a == b
    assert any(r[2] > 0 for r in a)  # case-insensitive match fired
