"""Seeded synthetic transcripts for tests.

Replicates golden syslog lines across ``n_convs`` conversations with
deterministic timestamps, optional hot-key skew, duplicate bursts and
agent/tool turn interleaving.  A pure function of its arguments: two
runs are byte-identical (no wall-clock, no unseeded RNG).
"""

import random
from datetime import timedelta

import pandas as pd

from napalm_logs_spark.sources.transcripts import BASE_TS, golden_cases


def synth_transcripts_pandas(
    n_convs: int = 100,
    turns_per_conv: int = 20,
    *,
    seed: int = 42,
    hot_conv_fraction: float = 0.0,
    dup_fraction: float = 0.0,
    tool_fraction: float = 0.2,
    step_seconds: float = 1.0,
) -> pd.DataFrame:
    """Deterministic synthetic transcripts built from golden text lines.

    ``hot_conv_fraction`` routes that share of all rows into a single
    hot conversation (skew scenario); ``dup_fraction`` repeats the
    previous turn's text verbatim (dedup scenario); ``tool_fraction``
    marks turns as ``role='tool'`` with a tool name (join scenario).
    """
    rng = random.Random(seed)
    texts = [c["text"] for c in golden_cases()]
    tools = ["search", "calc", "deploy", "query", "probe"]
    rows = []
    total = n_convs * turns_per_conv
    hot_rows = int(total * hot_conv_fraction)
    assignments = ["conv-hot"] * hot_rows + [
        f"conv-{i % n_convs:05d}" for i in range(total - hot_rows)
    ]
    rng.shuffle(assignments)
    turn_counters: dict = {}
    prev_text: dict = {}
    for i, conv in enumerate(assignments):
        turn = turn_counters.get(conv, 0)
        turn_counters[conv] = turn + 1
        if conv in prev_text and rng.random() < dup_fraction:
            text = prev_text[conv]
        else:
            text = texts[rng.randrange(len(texts))]
        prev_text[conv] = text
        is_tool = rng.random() < tool_fraction
        rows.append(
            {
                "conv_id": conv,
                "turn_idx": turn,
                "role": "tool" if is_tool else rng.choice(["agent", "user"]),
                "text": text,
                "tool": rng.choice(tools) if is_tool else None,
                "ts": BASE_TS + timedelta(seconds=i * step_seconds),
            }
        )
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df
