"""FIXTURES.md t2: replicate the golden corpus ×N under distinct
conv_ids — outputs must replicate exactly (same envelope per clone,
conv-independent), proving the stage is a pure per-row function."""

import json

import pandas as pd

from napalm_logs_spark.operators.normalize import normalize_pandas
from napalm_logs_spark.profiles import load_registry
from napalm_logs_spark.sources.transcripts import golden_transcripts_pandas

N_CLONES = 20


def test_golden_corpus_replicates_exactly():
    registry = load_registry()
    base = golden_transcripts_pandas()
    clones = []
    for k in range(N_CLONES):
        c = base.copy()
        c["conv_id"] = c["conv_id"] + f"#rep{k:03d}"
        clones.append(c)
    pdf = pd.concat(clones, ignore_index=True)
    out = normalize_pandas(pdf, registry)
    out = out[out["error"] != "RAW"]
    assert len(out) == N_CLONES * len(base)

    # every clone of a case must produce a byte-identical envelope body
    out = out.copy()
    out["case"] = out["conv_id"].str.rsplit("#rep", n=1).str[0]
    body_cols = ["os", "error", "host", "yang_model", "yang_message",
                 "message_details", "tag", "message"]
    body = out[body_cols].fillna("∅")
    body["case"] = out["case"]
    variants = body.groupby("case")[body_cols].nunique().max(axis=1)
    offenders = variants[variants > 1]
    assert offenders.empty, offenders.index.tolist()[:5]
