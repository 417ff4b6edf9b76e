"""Transcript sources: the golden fixture corpus as transcript rows.

The engine's input shape (BASELINE input_hint) is a table of multi-turn
transcripts::

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

:func:`golden_transcripts_pandas` re-expresses the reference's golden
corpus (``tests/config/<os>/<ERROR>/<case>/syslog.msg`` + ``yang.json``,
133 cases) as transcript rows.  The syslog line rides in ``text``; the
expected envelope is returned alongside for the correctness harness.
Two runs are byte-identical (no wall-clock).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

#: golden corpus: the vendored snapshot of the reference's Apache-2.0
#: test fixtures (133 syslog.msg + yang.json cases) — repo-local so the
#: engine and its tests run standalone.  NLS_GOLDEN_DIR overrides (and
#: is needed where the package runs from a zip, away from the repo).
DEFAULT_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "fixtures", "golden",
)

#: fixture-era base timestamp (naive UTC; Spark session runs in UTC)
BASE_TS = datetime(2017, 7, 20, 21, 45, 59)


def golden_cases():
    """Yield dicts {os, error, case, text, expected} for every fixture."""
    root = os.environ.get("NLS_GOLDEN_DIR", DEFAULT_GOLDEN_DIR)
    if not os.path.isdir(root):
        raise FileNotFoundError(
            f"golden fixture directory not found: {root}; "
            "set NLS_GOLDEN_DIR to the fixture tree"
        )
    for os_name in sorted(os.listdir(root)):
        os_dir = os.path.join(root, os_name)
        if not os.path.isdir(os_dir):
            continue
        for error_name in sorted(os.listdir(os_dir)):
            err_dir = os.path.join(os_dir, error_name)
            if not os.path.isdir(err_dir):
                continue
            for case_name in sorted(os.listdir(err_dir)):
                case_dir = os.path.join(err_dir, case_name)
                msg_path = os.path.join(case_dir, "syslog.msg")
                yang_path = os.path.join(case_dir, "yang.json")
                if not os.path.isfile(msg_path):
                    continue
                with open(msg_path) as fh:
                    text = fh.read().strip()
                expected = None
                if os.path.isfile(yang_path):
                    with open(yang_path) as fh:
                        expected = json.load(fh)
                yield {
                    "os": os_name,
                    "error": error_name,
                    "case": case_name,
                    "text": text,
                    "expected": expected,
                }


def golden_transcripts_pandas() -> pd.DataFrame:
    """The golden corpus as transcript rows (one conv per case)."""
    rows = []
    for i, case in enumerate(golden_cases()):
        rows.append(
            {
                "conv_id": f"{case['os']}#{case['error']}#{case['case']}",
                "turn_idx": 0,
                "role": "agent",
                "text": case["text"],
                "tool": None,
                "ts": BASE_TS + timedelta(seconds=i),
            }
        )
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def transcripts_df(spark, pdf: pd.DataFrame):
    """pandas transcripts → Spark DataFrame with the canonical schema."""
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
