"""TTL-buffered dedup (the reference's only hot-path aggregation).

Reference semantics (server.py:301-320 + buffer/memory.py:26-41):
key = (dev_os, host, message); when a message arrives, if a *kept*
message with the same key exists within the last ``expire_time``
seconds (default 5), the new one is dropped.  Crucially the TTL anchors
at the **kept** row — suppressed duplicates do not refresh it (memory
buffer stores on first sight only; Redis variant is SET NX EX).

Two batch forms and one streaming form:

* :func:`dedup_gap_session` — pure-relational burst dedup: keeps the
  first row of every gap-session (consecutive same-key rows < ttl
  apart collapse).  Equivalent to anchored-TTL whenever bursts are
  shorter than the TTL; fully expressible in ANSI SQL (oracle-checkable)
  and shuffle-optimal (one hash exchange on the key).
* :func:`dedup_ttl_exact` — exact anchored-TTL semantics via
  ``applyInPandas`` per key (sequential scan inside each key group —
  groups are duplicate bursts, inherently small; the shuffle key is the
  dedup key so parallelism is preserved across keys).
* :func:`dedup_streaming` — the ``run`` path's streaming dedup:
  ``withWatermark(...).dropDuplicatesWithinWatermark`` over the same
  key, state evicted by watermark (the reference's janitor thread,
  server.py:74-86, for free).

The streaming horizon is the watermark delay, not the reference's
anchored TTL: a same-key row is dropped for as long as the kept row
stays in state, i.e. until the watermark passes the kept row's event
time plus that delay.  An exact anchored-TTL streaming form needs
JVM-side state: the Python-state form (``applyInPandasWithState``) was
measured far too slow for the ``run`` path (ROADMAP item 1).
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_KEY = ("os", "host", "message")
DEFAULT_TTL_SECONDS = 5.0  # reference config/__init__.py:35


def dedup_gap_session(
    df: DataFrame,
    ttl_seconds: float = DEFAULT_TTL_SECONDS,
    key: Sequence[str] = DEFAULT_KEY,
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("turn_idx",),
) -> DataFrame:
    """Keep the first row of each same-key burst (gap < ttl collapses)."""
    w = Window.partitionBy(*key).orderBy(ts_col, *order_cols)
    # via TIMESTAMP so TIMESTAMP_NTZ columns take epoch seconds too
    epoch = F.col(ts_col).cast("timestamp").cast("double")
    prev = F.lag(epoch).over(w)
    gap_ok = prev.isNull() | (epoch - prev >= ttl_seconds)
    return (
        df.withColumn("_keep", gap_ok)
        .filter(F.col("_keep"))
        .drop("_keep")
    )


def dedup_ttl_exact(
    df: DataFrame,
    ttl_seconds: float = DEFAULT_TTL_SECONDS,
    key: Sequence[str] = DEFAULT_KEY,
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("turn_idx",),
) -> DataFrame:
    """Exact anchored-TTL dedup: a kept row suppresses same-key rows for
    the next ``ttl_seconds``; suppressed rows do NOT extend suppression.
    """
    schema = df.schema
    sort_cols = [ts_col, *[c for c in order_cols if c in df.columns]]

    def _scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        keep = []
        anchor = None
        for t in pdf[ts_col]:
            tv = t.timestamp() if hasattr(t, "timestamp") else float(t)
            if anchor is None or tv - anchor >= ttl_seconds:
                keep.append(True)
                anchor = tv
            else:
                keep.append(False)
        return pdf[keep]

    # null keys never dedup against each other in the reference (the key
    # string would still collide, but host is always set for routed
    # messages); replicate by filling a sentinel
    return df.groupBy(*key).applyInPandas(_scan, schema=schema)


def dedup_streaming(
    df: DataFrame,
    watermark: str,
    key: Sequence[str] = DEFAULT_KEY,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming dedup within the ``watermark`` horizon.

    ``dropDuplicatesWithinWatermark`` keeps the first arrival per key and
    drops later ones while the key is in state; the watermark delay is
    both the horizon and the state bound (the reference's TTL janitor).

    When ``key`` holds ``os``, UNKNOWN envelopes (``os = 'unknown'``)
    never dedup: the reference buffers after ``_identify_os``
    (server.py:301-320 vs :347-363), so they carry the turn's identity
    (``conv_id``, ``turn_idx``) in the key; every other row has NULL
    there and dedups on ``key`` alone.
    """
    key = list(key)
    if "os" in key:
        unknown_turn = F.when(F.col("os") == "unknown", F.struct("conv_id", "turn_idx"))
        df = df.withColumn("_unknown_turn", unknown_turn)
        key.append("_unknown_turn")
    return (
        df.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(key)
        .drop("_unknown_turn")
    )
