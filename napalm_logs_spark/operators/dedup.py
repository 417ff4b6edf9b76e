"""TTL-buffered dedup (the reference's only hot-path aggregation).

Reference semantics (server.py:301-320 + buffer/memory.py:26-41):
key = (dev_os, host, message); when a message arrives, if a *kept*
message with the same key exists within the last ``expire_time``
seconds (default 5), the new one is dropped.  Crucially the TTL anchors
at the **kept** row — suppressed duplicates do not refresh it (memory
buffer stores on first sight only; Redis variant is SET NX EX).

Two batch and two streaming implementations:

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
  server.py:74-86, for free).  Its horizon is the watermark delay,
  not the anchored TTL.
* :func:`dedup_streaming_salted` — the same contract in two phases,
  spreading a single hot key over ``salts`` state partitions.

The exact anchored-TTL form for streams is
:func:`napalm_logs_spark.streaming.stateful.exact_ttl_dedup_stream`.
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
    prev_ts = F.lag(F.col(ts_col)).over(w)
    gap_ok = (
        prev_ts.isNull()
        | (F.col(ts_col).cast("double") - prev_ts.cast("double") >= ttl_seconds)
    )
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
    ttl_seconds: float = DEFAULT_TTL_SECONDS,
    key: Sequence[str] = DEFAULT_KEY,
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming dedup within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps the first arrival per key and
    drops later ones while the key is in state; the watermark bounds
    state exactly like the reference's TTL janitor.  Horizon defaults to
    the TTL (state ≈ one burst per live key).
    """
    watermark = watermark or f"{max(int(ttl_seconds), 1)} seconds"
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(key))


def dedup_streaming_salted(
    df: DataFrame,
    ttl_seconds: float = DEFAULT_TTL_SECONDS,
    key: Sequence[str] = DEFAULT_KEY,
    ts_col: str = "ts",
    watermark: str | None = None,
    salts: int = 8,
) -> DataFrame:
    """Skew-defused streaming dedup: the event-storm case.

    The storm :func:`dedup_streaming` exists for — one device flooding
    the SAME message — hashes that message's key to ONE state partition,
    so the very scenario dedup protects against throttles a single
    executor at 10^12-turn scale.  Two-phase form: phase 1 dedups on
    ``(key, salt)`` where salt spreads the storm over ``salts``
    partitions (derived from turn_idx — stable under task retry, unlike
    partition id or random); phase 2 dedups the ≤``salts`` survivors per
    key on the key alone.  Same output contract (one row per key within
    the watermark horizon); which arrival is kept follows
    ``dropDuplicatesWithinWatermark``'s first-arrival semantics in both
    forms.  Cost: one extra (tiny — survivors only) state operator.
    """
    watermark = watermark or f"{max(int(ttl_seconds), 1)} seconds"
    salt = F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(salts)).alias("_salt")
    phase1 = (
        df.withColumn("_salt", salt)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([*key, "_salt"])
        .drop("_salt")
    )
    return phase1.dropDuplicatesWithinWatermark(list(key))
