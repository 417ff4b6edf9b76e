"""Pipeline observability: observed metrics + per-batch progress table.

The reference exports prometheus counters from every process
(base.py:169-197, metrics on server/device/publisher).  Spark-first
equivalent:

* :func:`with_observed_metrics` attaches ``df.observe`` aggregates to
  the streaming DataFrame (counted JVM-side, zero extra passes);
* :class:`ProgressRecorder` is a ``StreamingQueryListener`` that captures
  each micro-batch's progress — batch id, input rows, processed rows/sec,
  phase durations, the observed metrics, and per-stage state-store
  metrics (rows, memory, commit time, partitions) — into an
  in-memory list and optionally a JSONL file (the "metrics table").

Together with the sink's ``_batch_id``/``_task_partition`` columns this
is the per-partition lineage + metrics surface.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

OBSERVATION_NAME = "nls_metrics"


def with_observed_metrics(df: DataFrame, name: str = OBSERVATION_NAME) -> DataFrame:
    """Attach engine counters: total rows, per-class error counts."""
    cols = [F.count(F.lit(1)).alias("n_rows")]
    if "error" in df.columns:
        cols += [
            F.sum((F.col("error") == "RAW").cast("long")).alias("n_raw"),
            F.sum((F.col("error") == "UNKNOWN").cast("long")).alias("n_unknown"),
            F.count("error").alias("n_with_error"),
        ]
    return df.observe(name, *cols)


class ProgressRecorder(StreamingQueryListener):
    """Records per-micro-batch progress rows; optionally appends JSONL."""

    def __init__(self, jsonl_path: Optional[str] = None):
        self.rows: list[dict] = []
        self.jsonl_path = jsonl_path

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        row = {
            "query_id": str(p.id),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "num_input_rows": p.numInputRows,
            "processed_rows_per_sec": p.processedRowsPerSecond,
            # where the batch's time went: Spark's phases (addBatch,
            # commitOffsets, walCommit, queryPlanning, ...), in ms
            "duration_ms": dict(p.durationMs or {}),
            "observed": dict(p.observedMetrics.get(OBSERVATION_NAME).asDict())
            if p.observedMetrics and OBSERVATION_NAME in p.observedMetrics
            else None,
            # the reference's discarded-message counter
            # (base.py:169-197) ≙ rows the watermark dropped as late
            "watermark": dict(p.eventTime).get("watermark")
            if p.eventTime
            else None,
            "state_operators": [
                {
                    "num_rows_total": s.numRowsTotal,
                    "num_rows_updated": s.numRowsUpdated,
                    "memory_used_bytes": s.memoryUsedBytes,
                    "num_rows_dropped_by_watermark": s.numRowsDroppedByWatermark,
                    # state commit is paid once per state store instance
                    "commit_time_ms": s.commitTimeMs,
                    "num_shuffle_partitions": s.numShufflePartitions,
                    "num_state_store_instances": s.numStateStoreInstances,
                }
                for s in (p.stateOperators or [])
            ],
        }
        self.rows.append(row)
        if self.jsonl_path:
            with open(self.jsonl_path, "a") as fh:
                fh.write(json.dumps(row, default=str) + "\n")

    def onQueryTerminated(self, event):
        pass

    def onQueryIdle(self, event):
        pass
