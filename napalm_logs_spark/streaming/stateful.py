"""Custom stateful streaming operator via ``applyInPandasWithState``.

:func:`entity_state_stream` — per-(host, family, entity) up/down
state machine emitting open/close transitions (alerta pairing,
transport/alerta.py:46-69) and maintaining the last-state gauge
(prometheus, transport/prometheus.py:70-93) across micro-batches.

It is not on the ``run`` path yet: it waits to be wired in as the
streaming up/down correlation.  It is keyed by its natural state key,
so Spark hash-partitions the stream once and the state store shards
with it.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


ENTITY_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("family", T.StringType()),
        T.StructField("entity", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("state01", T.IntegerType()),
        T.StructField("prev_state", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def entity_state_stream(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming up/down state machine over :func:`...cep.state_events`
    output columns (host, family, entity, state01, error, ts).

    Emits one row per state *transition* (first observation included)
    with ``status`` open/closed; per-key state holds the last state
    across micro-batches.
    """
    state_schema = T.StructType([T.StructField("last_state", T.IntegerType())])

    def fsm(
        key_vals, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from ..operators.cep import PROBLEM_WHEN_ONE

        if state.hasTimedOut:
            state.remove()
            return
        host, family, entity = key_vals
        problem_state = 1 if family in PROBLEM_WHEN_ONE else 0
        last = state.get[0] if state.exists else None
        for pdf in pdf_iter:
            pdf = pdf.sort_values([ts_col, "turn_idx"], kind="mergesort")
            out_rows = []
            for _, row in pdf.iterrows():
                cur = int(row["state01"])
                if last is None or cur != last:
                    out_rows.append(
                        {
                            "host": host,
                            "family": family,
                            "entity": entity,
                            "ts": row[ts_col],
                            "state01": cur,
                            "prev_state": last,
                            "status": "open" if cur == problem_state else "closed",
                            "error": row["error"],
                        }
                    )
                last = cur
            if out_rows:
                yield pd.DataFrame(out_rows)
        if last is not None:
            state.update((int(last),))

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy("host", "family", "entity")
        .applyInPandasWithState(
            fsm,
            outputStructType=ENTITY_STATE_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

