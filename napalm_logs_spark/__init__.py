"""napalm_logs_spark — a PySpark-native streaming CEP engine.

A from-scratch re-imagination of napalm-automation/napalm-logs (the
reference lives read-only at /root/reference) as a PySpark Structured
Streaming pipeline over tables of multi-turn transcripts
(conv_id, turn_idx, role, text, tool, ts).

The reference is a multi-process, row-at-a-time syslog normalization
daemon wired together with ZeroMQ.  This engine keeps *what* it
computes — vendor-profile matching, field extraction, typed casting,
hierarchical (YANG/OpenConfig) output mapping, TTL dedup, up/down
correlation and filtered multi-sink publishing — but expresses it
Spark-first: declarative DataFrame plans, Arrow-vectorized pandas
stages for the regex trie, a watermarked streaming dedup, batch
window/join operators for the CEP surface, and an idempotent
exactly-once foreachBatch sink.

Layout
------
profiles/    profile corpus loading + template→regex compilation
             (semantics of reference server.py:88-134, device.py:72-130)
operators/   normalize (the vectorized hot path), dedup, CEP,
             text-analysis / dedup / similarity ops for training-data
             pipelines
sources/     golden fixture corpus loading (transcripts.py), Z-order
             layout keys (zorder.py)
streaming/   readStream wiring, watermarks, exactly-once sink
"""

__version__ = "0.1.0"
