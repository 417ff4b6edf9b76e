"""Slowly-changing-dimension builders over change streams.

The lakehouse side of the engine (streaming/iceberg.py, maintenance.py)
appends envelope/metric facts; analytics over them needs DIMENSIONS with
history — "what state was this entity in at time T?".  These operators
turn an append-only change log (the reference's per-device state events,
`/root/reference/napalm_logs/transport/alerta.py:46-69`, kept as rows
instead of a mutable gauge) into type-2 interval tables and answer
point-in-time lookups against them.

Scale shape: everything is ONE window shuffle on the dimension key
(lag/lead over (key, ts)) — no self-joins, no driver state.  The
point-in-time join is the classic interval probe: equi-join on key plus
a range predicate, so Spark hash-partitions both sides on the key once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_intervals(
    changes: DataFrame,
    key: str,
    attr_cols: tuple,
    order_cols: tuple = (),
) -> DataFrame:
    """Build a type-2 dimension from an append-only change log: one row
    per (key, version) with ``valid_from`` / ``valid_to`` (NULL = still
    current), ``version`` (1-based per key) and ``is_current``.

    Log rows that repeat the previous attribute tuple are dropped
    (idempotent upserts produce no new version — standard SCD2 merge
    semantics).  Ties on ``ts`` are broken by ``order_cols`` (give the
    log's sequence column if it has one — otherwise same-timestamp
    changes produce zero-length versions in log order).

    Scale shape: one window shuffle on ``key`` total — the
    change-detection lag, the ``valid_to`` lead, and the version
    row_number all share the same (key, ts) window partitioning, so
    Catalyst plans a single Exchange.  No joins.
    """
    order = [F.col("ts"), *[F.col(c) for c in order_cols]]
    w = Window.partitionBy(key).orderBy(*order)
    changed = F.lit(False)
    for c in attr_cols:
        prev = F.lag(c).over(w)
        # NULL-safe inequality: NULL -> value and value -> NULL are
        # real changes; NULL -> NULL is not
        changed = changed | ~F.col(c).eqNullSafe(prev)
    first = F.lag("ts").over(w).isNull()
    df = changes.withColumn("_new_version", first | changed).filter(
        F.col("_new_version")
    )
    valid_to = F.lead("ts").over(w)
    return df.select(
        key,
        *attr_cols,
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.row_number().over(w).cast("int").alias("version"),
        valid_to.isNull().alias("is_current"),
    )


def cdc_apply(
    changelog: DataFrame,
    key_cols: tuple,
    order_cols: tuple,
) -> DataFrame:
    """Apply a CDC changelog to produce the current snapshot — the
    merge-on-read half of an Iceberg/Delta ``MERGE INTO`` (equality
    deletes + latest-wins upserts), expressed as a plain relational
    plan instead of a mutable table.

    Each key keeps its LAST row by ``order_cols`` (give (ts, seq) —
    ties must be broken deterministically); a key whose last operation
    is ``op = 'D'`` disappears from the snapshot.  Inserts and updates
    are not distinguished (both mean "this is the row now"), matching
    upsert semantics.  ``n_versions`` reports the key's changelog depth
    — the compaction-pressure signal a table-maintenance job reads.

    Scale shape: ONE hash shuffle on ``key_cols`` — the row_number and
    the count ride the same window partitioning, so Catalyst plans a
    single Exchange and AQE's skew-join handling covers hot keys.  No
    join against a base snapshot is needed: at 100 TB the "base" is
    itself the compacted prefix of the same log (see
    streaming/maintenance.py), so apply-over-log IS the read path.
    """
    order = [F.col(c) for c in order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*[c.desc() for c in order])
    wc = Window.partitionBy(*key_cols)
    return (
        changelog.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_versions", F.count(F.lit(1)).over(wc).cast("long"))
        .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
        .drop("_rn")
    )


def asof_dimension_lookup(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
) -> DataFrame:
    """Point-in-time join: each fact row picks the dimension version
    valid at its timestamp (``valid_from <= ts < valid_to``, open
    current versions match everything after ``valid_from``).  Facts
    before the key's first version keep NULL dimension columns.

    One equi-join on ``key`` (range predicates ride along as join
    residuals) — both sides hash-partition once; at most one dimension
    version matches each fact by construction, so the join never fans
    out.
    """
    d = dim.select(
        F.col(key).alias("_dk"),
        *[F.col(c) for c in dim.columns if c != key],
    )
    cond = (
        (facts[key] == d["_dk"])
        & (facts["ts"] >= d["valid_from"])
        & (d["valid_to"].isNull() | (facts["ts"] < d["valid_to"]))
    )
    return facts.join(d, cond, "left").drop("_dk")
