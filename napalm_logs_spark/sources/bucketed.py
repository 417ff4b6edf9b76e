"""Z-order layout key: multi-column scan locality.

Interleaving the bits of several scaled columns gives one sort key
under which rows close in ALL dimensions land close together, so a
layout range-partitioned and sorted by it (the OPTIMIZE ZORDER BY
equivalent on plain parquet) lets min/max stats prune range predicates
on every dimension.  The registry's ``q_zorder_key`` builds the key.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def minmax_scaled_int(col, lo: float, hi: float, bits: int = 16):
    """Scale a numeric column into [0, 2^bits) as a long (the Z-order
    normalization step).  Bounds are the table's published min/max —
    at scale these come from the table's stats, not a driver scan."""
    span = float(hi) - float(lo)
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(span if span else 1.0)
    clamped = F.least(F.greatest(scaled, F.lit(0.0)), F.lit(1.0))
    return F.least(
        (clamped * F.lit(float(1 << bits))).cast("long"), F.lit((1 << bits) - 1)
    )


def zorder_key(cols, bits: int = 16):
    """Interleave the low ``bits`` of k pre-scaled long columns into a
    single Z-order (Morton) key — rows close in ALL dimensions land
    close in the key, so sorting files by it gives every dimension's
    range predicate locality (min/max row-group pruning works for each
    column, not just the leading sort column).

    Pure JVM bit arithmetic (shift/and/or) — whole-stage codegen, no
    UDF, k·bits terms in the plan (k ≤ 4, bits ≤ 16 keeps it trivial).
    """
    cols = list(cols)
    k = len(cols)
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * k + i))
    return key
