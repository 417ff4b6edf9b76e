"""Lakehouse compaction: content identity, file reduction, manifest
crash windows, idempotence, replay invisibility, time travel."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.streaming.maintenance import (
    MANIFEST,
    compact_sink,
    read_asof,
    read_table,
)
from napalm_logs_spark.streaming.sink import (
    SinkSpec,
    exactly_once_parquet_sink,
)


def _land(spark, out, n_batches=5, rows_per=40, parts=4):
    """Land n_batches micro-batches through the real sink fn (each
    multi-file: `parts` partitions per batch)."""
    sink = exactly_once_parquet_sink([SinkSpec(path=out, send_raw=True,
                                               send_unknown=True)])
    for b in range(n_batches):
        df = (
            spark.range(rows_per)
            .select(
                F.concat(F.lit(f"c{b}-"), (F.col("id") % 8).cast("string")).alias("conv_id"),
                F.col("id").cast("int").alias("turn_idx"),
                F.lit("INTERFACE_DOWN").alias("error"),
            )
            .repartition(parts)
        )
        sink(df, b)
    return n_batches * rows_per


def _rows(df):
    return sorted(
        (r.conv_id, r.turn_idx, r.error, r._batch_id)
        for r in df.select("conv_id", "turn_idx", "error", "_batch_id").collect()
    )


def _data_files(root):
    return [
        p for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if "/_compacted_upto=" in p or "/_batch_id=" in p
    ]


def test_compact_preserves_rows_and_cuts_files(spark, tmp_path):
    out = str(tmp_path / "t")
    total = _land(spark, out)
    before = _rows(read_table(spark, out))
    files_before = len(_data_files(out))
    assert len(before) == total

    stats = compact_sink(spark, out, target_file_bytes=1 << 30)
    assert not stats["skipped"]
    assert stats["upto"] == 3  # newest batch (4) stays replayable
    after = _rows(read_table(spark, out))
    assert after == before, "compaction must be row-for-row invisible"
    files_after = len(_data_files(out))
    assert files_after < files_before
    # tail dir for the newest batch untouched, consumed dirs gone
    assert os.path.isdir(out + "/_batch_id=4")
    assert not os.path.isdir(out + "/_batch_id=0")
    # lineage columns survive
    cols = set(read_table(spark, out).columns)
    assert {"_batch_id", "_task_partition"}.issubset(cols)


def test_second_compaction_and_new_tail(spark, tmp_path):
    out = str(tmp_path / "t")
    _land(spark, out, n_batches=4)
    compact_sink(spark, out)  # upto=2
    before = _rows(read_table(spark, out))
    # two more batches land after the first compaction
    sink = exactly_once_parquet_sink([SinkSpec(path=out, send_raw=True,
                                               send_unknown=True)])
    for b in (4, 5):
        df = spark.range(10).select(
            F.lit(f"late{b}").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.lit("RAW").alias("error"),
        )
        sink(df, b)
    stats = compact_sink(spark, out)
    assert stats["upto"] == 4
    rows = _rows(read_table(spark, out))
    assert len(rows) == len(before) + 20
    assert {r[3] for r in rows} == {0, 1, 2, 3, 4, 5}
    # exactly one generation remains
    gens = glob.glob(out + "/_compacted_upto=*")
    assert [os.path.basename(g) for g in gens] == ["_compacted_upto=4"]


def test_rerun_same_watermark_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "t")
    _land(spark, out, n_batches=3)
    compact_sink(spark, out, upto_batch_id=1)
    first = _rows(read_table(spark, out))
    stats = compact_sink(spark, out, upto_batch_id=1)
    assert stats["skipped"]
    assert _rows(read_table(spark, out)) == first


def test_crash_between_manifest_and_gc_no_duplicates(spark, tmp_path):
    """Manifest flipped but consumed dirs not yet deleted: readers must
    not double-count (GC is pure cleanup)."""
    out = str(tmp_path / "t")
    _land(spark, out, n_batches=3)
    before = _rows(read_table(spark, out))
    compact_sink(spark, out)  # upto=1
    # resurrect a consumed dir, simulating a crash before GC (or a
    # stale replay landing into an already-compacted id)
    sink = exactly_once_parquet_sink([SinkSpec(path=out, send_raw=True,
                                               send_unknown=True)])
    df = spark.range(99).select(
        F.lit("ghost").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("RAW").alias("error"),
    )
    sink(df, 0)
    assert _rows(read_table(spark, out)) == before, (
        "tail read must ignore _batch_id <= compaction watermark"
    )


def test_crash_before_manifest_leaves_old_state(spark, tmp_path):
    """A generation dir without a manifest flip is invisible garbage."""
    out = str(tmp_path / "t")
    _land(spark, out, n_batches=3)
    before = _rows(read_table(spark, out))
    # fake a crashed run: orphan tmp generation, no manifest
    os.makedirs(out + "/_compacted_upto=1.tmp")
    assert _rows(read_table(spark, out)) == before
    # the next real compaction sweeps the orphan
    compact_sink(spark, out)
    assert not os.path.exists(out + "/_compacted_upto=1.tmp")
    assert _rows(read_table(spark, out)) == before


def test_read_asof_time_travel(spark, tmp_path):
    out = str(tmp_path / "t")
    _land(spark, out, n_batches=5, rows_per=20)
    asof2 = _rows(read_asof(spark, out, 2))
    assert {r[3] for r in asof2} == {0, 1, 2}
    compact_sink(spark, out)  # upto=3
    # watermark at/above the compaction point still works
    assert {r[3] for r in _rows(read_asof(spark, out, 3))} == {0, 1, 2, 3}
    # below it the snapshot is gone — loud error, not silent wrong rows
    with pytest.raises(ValueError, match="compacted away"):
        read_asof(spark, out, 2)


def test_lost_manifest_after_generation_commit(spark, tmp_path):
    """The generation rename is the commit point: losing the manifest
    mid-swap (delete+rename is not atomic) must neither hide compacted
    rows nor let the next run GC the only copy."""
    out = str(tmp_path / "t")
    _land(spark, out, n_batches=4)
    compact_sink(spark, out)  # upto=2
    before = _rows(read_table(spark, out))
    os.remove(os.path.join(out, MANIFEST))
    assert _rows(read_table(spark, out)) == before, (
        "a committed generation must be readable without the manifest"
    )
    # the next (no-op) compaction heals: manifest rewritten, rows intact
    stats = compact_sink(spark, out)
    assert stats["skipped"] and stats["upto"] == 2
    with open(os.path.join(out, MANIFEST)) as fh:
        assert json.load(fh) == {"upto": 2}
    assert _rows(read_table(spark, out)) == before


def test_skipped_compaction_heals_leftover_tail(spark, tmp_path):
    """Crash between generation commit and GC: consumed tail dirs and
    stale generations are swept by the next call even when it has
    nothing new to compact."""
    out = str(tmp_path / "t")
    _land(spark, out, n_batches=4)
    compact_sink(spark, out)  # upto=2
    before = _rows(read_table(spark, out))
    # resurrect a consumed dir + an orphan tmp generation
    sink = exactly_once_parquet_sink([SinkSpec(path=out, send_raw=True,
                                               send_unknown=True)])
    df = spark.range(5).select(
        F.lit("ghost").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("RAW").alias("error"),
    )
    sink(df, 1)
    os.makedirs(out + "/_compacted_upto=0.tmp")
    stats = compact_sink(spark, out)
    assert stats["skipped"]
    assert not os.path.isdir(out + "/_batch_id=1")
    assert not os.path.exists(out + "/_compacted_upto=0.tmp")
    assert _rows(read_table(spark, out)) == before


def test_range_layout_makes_asof_a_stats_skip(spark, tmp_path):
    """Generation files cover contiguous _batch_id ranges (range
    repartition), so a watermark filter can skip whole files."""
    pytest.importorskip("pyarrow.parquet")
    import pyarrow.parquet as pq

    out = str(tmp_path / "t")
    _land(spark, out, n_batches=6, rows_per=200)
    compact_sink(spark, out, target_file_bytes=4096)  # force several files
    gen = glob.glob(out + "/_compacted_upto=4/*.parquet")
    assert len(gen) > 1
    spans = []
    for f in gen:
        t = pq.read_table(f, columns=["_batch_id"])["_batch_id"].to_pylist()
        spans.append((min(t), max(t)))
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping batch ranges: {spans}"


def test_manifest_contents_and_empty_table(spark, tmp_path):
    out = str(tmp_path / "t")
    _land(spark, out, n_batches=2)
    compact_sink(spark, out)
    with open(os.path.join(out, MANIFEST)) as fh:
        assert json.load(fh) == {"upto": 0}
    with pytest.raises(FileNotFoundError):
        read_table(spark, str(tmp_path / "missing"))


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_randomized_land_compact_crash_invariant(spark, tmp_path, seed):
    """Under any interleaving of lands, compactions, manifest loss,
    resurrected consumed dirs, and orphan tmp generations, read_table
    returns exactly the landed rows (exactly-once, compaction
    invisible)."""
    import random

    rng = random.Random(seed)
    out = str(tmp_path / "t")
    sink = exactly_once_parquet_sink([SinkSpec(path=out, send_raw=True,
                                               send_unknown=True)])
    truth = {}  # batch_id -> row count
    next_b = 0

    def land():
        nonlocal next_b
        n = rng.randint(1, 30)
        df = spark.range(n).select(
            F.lit(f"c{next_b}").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.lit("RAW").alias("error"),
        )
        sink(df, next_b)
        truth[next_b] = n
        next_b += 1

    land()  # never start empty
    for _ in range(8):
        op = rng.choice(["land", "land", "compact", "lose_manifest",
                         "resurrect", "orphan_tmp"])
        if op == "land":
            land()
        elif op == "compact":
            compact_sink(spark, out, target_file_bytes=rng.choice([4096, 1 << 30]))
        elif op == "lose_manifest":
            m = os.path.join(out, MANIFEST)
            if os.path.exists(m):
                os.remove(m)
        elif op == "resurrect":
            done = [b for b in truth if not os.path.isdir(f"{out}/_batch_id={b}")]
            if done:
                b = rng.choice(done)  # stale replay into a compacted id
                df = spark.range(truth[b]).select(
                    F.lit(f"c{b}").alias("conv_id"),
                    F.col("id").cast("int").alias("turn_idx"),
                    F.lit("RAW").alias("error"),
                )
                sink(df, b)
        elif op == "orphan_tmp":
            os.makedirs(f"{out}/_compacted_upto={next_b + 3}.tmp", exist_ok=True)
        # invariant after every step
        got = (
            read_table(spark, out)
            .groupBy("_batch_id").count().collect()
        )
        assert {r._batch_id: r["count"] for r in got} == truth, f"after {op}"


def test_explicit_upto_never_passes_landed_batches(spark, tmp_path):
    """An operator typo (--upto far beyond what landed) must not advance
    the watermark past unlanded ids — that would hide and then GC every
    batch the stream lands later.  Exercises BOTH clamp branches: with
    a tail (clamped to newest-1) and with no tail at all (clamped to
    the committed watermark)."""
    import shutil

    out = str(tmp_path / "t")
    _land(spark, out, n_batches=3)
    before = _rows(read_table(spark, out))
    # with a tail: huge upto clamps to newest-1
    stats = compact_sink(spark, out, upto_batch_id=100)
    assert stats["upto"] == 1
    # no-tail table (e.g. restored from a generation alone): remove the
    # remaining tail dir, then a huge upto must clamp to the committed
    # watermark, not advance into unlanded ids
    shutil.rmtree(out + "/_batch_id=2")
    stats = compact_sink(spark, out, upto_batch_id=100)
    assert stats["skipped"] and stats["upto"] == 1
    # batches landing after the bogus call stay visible
    sink = exactly_once_parquet_sink([SinkSpec(path=out, send_raw=True,
                                               send_unknown=True)])
    for b in (2, 3):
        df = spark.range(7).select(
            F.lit(f"late{b}").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.lit("RAW").alias("error"),
        )
        sink(df, b)
    rows = _rows(read_table(spark, out))
    # generation holds batches 0-1 (80 rows); removed batch 2 was
    # re-landed with 7 rows; batch 3 adds 7
    assert len(rows) == len(before) - 40 + 14
    assert {r[3] for r in rows} == {0, 1, 2, 3}
