"""Lakehouse table maintenance: small-file compaction with snapshot
semantics for the ``_batch_id=<n>`` sink layout.

A streaming sink that lands one directory per micro-batch (the
exactly-once contract of :mod:`.sink` / reference transport fan-out,
publisher.py:183-209) produces millions of small files at 10^12-turn
scale — the classic lakehouse small-files problem.  Iceberg solves it
with ``rewrite_data_files`` + snapshot metadata; this module is the
same mechanism over the plain-parquet degradation layout, and the
jar-present path simply defers to Iceberg's own maintenance.

Layout after a compaction up to batch ``k``::

    table/
      _COMPACTION.json         <- manifest: {"upto": k}   (atomic rename)
      _compacted_upto=<k>/     <- size-targeted parquet, _batch_id and
                                  _task_partition kept as data columns
      _batch_id=<k+1>/         <- the uncompacted tail, untouched
      _batch_id=<k+2>/

Correctness / crash-safety (order matters):

1. compacted data is written to ``_compacted_upto=<k>.tmp`` and
   renamed into place — readers never see partial generations.  The
   generation rename IS the commit point: the committed watermark is
   ``max`` over the manifest value and the highest non-tmp generation
   id, so a crash before/during the manifest rewrite cannot hide a
   complete generation (the manifest is a convenience mirror, never
   the sole source of truth — a delete+rename pair is not atomic);
2. the manifest is rewritten AFTER the generation rename (tmp +
   rename; on S3 use a real catalog);
3. consumed inputs (``_batch_id<=k`` dirs, the previous generation)
   are deleted LAST — pure garbage collection.  The read path takes
   only the committed generation plus tail dirs with
   ``_batch_id > k``, so a crash between (2) and (3) cannot
   double-read, and a crash before (1)'s rename leaves the old state
   intact (orphan ``.tmp`` generations are swept by the next run).
4. only COMMITTED batches may be compacted: after a restart,
   Structured Streaming can replay the last micro-batch (it re-lands
   ``_batch_id=<M>`` idempotently), so ``upto`` defaults to ``M-1``
   and is clamped below the newest landed id.  A stale replay into an
   already-compacted id is invisible to readers (tail reads filter
   ``_batch_id > k``) — exactly-once survives compaction.

Compaction rewrites with a RANGE repartition on ``(_batch_id,
conv_id, turn_idx)`` sized from the measured input bytes, so each
output file covers a contiguous batch range and parquet row-group
min/max stats keep :func:`read_asof` (time travel to a batch
watermark) a metadata-skip, not a scan.
"""

from __future__ import annotations

import json
import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sink import ORDER_COLS

MANIFEST = "_COMPACTION.json"
_GEN_RE = re.compile(r"^_compacted_upto=(\d+)(\.tmp)?$")
_BATCH_RE = re.compile(r"^_batch_id=(\d+)$")


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def _ls(spark: SparkSession, path: str) -> list[str]:
    """Child names of ``path`` ([] when it doesn't exist)."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def _read_json(spark: SparkSession, path: str):
    """A small JSON file on the Hadoop FS, or None when absent."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        raw = bytes(
            spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(raw.decode("utf-8"))


def _write_json(spark: SparkSession, path: str, obj) -> None:
    """Atomic small-JSON write: ``.tmp``, then rename over the old file —
    a crash mid-write never leaves a truncated file behind."""
    fs, dst = _fs(spark, path)
    tmp = dst.suffix(".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(dst):
        fs.delete(dst, False)
    if not fs.rename(tmp, dst):
        raise IOError(f"rename failed for {path}")


def _committed_upto(spark: SparkSession, path: str) -> int | None:
    """The committed compaction watermark: max of the manifest value
    and the highest fully-renamed generation dir.  The generation
    rename is the commit point — a manifest lost to a crash mid-swap
    must not hide a complete generation (that would both drop rows
    from reads and let the next compaction GC the only copy)."""
    gens = [
        int(m.group(1))
        for m in (_GEN_RE.match(name) for name in _ls(spark, path))
        if m and not m.group(2)
    ]
    manifest = _read_json(spark, f"{path}/{MANIFEST}")
    candidates = gens + ([int(manifest["upto"])] if manifest is not None else [])
    return max(candidates) if candidates else None


def _batch_ids(spark: SparkSession, path: str) -> list[int]:
    ids = []
    for name in _ls(spark, path):
        m = _BATCH_RE.match(name)
        if m:
            ids.append(int(m.group(1)))
    return sorted(ids)


def _read_tail(spark: SparkSession, path: str, tail_ids: list[int]) -> DataFrame:
    """Tail dirs as one DataFrame with a long ``_batch_id`` column.

    The envelope sink stores ``_batch_id`` as a data column (the dir
    name is just the idempotence key) — read the dirs plainly (adding
    partition inference would shadow-warn on the duplicate).  Other
    writers of this layout (the near-dup LSH index) don't — for those
    ONE basePath read restores the id from the directory names
    (O(1) listings either way; a per-dir read + union chain would be
    O(N) driver round-trips at exactly the many-small-dirs scale this
    module exists to fix)."""
    dirs = [f"{path}/_batch_id={b}" for b in tail_ids]
    schema = spark.read.parquet(dirs[0]).schema
    if "_batch_id" in schema.fieldNames():
        tail = spark.read.parquet(*dirs)
    else:
        tail = spark.read.option("basePath", path).parquet(*dirs)
    return tail.withColumn("_batch_id", F.col("_batch_id").cast("long"))


def read_table(
    spark: SparkSession, path: str, upto_batch_id: int | None = None
) -> DataFrame:
    """Read the table back — union of the committed compacted
    generation and the uncompacted tail, ``_batch_id`` restored either
    way.  Without a compaction this is exactly the original
    ``_batch_id=*`` read.  ``upto_batch_id`` prunes tail DIRECTORIES
    (not just rows) above the watermark."""
    upto = _committed_upto(spark, path)
    tail_ids = [
        b
        for b in _batch_ids(spark, path)
        if (upto is None or b > upto)
        and (upto_batch_id is None or b <= upto_batch_id)
    ]
    parts = []
    if upto is not None:
        parts.append(spark.read.parquet(f"{path}/_compacted_upto={upto}"))
    if tail_ids:
        parts.append(_read_tail(spark, path, tail_ids))
    if not parts:
        raise FileNotFoundError(f"no sink data under {path}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_asof(spark: SparkSession, path: str, upto_batch_id: int) -> DataFrame:
    """Time travel: rows of the committed prefix ``_batch_id <=
    upto_batch_id``.  Tail directories above the watermark are pruned
    at listing time (never opened); inside the compacted generation
    the range layout on ``(_batch_id, …)`` makes the residual filter a
    row-group stats skip.  Watermarks older than the compaction point
    are gone (this layout keeps a single snapshot — use Iceberg for
    full history)."""
    compacted = _committed_upto(spark, path)
    if compacted is not None and upto_batch_id < compacted:
        raise ValueError(
            f"batches <= {compacted} were compacted away; asof "
            f"{upto_batch_id} needs a catalog that retains snapshots"
        )
    return read_table(spark, path, upto_batch_id=upto_batch_id).filter(
        F.col("_batch_id") <= int(upto_batch_id)
    )


def compact_sink(
    spark: SparkSession,
    path: str,
    upto_batch_id: int | None = None,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Rewrite the committed prefix into size-targeted files.

    Reads the previous generation (if any) plus ``_batch_id`` dirs up
    to ``upto_batch_id`` (default: newest-but-one — the newest batch
    stays replayable, see module doc), writes one new generation sized
    at ``target_file_bytes`` per output file, flips the manifest, then
    garbage-collects the consumed inputs and any stale generations.
    Idempotent: a rerun at the same watermark rebuilds the same
    generation.  Returns ``{"upto", "in_dirs", "in_files", "in_bytes",
    "out_files", "skipped"}``.
    """
    fs, _ = _fs(spark, path)
    jvm = spark.sparkContext._jvm

    def jp(s: str):
        return jvm.org.apache.hadoop.fs.Path(s)

    prev = _committed_upto(spark, path)
    ids = _batch_ids(spark, path)
    newest = max(ids) if ids else None
    if upto_batch_id is None:
        upto_batch_id = (newest - 1) if newest is not None else (prev if prev is not None else -1)
    # the watermark may never pass batches that have not landed: above
    # newest-1 with a tail (the newest stays replayable), above prev
    # with no tail (advancing past unlanded ids would hide — and then
    # GC — every batch the stream lands later: silent data loss)
    if newest is not None:
        upto_batch_id = min(upto_batch_id, newest - 1)
    else:
        upto_batch_id = min(upto_batch_id, prev if prev is not None else -1)
    def _gc(committed: int) -> None:
        """Remove everything a committed generation supersedes: consumed
        tail dirs, stale/orphan generations, a drifted manifest — pure
        cleanup (reads never look at any of it), also run on the no-op
        path so a crash between commit and GC heals on the next call."""
        for b in _batch_ids(spark, path):
            if b <= committed:
                fs.delete(jp(f"{path}/_batch_id={b}"), True)
        for name in _ls(spark, path):
            m = _GEN_RE.match(name)
            if m and (int(m.group(1)) != committed or m.group(2)):
                fs.delete(jp(f"{path}/{name}"), True)
        if _read_json(spark, f"{path}/{MANIFEST}") != {"upto": committed}:
            _write_json(spark, f"{path}/{MANIFEST}", {"upto": committed})

    eligible = [b for b in ids if b <= upto_batch_id and (prev is None or b > prev)]
    if not eligible and (prev is None or upto_batch_id <= prev):
        if prev is not None:
            _gc(prev)
        return {"upto": prev, "in_dirs": 0, "in_files": 0, "in_bytes": 0,
                "out_files": 0, "skipped": True}
    upto = max([upto_batch_id] + ([prev] if prev is not None else []))

    srcs = [f"{path}/_batch_id={b}" for b in eligible]
    if prev is not None:
        srcs.append(f"{path}/_compacted_upto={prev}")
    in_bytes = in_files = 0
    for s in srcs:
        summ = fs.getContentSummary(jp(s))
        in_bytes += summ.getLength()
        in_files += summ.getFileCount()

    parts = []
    if prev is not None:
        parts.append(spark.read.parquet(f"{path}/_compacted_upto={prev}"))
    if eligible:
        parts.append(_read_tail(spark, path, eligible))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)

    n_out = max(1, math.ceil(in_bytes / target_file_bytes))
    sort_cols = ["_batch_id"] + [c for c in ORDER_COLS if c in df.columns]
    tmp_dir = f"{path}/_compacted_upto={upto}.tmp"
    dst_dir = f"{path}/_compacted_upto={upto}"
    # RANGE partition: each output file covers a contiguous
    # (_batch_id, …) slice, so read_asof's watermark filter is a
    # row-group min/max skip (a round-robin repartition would spread
    # every batch across every file and defeat the stats)
    (
        df.repartitionByRange(n_out, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(tmp_dir)
    )
    if fs.exists(jp(dst_dir)):
        fs.delete(jp(dst_dir), True)
    if not fs.rename(jp(tmp_dir), jp(dst_dir)):
        raise IOError(f"generation rename failed for {dst_dir}")
    _write_json(spark, f"{path}/{MANIFEST}", {"upto": int(upto)})
    _gc(upto)

    out_files = fs.getContentSummary(jp(dst_dir)).getFileCount()
    return {"upto": upto, "in_dirs": len(srcs), "in_files": in_files,
            "in_bytes": in_bytes, "out_files": out_files, "skipped": False}
