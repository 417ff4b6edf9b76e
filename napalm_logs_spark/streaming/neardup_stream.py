"""Streaming cross-batch embedding near-dup filter.

A firehose of embedded documents arrives in micro-batches; each batch
must be deduplicated against EVERYTHING kept so far, not just within
itself.  The state is an LSH bucket index persisted as a per-batch-id
parquet layout (exactly the sink's idempotent ``_batch_id=<n>`` +
overwrite recipe, streaming/sink.py): a replayed micro-batch overwrites
its own output AND its own index slice, and only compares against index
slices with ``_batch_id`` strictly below its own — so the result of any
batch is a pure function of the committed prefix, and restarts/retries
are exactly-once.

Semantics, precisely: ACROSS batches only KEPT rows anchor (the index
holds survivors — earlier-batch-wins); WITHIN a batch the pair
semantics are the batch operator's (any lower-id near row suppresses,
even one that is itself dropped) — a single pass, deliberately not the
iterative chase that exact greedy-by-id would need in the hot path.
The two rules meet at the batch boundary, so (as with any online
dedup) the exact kept set can depend on how rows split into batches:
rows B,C with only B~C in one batch keep {B}; split across batches
they keep {B} too, but if B was dropped against the index first, the
one-batch case drops C (B anchored it) while the split case keeps C
(dropped B never reached the index).  Batch
:func:`..operators.similarity.semdedup` has a third rule again
(cluster-scoped, dropped rows suppress).

Per batch the work is candidate-bounded, never quadratic, and the
verdict is the batch operator's own code: the new rows go through
:func:`..operators.similarity._near_dup_table` (the same LSH tables and
per-table bucket cap as
:func:`..operators.similarity.embedding_near_dup`) and every candidate
pair through its :func:`..operators.similarity._near_dup_pairs` (one
cosine per distinct pair, 6-dp round, ``>= threshold``; a zero vector
is never a near-dup).  In-batch drops are the ``id_b`` of that step
over the batch with itself; drops against the index are the ``id_a``
of that step over the batch and the md5-capped index.  At production
scale the index side should be laid out for bucket pruning (bucketed /
Z-ordered by (table, bucket), or an Iceberg table with bucket bloom
filters); the comparison semantics here are identical.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..operators.similarity import (
    NEAR_DUP_LSH,
    NEAR_DUP_MAX_BUCKET,
    _near_dup_pairs,
    _near_dup_table,
)
from .maintenance import _fs, read_asof

PARAMS_FILE = "_PARAMS.json"


def _read_index(spark, index_dir: str, before_batch: int) -> DataFrame | None:
    """Committed index slices with _batch_id < before_batch, or None
    when no prior slice exists (first batch, or replay of it after a
    crash mid-index-write).  Reads through the maintenance layer, so a
    :func:`.maintenance.compact_sink`-maintained index (small-file
    rewrite between drains) is transparent — slice dirs are FS-listed
    and an unreadable EXISTING slice raises from the read itself
    (silently skipping the index would admit duplicates without a
    trace)."""
    if before_batch <= 0:
        return None
    try:
        return read_asof(spark, index_dir, before_batch - 1)
    except FileNotFoundError:
        return None


def _check_index_params(spark, index_dir: str, params: dict) -> None:
    """Pin the bucketing scheme to the index: the first writer records
    (dim, n_planes, n_tables, seed); any later mismatch raises instead
    of silently joining incompatible bucket spaces (old slices hashed
    with different planes would just never match — duplicates admitted
    with zero diagnostics)."""
    fs, _ = _fs(spark, index_dir)
    jvm = spark.sparkContext._jvm
    ppath = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{PARAMS_FILE}")
    if fs.exists(ppath):
        stream = fs.open(ppath)
        try:
            raw = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()
        existing = json.loads(raw.decode("utf-8"))
        if existing != params:
            raise ValueError(
                f"near-dup index at {index_dir} was built with "
                f"{existing}; refusing to extend it with {params} — "
                "rebuild the index or match the parameters"
            )
        return
    out = fs.create(ppath, True)
    try:
        out.write(bytearray(json.dumps(params).encode("utf-8")))
    finally:
        out.close()


def _write_metrics_line(path: str, record: dict) -> None:
    """Replace-by-batch_id JSONL write (tmp + rename): a replayed batch
    overwrites its own line — metrics stay exactly-once like the data.
    The file is one small line per micro-batch; the rewrite is
    driver-side and O(batches)."""
    import os

    lines = []
    if os.path.exists(path):
        with open(path) as fh:
            lines = [
                ln for ln in fh.read().splitlines()
                if ln.strip()
                and json.loads(ln).get("batch_id") != record["batch_id"]
            ]
    lines.append(json.dumps(record))
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


def near_dup_filter_batch(
    out_dir: str,
    index_dir: str,
    dim: int,
    threshold: float = 0.95,
    max_index_bucket: int = NEAR_DUP_MAX_BUCKET,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    metrics_jsonl: str | None = None,
):
    """foreachBatch function: filter near-dups vs the committed index,
    write survivors to ``out_dir/_batch_id=<n>`` and their bucket rows
    to ``index_dir/_batch_id=<n>`` (both overwrite — idempotent).

    ``max_index_bucket`` bounds the *accumulated-index* side of the
    anchor join as ``NEAR_DUP_MAX_BUCKET`` bounds the batch side: a hot
    (table, bucket) key otherwise grows without bound across the
    stream, and each new row in it would compare against every prior
    survivor.  Oversized index buckets are deterministically
    down-sampled per batch — rows ranked by ``md5(id)`` (a uniform,
    replay-stable pseudo-shuffle), anchors beyond the cap ignored for
    this batch's comparisons.  Trade-off: a true near-dup whose only
    anchors were sampled out is kept (recall loss on pathological
    hot buckets, never precision loss); other hash tables still
    recover the pair.  The rank window keys on (table, bucket) — the
    same key the join shuffles on — so it adds a sort, not an extra
    exchange.

    ``metrics_jsonl``: one line per batch —
    ``{"batch_id", "n_in", "n_kept", "n_dropped",
    "index_oversize_buckets", "index_anchors_sampled_out"}``.  Row
    counts ride the kept-write job via Observations — no extra scans;
    the two index gauges cost one column-pruned (table, bucket)
    aggregate scan of the index per batch, only when metrics are
    enabled (same JSONL convention as :mod:`.metrics`).  They make
    hot-bucket pressure visible long before it degrades recall.
    Replay-idempotent like the sibling writes: a replayed batch
    REPLACES its own line instead of appending a duplicate."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _check_index_params(spark, index_dir, {"dim": dim, **NEAR_DUP_LSH})
        # the bucketing (pandas-UDF matmuls) feeds the index pairs, the
        # in-batch pairs, AND the index-slice write — persist once
        bt = _near_dup_table(batch_df, dim, id_col, emb_col).persist()
        try:
            # in-batch: any lower-id near row suppresses
            dups = _near_dup_pairs(bt, bt, threshold, ordered=True).select(
                F.col("id_b").alias("id")
            )
            idx_over = idx_out = 0
            idx = _read_index(spark, index_dir, batch_id)
            if idx is not None:
                if metrics_jsonl:
                    # hot-bucket gauges: one column-pruned (table,
                    # bucket) aggregate scan of the index — embeddings
                    # are never read, and the per-bucket count is
                    # map-side combined.  (An Observation riding the
                    # join would be free, but its node sits under the
                    # dups persist() boundary, where the cache-build
                    # sub-execution completes it with a schemaless row
                    # — a measured Spark 4.1 footgun.)
                    g = (
                        idx.groupBy("table", "bucket")
                        .agg(F.count(F.lit(1)).alias("_c"))
                        .agg(
                            F.count_if(F.col("_c") > max_index_bucket).alias("ob"),
                            F.coalesce(
                                F.sum(F.greatest(F.col("_c") - max_index_bucket, F.lit(0))),
                                F.lit(0),
                            ).alias("so"),
                        )
                        .first()
                    )
                    idx_over, idx_out = int(g["ob"]), int(g["so"])
                # index-side skew cap: deterministic md5-ranked
                # down-sample of oversized accumulated buckets (see
                # docstring for the recall trade-off); the rank window
                # keys on the join's own shuffle key
                wib = Window.partitionBy("table", "bucket").orderBy(
                    F.md5(F.col("id").cast("string")), "id"
                )
                prev = (
                    idx.withColumn("_rn", F.row_number().over(wib))
                    .filter(F.col("_rn") <= max_index_bucket)
                )
                # across batches: any kept earlier row suppresses
                dups = dups.unionByName(
                    _near_dup_pairs(bt, prev, threshold, ordered=False).select(
                        F.col("id_a").alias("id")
                    )
                )
            dups = dups.distinct().persist()
            try:
                src = batch_df
                obs_in = obs_kept = None
                if metrics_jsonl:
                    from pyspark.sql import Observation

                    # n_in observed on the batch side of the SAME write
                    # job (true row count even with duplicate ids);
                    # n_kept on the post-anti-join rows
                    obs_in, obs_kept = Observation(), Observation()
                    src = batch_df.observe(
                        obs_in, F.count(F.lit(1)).alias("n")
                    )
                kept = src.join(
                    dups.withColumnRenamed("id", id_col), id_col, "left_anti"
                )
                if obs_kept is not None:
                    kept = kept.observe(obs_kept, F.count(F.lit(1)).alias("n"))
                kept.write.mode("overwrite").parquet(
                    f"{out_dir}/_batch_id={batch_id}"
                )
                if obs_in is not None:
                    n_in = int(obs_in.get["n"])
                    n_kept = int(obs_kept.get["n"])
                    _write_metrics_line(metrics_jsonl, {
                        "batch_id": int(batch_id),
                        "n_in": n_in,
                        "n_kept": n_kept,
                        "n_dropped": n_in - n_kept,
                        "index_oversize_buckets": idx_over,
                        "index_anchors_sampled_out": idx_out,
                    })
                # index slice = the survivors' bucket rows (greedy
                # online: a dropped row never becomes a future anchor)
                kept_bt = bt.join(
                    dups.withColumnRenamed("id", "_d"),
                    bt["id"] == F.col("_d"),
                    "left_anti",
                ).select("table", "bucket", "id", "emb", "nrm")
                kept_bt.write.mode("overwrite").parquet(
                    f"{index_dir}/_batch_id={batch_id}"
                )
            finally:
                dups.unpersist()
        finally:
            bt.unpersist()

    return _write


def run_near_dup_stream_once(
    spark,
    source_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema,
    dim: int,
    threshold: float = 0.95,
    timeout_s: float | None = 600,
    **kwargs,
) -> None:
    """Drain all available source files through the filter once
    (availableNow trigger), exactly-once under replay.  ``timeout_s``
    bounds the drain (None = wait forever, e.g. large backfills)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            near_dup_filter_batch(
                out_dir, index_dir, dim, threshold=threshold, **kwargs
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    if timeout_s is None:
        q.awaitTermination()
    elif not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"near-dup stream did not drain within {timeout_s}s")
