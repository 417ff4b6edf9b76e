"""Streaming cross-batch embedding near-dup filter: earlier-batch-wins
semantics, within-batch lower-id-wins, exactly-once under replay."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.streaming.maintenance import read_table
from napalm_logs_spark.streaming.neardup_stream import (
    run_near_dup_stream_once,
)

DIM = 16
SCHEMA = "vec_id long, embedding array<float>"


def _vecs(seed, n):
    rng = np.random.RandomState(seed)
    return rng.randn(n, DIM).astype("float32")


def _rows(ids, M):
    return [(int(i), [float(x) for x in v]) for i, v in zip(ids, M)]


@pytest.fixture()
def dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("src", "out", "idx", "ckpt")}


def _write(spark, src, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)


def test_cross_batch_and_in_batch_dedup(spark, dirs):
    base = _vecs(3, 6)
    # batch 1: ids 0..5 distinct, plus 50 = near-copy of 2 (in-batch dup)
    b1 = _rows(range(6), base) + _rows(
        [50], [base[2] + 0.001 * _vecs(4, 1)[0]]
    )
    _write(spark, dirs["src"], b1)
    run_near_dup_stream_once(
        spark, dirs["src"], dirs["out"], dirs["idx"], dirs["ckpt"],
        SCHEMA, DIM, threshold=0.95,
    )
    kept1 = {r.vec_id for r in read_table(spark, dirs["out"]).collect()}
    assert kept1 == {0, 1, 2, 3, 4, 5}, kept1  # 50 dropped in-batch

    # batch 2: 100 = near-copy of batch-1's id 4 (cross-batch dup),
    # 101 fresh
    b2 = _rows([100], [base[4] + 0.001 * _vecs(5, 1)[0]]) + _rows(
        [101], _vecs(6, 1)
    )
    _write(spark, dirs["src"], b2)
    run_near_dup_stream_once(
        spark, dirs["src"], dirs["out"], dirs["idx"], dirs["ckpt"],
        SCHEMA, DIM, threshold=0.95,
    )
    out = read_table(spark, dirs["out"])
    kept = {r.vec_id for r in out.collect()}
    assert 100 not in kept, "cross-batch near-dup must be dropped"
    assert 101 in kept
    # lineage partition column present, two batch ids
    assert out.select("_batch_id").distinct().count() == 2


def test_replayed_batch_is_idempotent(spark, dirs):
    base = _vecs(7, 4)
    _write(spark, dirs["src"], _rows(range(4), base))
    run_near_dup_stream_once(
        spark, dirs["src"], dirs["out"], dirs["idx"], dirs["ckpt"],
        SCHEMA, DIM, threshold=0.95,
    )
    first = sorted(
        tuple(r) for r in read_table(spark, dirs["out"]).select("vec_id").collect()
    )
    # replay batch 0 by hand: same batch function, same batch id
    from napalm_logs_spark.streaming.neardup_stream import near_dup_filter_batch

    bdf = spark.createDataFrame(_rows(range(4), base), SCHEMA)
    near_dup_filter_batch(dirs["out"], dirs["idx"], DIM, threshold=0.95)(bdf, 0)
    second = sorted(
        tuple(r) for r in read_table(spark, dirs["out"]).select("vec_id").collect()
    )
    assert first == second, "replay must overwrite, not duplicate"


def test_index_params_pinned(spark, dirs):
    """Mismatched bucketing parameters must refuse to extend the index
    instead of silently joining incompatible bucket spaces."""
    base = _vecs(11, 4)
    _write(spark, dirs["src"], _rows(range(4), base))
    run_near_dup_stream_once(
        spark, dirs["src"], dirs["out"], dirs["idx"], dirs["ckpt"],
        SCHEMA, DIM, threshold=0.95,
    )
    _write(spark, dirs["src"], _rows([100], _vecs(12, 1)))
    with pytest.raises(Exception, match="refusing to extend"):
        run_near_dup_stream_once(
            spark, dirs["src"], dirs["out"], dirs["idx"],
            dirs["ckpt"], SCHEMA, DIM + 1, threshold=0.95,
        )


def test_first_batch_with_precreated_empty_index_dir(spark, dirs, tmp_path):
    """An existing-but-empty index dir (pre-created, or a crash during
    batch 0's index write) must behave like no index, not wedge the
    stream."""
    import os

    os.makedirs(dirs["idx"], exist_ok=True)
    base = _vecs(13, 3)
    _write(spark, dirs["src"], _rows(range(3), base))
    run_near_dup_stream_once(
        spark, dirs["src"], dirs["out"], dirs["idx"], dirs["ckpt"],
        SCHEMA, DIM, threshold=0.95,
    )
    kept = {r.vec_id for r in read_table(spark, dirs["out"]).collect()}
    assert kept == {0, 1, 2}


def test_index_compaction_between_drains(spark, dirs):
    """The LSH index is itself a maintainable lakehouse table: compact
    its per-batch slices between drains and cross-batch dedup must keep
    working against the compacted generation."""
    import os

    from napalm_logs_spark.streaming.maintenance import compact_sink

    base = _vecs(21, 6)
    # three drains -> three index slices
    for i in range(3):
        _write(spark, dirs["src"], _rows([10 * i, 10 * i + 1], base[2 * i: 2 * i + 2]))
        run_near_dup_stream_once(
            spark, dirs["src"], dirs["out"], dirs["idx"], dirs["ckpt"],
            SCHEMA, DIM, threshold=0.95,
        )
    stats = compact_sink(spark, dirs["idx"])
    assert not stats["skipped"] and stats["upto"] == 1
    assert not os.path.isdir(dirs["idx"] + "/_batch_id=0")
    assert os.path.isdir(dirs["idx"] + "/_compacted_upto=1")
    # params file must survive compaction
    assert os.path.exists(dirs["idx"] + "/_PARAMS.json")

    # batch 3: near-copy of batch-0's id 0 (lives only in the compacted
    # generation now) + a fresh row
    b4 = _rows([100], [base[0] + 0.001 * _vecs(22, 1)[0]]) + _rows(
        [101], _vecs(23, 1)
    )
    _write(spark, dirs["src"], b4)
    run_near_dup_stream_once(
        spark, dirs["src"], dirs["out"], dirs["idx"], dirs["ckpt"],
        SCHEMA, DIM, threshold=0.95,
    )
    kept = {r.vec_id for r in read_table(spark, dirs["out"]).collect()}
    assert 100 not in kept, "dup vs a compacted index slice must be dropped"
    assert 101 in kept


def test_output_dir_compaction(spark, dirs):
    """The kept-rows output is a maintainable table too: compact it and
    read_table keeps returning every kept row with its lineage."""
    from napalm_logs_spark.streaming.maintenance import compact_sink

    base = _vecs(31, 4)
    for i in range(3):
        _write(spark, dirs["src"], _rows([10 * i], base[i:i + 1]))
        run_near_dup_stream_once(
            spark, dirs["src"], dirs["out"], dirs["idx"], dirs["ckpt"],
            SCHEMA, DIM, threshold=0.95,
        )
    before = sorted(
        (r.vec_id, r._batch_id) for r in read_table(spark, dirs["out"]).collect()
    )
    stats = compact_sink(spark, dirs["out"])
    assert not stats["skipped"]
    after = sorted(
        (r.vec_id, r._batch_id) for r in read_table(spark, dirs["out"]).collect()
    )
    assert after == before


def test_metrics_jsonl(spark, dirs, tmp_path):
    import json

    base = _vecs(41, 4)
    rows = _rows(range(4), base) + _rows(
        [50], [base[1] + 0.001 * _vecs(42, 1)[0]]
    )
    _write(spark, dirs["src"], rows)
    metrics = str(tmp_path / "m.jsonl")
    run_near_dup_stream_once(
        spark, dirs["src"], dirs["out"], dirs["idx"], dirs["ckpt"],
        SCHEMA, DIM, threshold=0.95, metrics_jsonl=metrics,
    )
    lines = [json.loads(x) for x in open(metrics)]
    assert len(lines) == 1
    assert lines[0] == {"batch_id": 0, "n_in": 5, "n_kept": 4, "n_dropped": 1,
                        "index_oversize_buckets": 0,
                        "index_anchors_sampled_out": 0}


def test_metrics_replay_idempotent(spark, dirs, tmp_path):
    """A replayed batch REPLACES its metrics line (exactly-once, like
    the data writes) — and n_in counts rows, not distinct ids."""
    import json

    from napalm_logs_spark.streaming.neardup_stream import near_dup_filter_batch

    base = _vecs(51, 3)
    # id 7 appears TWICE (same doc replayed into one batch: rows, not
    # ids, must be what n_in counts — and same-id rows never self-pair)
    # and id 9 is a distinct-id near-copy of id 0 (a real drop)
    rows = (
        _rows([0, 1, 7], base)
        + _rows([7], base[2:3])
        + _rows([9], [base[0] + 0.001 * _vecs(52, 1)[0]])
    )
    bdf = spark.createDataFrame(rows, SCHEMA)
    metrics = str(tmp_path / "m.jsonl")
    fn = near_dup_filter_batch(dirs["out"], dirs["idx"], DIM,
                               metrics_jsonl=metrics)
    fn(bdf, 0)
    fn(bdf, 0)  # replay
    lines = [json.loads(x) for x in open(metrics)]
    assert len(lines) == 1
    assert lines[0] == {"batch_id": 0, "n_in": 5, "n_kept": 4,
                        "n_dropped": 1,
                        "index_oversize_buckets": 0,
                        "index_anchors_sampled_out": 0}


def test_index_side_bucket_cap_and_gauges(spark, dirs, tmp_path):
    """The accumulated-index side of the anchor join is skew-capped too
    (round-3 ADVICE): oversized index buckets are md5-down-sampled per
    batch and the pressure is visible in the metrics gauges."""
    import json

    from napalm_logs_spark.streaming.neardup_stream import near_dup_filter_batch

    base = _vecs(61, 1)
    noise = _vecs(62, 8)
    # 5 near-copies of one vector: same LSH bucket in (essentially)
    # every table; threshold > 1 keeps them ALL, building a hot bucket
    rows0 = _rows(range(5), [base[0] + 0.001 * noise[i] for i in range(5)])
    metrics = str(tmp_path / "m.jsonl")
    fn_keep_all = near_dup_filter_batch(
        dirs["out"], dirs["idx"], DIM, threshold=1.01,
        max_index_bucket=3, metrics_jsonl=metrics,
    )
    fn_keep_all(spark.createDataFrame(rows0, SCHEMA), 0)
    rows1 = _rows([100], [base[0] + 0.001 * noise[5]])
    fn_keep_all(spark.createDataFrame(rows1, SCHEMA), 1)
    lines = {ln["batch_id"]: ln for ln in map(json.loads, open(metrics))}
    assert lines[0]["index_oversize_buckets"] == 0  # no index yet
    assert lines[1]["n_kept"] == 1
    # each hash table's hot bucket holds 5 anchors > cap 3
    assert lines[1]["index_oversize_buckets"] >= 1
    assert lines[1]["index_anchors_sampled_out"] >= 2

    # recall trade-off is real and bounded: with the cap at 0 every
    # anchor is sampled out, so a true near-dup is KEPT (documented
    # recall loss, never precision loss)
    fn_cap0 = near_dup_filter_batch(
        dirs["out"], dirs["idx"], DIM, threshold=0.95,
        max_index_bucket=0, metrics_jsonl=metrics,
    )
    rows2 = _rows([200], [base[0] + 0.001 * noise[6]])
    fn_cap0(spark.createDataFrame(rows2, SCHEMA), 2)
    lines = {ln["batch_id"]: ln for ln in map(json.loads, open(metrics))}
    assert lines[2]["n_kept"] == 1  # anchors unreachable -> kept
    assert lines[2]["index_anchors_sampled_out"] >= 6


def test_stream_drops_exactly_the_batch_operators_id_b(spark, dirs):
    """One batch through the stream filter drops exactly the ``id_b``
    set that ``embedding_near_dup`` reports on the same rows — zero
    vectors (never near-dups) and a planted near-dup pair included."""
    from napalm_logs_spark.operators.similarity import embedding_near_dup
    from napalm_logs_spark.streaming.neardup_stream import near_dup_filter_batch

    base = _vecs(71, 8)
    zero = np.zeros((2, DIM), dtype="float32")
    rows = (
        _rows(range(8), base)
        + _rows([20, 21], zero)
        + _rows([30], [base[3] + 0.001 * _vecs(72, 1)[0]])  # near-dup of 3
        + _rows([31], [base[3] + 0.002 * _vecs(73, 1)[0]])  # and of 3, 30
    )
    bdf = spark.createDataFrame(rows, SCHEMA)
    pairs = embedding_near_dup(bdf, dim=DIM, threshold=0.95).collect()
    expected_drops = {r.id_b for r in pairs}
    assert expected_drops == {30, 31}, pairs

    near_dup_filter_batch(dirs["out"], dirs["idx"], DIM, threshold=0.95)(bdf, 0)
    kept = {r.vec_id for r in read_table(spark, dirs["out"]).collect()}
    assert {r[0] for r in rows} - kept == expected_drops
