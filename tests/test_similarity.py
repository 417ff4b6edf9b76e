"""Similarity search: exact brute-force cosine top-k + LSH approximate
variant (recall measured against brute force) + embedding near-dup."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup,
    ivf_assign,
    ivf_cosine_topk,
    lsh_cosine_topk,
    _train_centroids,
)

SF_DIR = "/root/testdata/sf0.001"
DIM = 64


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 5)


def test_cosine_topk_matches_numpy(spark, emb, queries):
    got = cosine_topk(emb, queries, k=5).collect()
    vecs = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    for qid in range(5):
        q = vecs[qid]
        sims = {
            vid: float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
            for vid, v in vecs.items()
            if vid != qid
        }
        expected = sorted(sims, key=lambda v: (-round(sims[v], 6), v))[:5]
        mine = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == qid]
        assert mine == expected, qid


def test_lsh_recall_against_bruteforce(emb, queries):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    # testdata embeddings are near-orthogonal random vectors (max pairwise
    # cosine ≈0.33): the hardest regime for hyperplane LSH — few planes,
    # many tables needed for recall
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_cosine_topk(emb, queries, dim=DIM, k=10, n_planes=4, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # approximate, but must be useful


def test_embedding_near_dup_planted(spark):
    rng = np.random.RandomState(7)
    v = rng.normal(size=DIM)
    rows = [
        (0, (v / np.linalg.norm(v)).tolist(), 0),
        (1, (v / np.linalg.norm(v) + 0.001).tolist(), 0),     # near dup
        (2, rng.normal(size=DIM).tolist(), 0),                # unrelated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r.id_a, r.id_b) for r in embedding_near_dup(df, dim=DIM, threshold=0.99).collect()}
    assert got == {(0, 1)}


def test_ivf_recall_against_bruteforce(emb, queries):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    # near-orthogonal random embeddings: clusters are weak, so probe
    # half the lists — the scale knob a real corpus would not need
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_cosine_topk(
            emb, queries, dim=DIM, k=10, n_clusters=8, nprobe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, recall


def test_ivf_full_probe_equals_bruteforce(emb, queries):
    """nprobe == n_clusters degenerates to exact search — same result
    set as brute force (rank ties broken identically)."""
    exact = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in cosine_topk(emb, queries, k=5).collect()
    )
    full = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_cosine_topk(
            emb, queries, dim=DIM, k=5, n_clusters=4, nprobe=4
        ).collect()
    )
    assert full == exact


def test_ivf_assign_deterministic_under_repartition(emb):
    cent = _train_centroids(
        np.array([np.array(r.embedding, dtype="float64") for r in emb.limit(256).collect()]),
        n_clusters=8, seed=42,
    )
    a = {r.vec_id: r.cluster for r in ivf_assign(emb, cent).collect()}
    b = {
        r.vec_id: r.cluster
        for r in ivf_assign(emb.repartition(13), cent).collect()
    }
    assert a == b
    assert set(a.values()) <= set(range(8))


def test_ivf_candidate_join_shuffles_on_cluster_not_cartesian(emb, queries):
    plan = (
        ivf_cosine_topk(emb, queries, dim=DIM, k=5, n_clusters=8, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan, plan


def test_topk_plan_broadcasts_queries(emb, queries):
    plan = (
        cosine_topk(emb, queries, k=5)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_ann_plan_stays_bounded_at_production_scale(spark):
    """C=256 centroids × dim=256 (the round-1 plan-literal form built
    65k+ literal expressions here): the broadcast-variable form must
    keep the analyzed plan O(1) and both ANN operators runnable."""
    import time

    import numpy as np

    from napalm_logs_spark.operators.similarity import (
        ivf_cosine_topk,
        lsh_cosine_topk,
    )

    rng = np.random.RandomState(7)
    n, dim = 600, 256
    rows = [(i, rng.normal(size=dim).astype("float32").tolist()) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    t0 = time.time()
    ivf = ivf_cosine_topk(
        emb, emb.filter("vec_id < 3"), dim=dim, k=5, n_clusters=256, nprobe=8
    )
    plan = ivf._jdf.queryExecution().executedPlan().toString()
    build_s = time.time() - t0
    # the plan must reference the centroids via a UDF, not 65k literals
    assert len(plan) < 200_000, f"plan blew up: {len(plan)} chars"
    assert build_s < 60, f"analysis took {build_s:.1f}s"
    got = ivf.collect()
    assert {r.query_id for r in got} == {0, 1, 2}
    assert all(1 <= r.rank <= 5 for r in got)

    lsh = lsh_cosine_topk(
        emb, emb.filter("vec_id < 3"), dim=dim, k=5, n_planes=16, n_tables=8
    )
    plan2 = lsh._jdf.queryExecution().executedPlan().toString()
    assert len(plan2) < 400_000, f"plan blew up: {len(plan2)} chars"
    got2 = lsh.collect()
    assert {r.query_id for r in got2} <= {0, 1, 2} and len(got2) > 0


def test_near_dup_bucket_cap_and_observability(spark):
    """A dense bucket (more identical vectors than the cap) must be
    excluded in every table; a smaller near-duplicate cluster that fits
    under the cap is still found."""
    import numpy as np

    from napalm_logs_spark.operators.similarity import (
        NEAR_DUP_MAX_BUCKET,
        embedding_near_dup,
    )

    rng = np.random.RandomState(11)
    hot = rng.normal(size=16).astype("float32").tolist()
    n_hot = NEAR_DUP_MAX_BUCKET + 1
    rows = [(i, hot) for i in range(n_hot)]  # one bucket past the cap
    dense = rng.normal(size=16).astype("float32")
    rows += [(10_000 + i, (dense + rng.normal(scale=1e-3, size=16).astype("float32")).tolist())
             for i in range(40)]         # 40 near-identical vectors
    rows += [(20_000 + i, rng.normal(size=16).astype("float32").tolist())
             for i in range(20)]         # background
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = [(r.id_a, r.id_b)
           for r in embedding_near_dup(emb, dim=16, threshold=0.999).collect()]
    # the over-cap bucket is dropped in every table: no pair inside it
    assert not [p for p in got if p[1] < n_hot]
    # the 40-vector clique fits under the cap and is found whole
    clique = {p for p in got if 10_000 <= p[0] and p[1] < 20_000}
    assert len(clique) == 40 * 39 // 2


def test_kmeans_deterministic_across_partitionings(spark):
    """Fixed-point centroid sums must make the assignment bit-identical
    under any partitioning (the float-sum version would drift)."""
    import numpy as np
    from napalm_logs_spark.operators.similarity import kmeans_clusters

    rng = np.random.RandomState(7)
    # blobs separated in DIRECTION (spherical k-means is cosine-based:
    # constant-shift blobs would be nearly collinear)
    rows = []
    for i in range(120):
        v = rng.normal(size=8) * 0.2
        v[i % 3] += 5.0
        rows.append((i, v.tolist()))
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a1 = dict(
        (r.vec_id, r.cluster)
        for r in kmeans_clusters(df1.repartition(1), k=3, iters=3, seed=1).collect()
    )
    a13 = dict(
        (r.vec_id, r.cluster)
        for r in kmeans_clusters(df1.repartition(13), k=3, iters=3, seed=1).collect()
    )
    assert a1 == a13
    # three planted blobs -> three pure clusters
    by_label = {}
    for i, c in a1.items():
        by_label.setdefault(i % 3, set()).add(c)
    assert all(len(v) == 1 for v in by_label.values())


# ---------------------------------------------------------------------------
# IVF all-pairs kNN join (large-to-large)


def test_ivf_join_full_probe_equals_bruteforce(emb):
    """With nprobe == n_clusters every list is probed, so the join must
    reproduce exact brute-force top-k for EVERY row."""
    from napalm_logs_spark.operators.similarity import ivf_join_topk

    sub = emb.filter(F.col("vec_id") < 60)
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(sub, sub, k=3).collect()
    }
    joined = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_join_topk(sub, dim=DIM, k=3, n_clusters=4, nprobe=4).collect()
    }
    assert joined == exact


def test_ivf_join_recall_against_bruteforce(emb):
    from napalm_logs_spark.operators.similarity import ivf_join_topk

    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, emb, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_join_topk(emb, dim=DIM, k=3, n_clusters=8, nprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_ivf_join_is_shuffle_join_not_broadcast_and_not_cartesian(emb):
    """The candidate join must shuffle on `cluster` (large-to-large —
    broadcasting a 100 TB side is impossible) and must never fall back
    to a cartesian/BNL join."""
    from napalm_logs_spark.operators.similarity import ivf_join_topk

    plan = ivf_join_topk(emb, dim=DIM, k=3, n_clusters=8, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hard_negatives_no_same_label_and_golden(emb):
    """Every mined pair crosses labels; output matches the stored
    independent-numpy golden bit-for-bit."""
    import pandas as pd

    from napalm_logs_spark.operators.similarity import hard_negatives

    got = (
        hard_negatives(emb, k=5, n_clusters=16, nprobe=2)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert (got["query_label"] != got["neighbor_label"]).all()
    # ranks are contiguous from 1 per query
    for _, g in got.groupby("query_id"):
        assert list(g["rank"]) == list(range(1, len(g) + 1))
    golden = pd.read_parquet(
        "/root/repo/testdata_goldens/hard_negatives_golden.parquet"
    )
    key = int(
        np.floor(
            np.array([v[0] for v in emb.select("embedding").toPandas()["embedding"]])
            * 1000
        ).astype(np.int64).sum()
    )
    g = (
        golden[golden["scale_key"] == key]
        .drop(columns=["scale_key"])
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(g) == len(got)
    for c in ["query_id", "query_label", "neighbor_id", "neighbor_label", "rank"]:
        assert (got[c].to_numpy() == g[c].to_numpy()).all(), c
    # rtol=0 too: cosines are HALF_UP-rounded to 6 decimals on both
    # sides, so the match must be exact — default rtol would mask a
    # last-digit determinism regression
    assert np.allclose(got["cosine"], g["cosine"], atol=0, rtol=0)


def test_hard_negatives_excludes_before_ranking(spark):
    """A same-label nearest neighbor must not consume a rank slot: the
    top hard negative is the nearest OTHER-label row, ranked 1."""
    import numpy as np

    from napalm_logs_spark.operators.similarity import hard_negatives

    # 0 and 1 nearly parallel with SAME label; 2 slightly off with a
    # different label — for query 0 the only (and top) negative is 2
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.14, 0.0], 0),
        (2, [0.9, 0.43, 0.0], 1),
    ]
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.neighbor_label)
        for r in hard_negatives(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>, label int"
            ),
            k=2, n_clusters=1, nprobe=1,
        ).collect()
    }
    assert got[(0, 1)] == (2, 1)
    assert (1, 1) not in got or got[(1, 1)][0] == 2


def test_semdedup_planted_near_dup_dropped(spark):
    """Two near-identical vectors land in one cluster; the higher id is
    dropped, the lower kept; a distant vector survives untouched."""
    import numpy as np

    from napalm_logs_spark.operators.similarity import semdedup

    rng = np.random.RandomState(7)
    base = rng.randn(24, 16).astype("float32")
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(24)]
    # planted: 100 ≈ copy of row 3 (tiny perturbation), 101 orthogonal-ish
    near = base[3] + 0.001 * rng.randn(16).astype("float32")
    rows.append((100, [float(x) for x in near]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: (r.cluster, r.keep) for r in semdedup(df, k=4, threshold=0.95).collect()}
    assert len(out) == 25
    assert out[3][0] == out[100][0], "near-copy must share the cluster"
    assert out[3][1] is True
    assert out[100][1] is False, "higher-id near-dup must be dropped"
    # with tau=0.95 nothing else correlates: everyone else keeps
    assert sum(1 for c, k in out.values() if not k) == 1


def test_semdedup_pair_join_shuffles_on_cluster_not_cartesian(spark):
    import numpy as np

    from napalm_logs_spark.operators.similarity import semdedup

    rng = np.random.RandomState(11)
    rows = [(int(i), [float(x) for x in rng.randn(16)]) for i in range(32)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = semdedup(df, k=4)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pq_recall_against_bruteforce_l2(emb, queries):
    from napalm_logs_spark.operators.similarity import pq_topk, pq_train

    books = pq_train(emb, m=8, k_sub=16)
    got = pq_topk(emb, queries, books, k=10).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in emb.collect()}
    hits = total = 0
    for qid in range(5):
        q = vecs[qid]
        d2 = {vid: float(((q - v) ** 2).sum()) for vid, v in vecs.items() if vid != qid}
        exact = set(sorted(d2, key=lambda v: (d2[v], v))[:10])
        mine = {r.neighbor_id for r in got if r.query_id == qid}
        assert len(mine) == 10
        hits += len(mine & exact)
        total += 10
    # i.i.d. Gaussian embeddings are PQ's worst case (no subspace
    # structure, concentrated distances): measured recall@10 is 0.24
    # here vs 0.02 for a random ranking — assert the order-of-magnitude
    # win, not a real-corpus recall
    assert hits / total >= 0.15, hits / total


def test_pq_topk_invariant_under_repartition(emb, queries):
    from napalm_logs_spark.operators.similarity import pq_topk, pq_train

    books = pq_train(emb, m=8, k_sub=16)
    a = sorted(map(tuple, pq_topk(emb, queries, books, k=5).collect()))
    b = sorted(map(tuple, pq_topk(emb.repartition(7), queries, books, k=5).collect()))
    assert a == b
    assert all(r[1] != r[0] for r in a)  # self-matches excluded


def test_pq_encode_shape_and_determinism(emb):
    from napalm_logs_spark.operators.similarity import pq_encode, pq_train

    books = pq_train(emb, m=8, k_sub=16)
    assert books.shape == (8, 16, 8)
    rows = pq_encode(emb, books).select("vec_id", "codes").collect()
    assert all(len(r.codes) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    again = pq_encode(emb.repartition(5), books).select("vec_id", "codes").collect()
    assert {r.vec_id: list(r.codes) for r in rows} == {
        r.vec_id: list(r.codes) for r in again
    }


def test_ivfpq_recall_beats_raw_pq(emb, queries):
    # residual quantization at the same code budget recovers more of
    # the exact top-10 than raw-vector PQ (the Jégou et al. claim)
    from napalm_logs_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
        pq_train,
    )

    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in emb.collect()}

    def recall(got):
        hits = 0
        for qid in range(5):
            q = vecs[qid]
            d2 = {v: float(((q - x) ** 2).sum()) for v, x in vecs.items() if v != qid}
            exact = set(sorted(d2, key=lambda v: (d2[v], v))[:10])
            hits += len({r.neighbor_id for r in got if r.query_id == qid} & exact)
        return hits / 50

    # full probe isolates the quantizer comparison from pruning loss
    r_ivfpq = recall(ivfpq_topk(emb, queries, k=10, n_clusters=8, nprobe=8).collect())
    books = pq_train(emb, m=8, k_sub=16)
    r_pq = recall(pq_topk(emb, queries, books, k=10).collect())
    assert r_ivfpq > r_pq, (r_ivfpq, r_pq)


def test_ivfpq_invariant_under_repartition(emb, queries):
    from napalm_logs_spark.operators.similarity import ivfpq_topk

    a = sorted(map(tuple, ivfpq_topk(emb, queries, k=5).collect()))
    b = sorted(map(tuple, ivfpq_topk(emb.repartition(7), queries, k=5).collect()))
    assert a == b and len(a) == 25
    assert all(r[1] != r[0] for r in a)


def test_ivfpq_encode_is_narrow_inverted_file(emb):
    from napalm_logs_spark.operators.similarity import ivfpq_encode, ivfpq_train

    coarse, books = ivfpq_train(emb, n_clusters=8, m=8, k_sub=16)
    enc = ivfpq_encode(emb, coarse, books)
    rows = enc.collect()
    assert all(0 <= r.cluster < 8 and len(r.codes) == 8 for r in rows)
    # the scan is one narrow pass: no shuffle in the encode plan
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_quantize_int8_roundtrip_and_edge_cases(spark):
    from napalm_logs_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [
            (0, [1.0, -2.0, 0.5, -0.25]),
            (1, [0.0, 0.0, 0.0, 0.0]),       # all-zero: scale 0, codes 0
            (2, [-3.0, 3.0, 1.5, -1.5]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r for r in quantize_int8(df).collect()}
    # max |x| maps to ±127 exactly
    assert got[0].codes[1] == -127 and max(abs(c) for c in got[0].codes) == 127
    assert got[1].scale == 0.0 and got[1].codes == [0, 0, 0, 0]
    assert got[1].recon_err == 0.0
    assert got[2].codes == [-127, 127, 64, -64]  # 1.5/ (3/127) = 63.5 HALF_UP
    # reconstruction error bound: per-element error <= scale/2
    import math
    for r in (got[0], got[2]):
        assert r.recon_err <= math.sqrt(len(r.codes)) * r.scale / 2 + 1e-12
        for x, c in zip([1.0, -2.0, 0.5, -0.25] if r.vec_id == 0 else [-3.0, 3.0, 1.5, -1.5], r.codes):
            assert abs(x - c * r.scale) <= r.scale / 2 + 1e-12


def test_quantize_int8_matches_numpy_and_no_shuffle(spark, emb):
    import numpy as np
    from napalm_logs_spark.operators.similarity import quantize_int8

    out = quantize_int8(emb)
    rows = {r.vec_id: r for r in out.collect()}
    for r in emb.limit(20).collect():
        x = np.asarray(r.embedding, dtype="float64")
        maxabs = np.abs(x).max()
        scale = maxabs / 127.0
        codes = np.floor(np.abs(x) / scale + 0.5).astype(int) * np.sign(x).astype(int)
        got = rows[r.vec_id]
        assert list(got.codes) == codes.tolist(), r.vec_id
        assert abs(got.recon_err - float(np.linalg.norm(x - codes * scale))) < 1e-12
    # zero shuffle: pure per-row JVM expressions
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pca_partitioning_invariance_and_sign(emb):
    """The fixed-point moment contract: any repartitioning yields
    bit-identical mean/components; each component's largest-|entry|
    coordinate is positive (the deterministic sign convention)."""
    import numpy as np

    from napalm_logs_spark.operators.similarity import pca_fit

    mean, comps, evr = pca_fit(emb, 4)
    mean2, comps2, _ = pca_fit(emb.repartition(7), 4)
    assert np.array_equal(mean, mean2)
    assert np.array_equal(comps, comps2)
    assert comps.shape == (4, 64)
    for i in range(4):
        assert comps[i, int(np.argmax(np.abs(comps[i])))] > 0
    # descending explained variance, all positive
    assert (np.diff(evr) <= 0).all() and (evr > 0).all()


def test_pca_project_nulls_and_reconstruction(spark, emb):
    """Null embeddings project to null; projecting onto ALL components
    reconstructs the centered data (energy check: the top-4 projection
    carries exactly the top-4 eigenvalue mass)."""
    import numpy as np

    from napalm_logs_spark.operators.similarity import pca_fit, pca_project

    mean, comps, _ = pca_fit(emb, 4)
    ndf = spark.createDataFrame(
        [(9001, None)], "vec_id long, embedding array<float>"
    )
    un = emb.select("vec_id", "embedding").unionByName(ndf)
    rows = {r["vec_id"]: r["pc"] for r in pca_project(un, mean, comps).collect()}
    assert rows[9001] is None
    assert len(rows) == emb.count() + 1
    T = np.array([v for k, v in sorted(rows.items()) if v is not None])
    # projections are centered: column means ~ 0
    assert np.abs(T.mean(axis=0)).max() < 1e-9


def test_pca_fit_empty_raises(spark):
    import pytest as _pytest

    from napalm_logs_spark.operators.similarity import pca_fit

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="no rows"):
        pca_fit(empty, 2)


def test_jl_projection_parity_and_isometry(spark):
    import hashlib

    import numpy as np

    from napalm_logs_spark.operators.similarity import (
        JL_SCALE,
        random_projection,
    )

    rng = np.random.RandomState(7)
    V = rng.randn(40, 16).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out_dim = 12
    got = {
        r["vec_id"]: [r[f"p{i}"] for i in range(out_dim)]
        for r in random_projection(df, in_dim=16, out_dim=out_dim).collect()
    }
    # independent replication: hashlib signs + integer arithmetic
    S = np.array(
        [
            [
                1
                if int(hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()[0], 16) % 2 == 0
                else -1
                for j in range(16)
            ]
            for i in range(out_dim)
        ],
        dtype=np.int64,
    )
    W = np.floor(V.astype(np.float64) * JL_SCALE).astype(np.int64)
    exp = W @ S.T
    for i in range(40):
        assert got[i] == list(exp[i])
    # JL isometry (fixed deterministic signs, so the check is stable):
    # dequantized pairwise distances stay within a loose factor
    Y = exp.astype(np.float64) / JL_SCALE / np.sqrt(out_dim)
    for a, b in [(0, 1), (2, 3), (4, 5), (6, 7)]:
        d0 = np.linalg.norm(V[a].astype(np.float64) - V[b].astype(np.float64))
        d1 = np.linalg.norm(Y[a] - Y[b])
        assert 0.3 < d1 / d0 < 1.9


def test_jl_projection_zero_shuffle(spark):
    from napalm_logs_spark.operators.similarity import random_projection

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = random_projection(emb, in_dim=64, out_dim=8)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_corpus_diversity_matches_bruteforce(spark):
    import numpy as np

    from napalm_logs_spark.operators.similarity import corpus_diversity

    rng = np.random.RandomState(11)
    V = rng.randn(30, 8).astype(np.float32)
    labels = [i % 3 for i in range(30)]
    df = spark.createDataFrame(
        [(i, labels[i], [float(x) for x in V[i]]) for i in range(30)],
        "vec_id long, label int, embedding array<float>",
    )
    got = {r["label"]: r for r in corpus_diversity(df, by="label").collect()}
    U = V.astype(np.float64)
    U = U / np.linalg.norm(U, axis=1, keepdims=True)
    for lbl in (0, 1, 2):
        idx = [i for i in range(30) if labels[i] == lbl]
        G = U[idx] @ U[idx].T
        n = len(idx)
        brute = (G.sum() - n) / (n * (n - 1))
        assert got[lbl]["n"] == n
        # quantization error O(dim * 2^-30) — far inside 1e-4
        assert abs(float(got[lbl]["mean_cos_q"]) - brute) < 1e-4


def test_corpus_diversity_edge_cases(spark):
    from napalm_logs_spark.operators.similarity import corpus_diversity

    df = spark.createDataFrame(
        [
            (0, "solo", [1.0, 0.0]),
            (1, "zeros", [0.0, 0.0]),      # excluded: cosine undefined
            (2, "pair", [1.0, 0.0]),
            (3, "pair", [1.0, 0.0]),       # identical: mean cos ~ 1
        ],
        "vec_id long, label string, embedding array<float>",
    )
    got = {r["label"]: r for r in corpus_diversity(df, by="label").collect()}
    assert "zeros" not in got
    assert got["solo"]["n"] == 1 and got["solo"]["mean_cos_q"] is None
    assert abs(float(got["pair"]["mean_cos_q"]) - 1.0) < 1e-6


def test_corpus_diversity_partitioning_invariance(spark):
    import numpy as np

    from napalm_logs_spark.operators.similarity import corpus_diversity

    rng = np.random.RandomState(5)
    V = rng.randn(50, 6).astype(np.float32)
    rows = [(i, i % 2, [float(x) for x in V[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    a = sorted(map(tuple, corpus_diversity(df.repartition(1)).collect()))
    b = sorted(map(tuple, corpus_diversity(df.repartition(7)).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# semantic decontamination


def test_semantic_decontaminate_planted(spark):
    from napalm_logs_spark.operators.similarity import semantic_decontaminate

    rows = [
        (0, [1.0, 0.0, 0.0]),    # verbatim copy of bench 100
        (1, [0.99, 0.14, 0.0]),  # near-paraphrase of bench 100
        (2, [0.0, 0.0, 1.0]),    # orthogonal — clean
        (3, [0.0, 0.0, 0.0]),    # zero vector — scores 0 by fiat
        (4, [-1.0, 0.0, 0.0]),   # anti-parallel — clean
    ]
    bench = [(100, [1.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    b = spark.createDataFrame(bench, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r
        for r in semantic_decontaminate(corpus, b, threshold=0.9).collect()
    }
    assert out[0].contaminated and out[0].max_cosine == 1.0
    assert out[0].nearest_bench_id == 100
    assert out[1].contaminated and out[1].max_cosine > 0.98
    assert not out[2].contaminated and out[2].max_cosine == 0.0
    assert not out[3].contaminated and out[3].max_cosine == 0.0
    assert not out[4].contaminated and out[4].max_cosine == 0.0
    # rounded tie (vec 2 scores 0.0 against both benches) -> lowest id
    assert out[2].nearest_bench_id == 100


def test_semantic_decontaminate_empty_benchmark(spark):
    from napalm_logs_spark.operators.similarity import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    b = spark.createDataFrame([], "vec_id long, embedding array<float>")
    r = semantic_decontaminate(corpus, b).collect()[0]
    assert r.max_cosine is None and r.contaminated is False


def test_semantic_decontaminate_plan_no_shuffle_on_corpus(spark):
    """The corpus side must reach the fold without an exchange: only
    the one-row benchmark aggregate exchanges/broadcasts."""
    from napalm_logs_spark.operators.similarity import semantic_decontaminate

    corpus = spark.range(0, 1000).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(7), F.rand(8)).cast("array<float>").alias("embedding"),
    )
    b = corpus.filter(F.col("vec_id") < 4)
    plan = semantic_decontaminate(corpus, b)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


# --- margin-based bitext mining -------------------------------------------


def _bitext_corpus(spark):
    # two "languages" with planted translation pairs: lang-1 vector
    # 100+i is a tiny perturbation of lang-0 vector i (ids: even=lang0
    # input uses explicit lang col).  A hub (id 98) sits near MANY
    # lang-1 vectors but is nobody's unambiguous match.
    rng = np.random.RandomState(4)
    rows = []
    base = rng.randn(6, 16)
    for i in range(6):
        rows.append((i, 0, (base[i] / np.linalg.norm(base[i])).tolist()))
        v = base[i] + 0.01 * rng.randn(16)
        rows.append((100 + i, 1, (v / np.linalg.norm(v)).tolist()))
    hub = base.mean(axis=0)
    rows.append((98, 0, (hub / np.linalg.norm(hub)).tolist()))
    return spark.createDataFrame(
        rows, "vec_id long, lang int, embedding array<double>"
    )


def test_bitext_mine_finds_planted_pairs(spark):
    from napalm_logs_spark.operators.similarity import bitext_margin_mine

    df = _bitext_corpus(spark)
    out = bitext_margin_mine(df, k=3, threshold=1.0, n_clusters=2, nprobe=2)
    got = {r.src_id: r for r in out.collect()}
    # every planted pair is each other's best match and mutual
    for i in range(6):
        assert got[i].tgt_id == 100 + i, got[i]
        assert got[100 + i].tgt_id == i
        assert got[i].mutual and got[100 + i].mutual
        assert got[i].margin > 1.0
    # margin is symmetric by construction for mutual pairs
    for i in range(6):
        assert got[i].margin == got[100 + i].margin
    # the hub either mines nothing or a NON-mutual, lower-margin match
    if 98 in got:
        assert not got[98].mutual
        assert got[98].margin < min(got[i].margin for i in range(6))


def test_bitext_mine_partitioning_invariance(spark):
    from napalm_logs_spark.operators.similarity import bitext_margin_mine

    df = _bitext_corpus(spark)
    outs = []
    for n_part in (1, 5):
        out = bitext_margin_mine(
            df.repartition(n_part), k=3, threshold=1.0, n_clusters=2, nprobe=2
        )
        outs.append(
            sorted(
                (r.src_id, r.tgt_id, r.cosine, r.margin, r.mutual)
                for r in out.collect()
            )
        )
    assert outs[0] == outs[1] and len(outs[0]) > 0
