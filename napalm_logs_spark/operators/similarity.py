"""Similarity search over an embedding column (``array<float>``).

* :func:`cosine_topk` — exact brute-force top-k: broadcast the (small)
  query set against the corpus; dot products via ``F.zip_with`` +
  ``F.aggregate`` (JVM-side, no Python); per-query top-k via window.
* :func:`lsh_cosine_topk` — the scale path: random-hyperplane LSH
  buckets (deterministic seeded planes as a Spark broadcast variable
  inside an Arrow-batched pandas UDF — plan size stays O(1) at any
  plane count); only same-bucket pairs pay the cosine; multi-probe via
  several tables.  Recall < 1 by construction; verified against brute
  force in tests.
* :func:`embedding_near_dup` — near-duplicate pairs by cosine ≥ τ
  within LSH buckets (embedding-space analog of MinHash dedup);
  multi-table with a per-bucket size cap so one dense bucket cannot go
  quadratic.
* :func:`ivf_cosine_topk` — IVF scale path: deterministic seeded
  k-means centroids trained on a bounded driver-side sample, shipped as
  a broadcast variable (one batch-matmul per Arrow batch for assignment
  and probing); corpus rows land in one inverted list, queries probe
  the ``nprobe`` nearest lists, exact cosine only within probed lists.
  At cluster scale the centroid count bounds the broadcast (C×dim
  doubles) and the shuffle is a hash join on ``cluster``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .util import widen_if_narrow_scan


def _dot(a, b):
    # element-wise double arithmetic (float*float would lose precision
    # vs. any double-computing oracle)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(a, b, na, nb):
    """Cosine of two embedding columns from their norms, which callers
    compute once per row on the narrow side: re-deriving them per
    candidate pair through the interpreted HOF chain costs ~3× the dot
    product (measured 19 s → ~2 s at 1M candidates).  A pair that
    involves a zero vector has a NULL cosine instead of an ANSI
    ``DIVIDE_BY_ZERO`` abort: it is never a near-dup, semdedup or
    decontamination hit, and a top-k (``DESC NULLS LAST``) ranks it
    after every scored candidate."""
    return F.try_divide(_dot(a, b), na * nb)


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (broadcast the queries).

    Output: (query_id, neighbor_id, cosine, rank) — excludes self-match.
    """
    # the per-candidate cosine runs at the corpus's split count: spread
    # a small-split scan over the cluster (no-op on a well-split input)
    corpus = widen_if_narrow_scan(corpus)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_nrm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_nrm"),
    )
    joined = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    cos = _cosine(F.col("q_emb"), F.col("c_emb"), F.col("q_nrm"), F.col("c_nrm"))
    scored = joined.withColumn("cosine", F.round(cos, 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def jl_signs(out_dim: int, in_dim: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix from the engine's md5
    convention: sign(i, j) = +1 iff the first hex digit of
    ``md5('rp:{i}:{j}')`` is even.  Computed here with hashlib; the SQL
    oracle recomputes it with the engine's own ``md5`` — two
    independent implementations of one published convention (the
    d_simhash pattern)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for j in range(in_dim)
        ]
        for i in range(out_dim)
    ]


#: fixed-point scale for the JL projection — a power of two, so the
#: quantizing multiply is EXACT in IEEE doubles (exponent shift only)
#: and floor() agrees bit-for-bit between engines
JL_SCALE = 1 << 24
SEED = 42  # every seeded trainer and LSH plane set


def random_projection(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 8,
) -> DataFrame:
    """Johnson-Lindenstrauss sign projection: dim → out_dim.

    The dimensionality-reduction stage that runs *before* LSH/PQ at
    scale (Achlioptas 2001: ±1 entries preserve pairwise distances in
    expectation with the same JL guarantee as Gaussians, at integer
    cost).  Output coordinate ``p_i = Σ_j floor(v_j·2^24) · sign(i,j)``
    — an exact integer, so the operator is bit-identical under any
    partitioning and value-matches a SQL replay; dequantize as
    ``p_i / 2^24 / √out_dim`` for the isometry-scaled embedding.

    Entirely JVM higher-order functions over literal sign arrays:
    zero shuffle, zero Python, plan size O(out_dim·in_dim) literals.
    No overflow: |p_i| ≤ in_dim · 2^24 · max|v| ≪ 2^63.
    """
    signs = jl_signs(out_dim, in_dim)
    w = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(JL_SCALE))).cast("long"),
    )
    out = [
        F.aggregate(
            F.zip_with(
                F.col("_w"),
                F.array(*[F.lit(s) for s in signs[i]]),
                lambda x, y: x * y.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias(f"p{i}")
        for i in range(out_dim)
    ]
    return df.withColumn("_w", w).select(F.col("vec_id"), *out)


def corpus_diversity(
    df: DataFrame,
    by: str = "label",
) -> DataFrame:
    """Per-group mean pairwise cosine — WITHOUT the n² pair join.

    The curation dashboard metric (how self-similar is each source /
    cluster; does dedup actually lower it?) via the closed form over
    unit vectors: ``mean_{i≠j} cos(u_i,u_j) = (‖Σu‖² − n)/(n(n−1))``.
    Cost is one narrow posexplode pass + two map-side-combined
    aggregates (shuffle = partitions·groups·dim rows) — corpus-level
    similarity in O(n·dim) where the naive join is O(n²·dim).

    Exactness contract: every float-chain input is first made integer
    (``a_j = floor(x_j·2^20)``, norm² = Σa_j² an exact long), so the
    per-element unit value ``floor(a_j·2^30 / sqrt(norm²))`` is one
    IEEE-defined op chain — bit-identical on any engine — and the
    cross-row sums are integer (order-free).  ‖Σ‖² accumulates in
    DECIMAL(38,0) (S_d² can exceed BIGINT).  ``mean_cos_q`` is the
    metric at quantized precision (error O(2^-30·dim), far below the
    6dp rounding).  Zero vectors are excluded (cosine undefined);
    single-vector groups emit NULL.
    """
    a = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(1 << 20))).cast("long"),
    )
    df2 = df.select(F.col(by).alias("grp"), a.alias("_a")).withColumn(
        "_nq",
        F.aggregate(
            F.transform(F.col("_a"), lambda v: v * v), F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    ).filter(F.col("_nq") > 0)
    w = F.transform(
        F.col("_a"),
        lambda v: F.floor(
            v.cast("double") * F.lit(float(1 << 30)) / F.sqrt(F.col("_nq"))
        ).cast("long"),
    )
    pe = df2.select("grp", F.posexplode(w).alias("pos", "wv"))
    sums = pe.groupBy("grp", "pos").agg(F.sum("wv").alias("s"))
    ss = sums.groupBy("grp").agg(
        F.sum(
            F.col("s").cast("decimal(19,0)") * F.col("s").cast("decimal(19,0)")
        ).alias("ss")
    )
    n_by = df2.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    q2 = float(1 << 30) ** 2
    return (
        n_by.join(ss, "grp")
        .select(
            F.col("grp").alias(by),
            "n",
            F.col("ss").cast("decimal(38,0)").alias("ss"),
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("ss").cast("double") / F.lit(q2) - F.col("n"))
                    / (F.col("n") * (F.col("n") - 1)),
                    6,
                ),
            ).alias("mean_cos_q"),
        )
    )


def _random_planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim)).astype("float64")


def _embs_matrix(embs) -> np.ndarray:
    """Arrow list column → (n, dim) float64 matrix."""
    return np.array([np.asarray(v, dtype="float64") for v in embs])


def lsh_bucket(df: DataFrame, dim: int, n_planes: int = 12, seed: int = SEED,
               emb_col: str = "embedding") -> DataFrame:
    """Random-hyperplane signature: bit i = sign(emb · plane_i).

    The planes ride as a **Spark broadcast variable** into an
    Arrow-batched pandas UDF (one vectorized ``batch @ planesᵀ`` matmul
    per batch) — NOT as plan literals: at production plane counts the
    literal form bloats the analyzed plan itself (flagged in round-1
    review); the broadcast form keeps the plan O(1) regardless of
    n_planes×dim.  One narrow pass, no shuffle.
    """
    planes = _random_planes(dim, n_planes, seed)
    bplanes = df.sparkSession.sparkContext.broadcast(planes)
    powers = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("long")
    def _sig(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype="int64")
        bits = (_embs_matrix(embs.to_numpy()) @ bplanes.value.T) > 0
        return pd.Series(bits @ powers, dtype="int64")

    return df.withColumn("bucket", _sig(F.col(emb_col)))


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 10,
    n_tables: int = 3,
) -> DataFrame:
    """Approximate top-k: candidates = same bucket in ≥1 of ``n_tables``
    hash tables, then exact cosine on candidates only."""
    corpus = widen_if_narrow_scan(corpus)
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"),
                      _norm(F.col("embedding")).alias("c_nrm"))
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
                       _norm(F.col("embedding")).alias("q_nrm"))
    cand = None
    for t in range(n_tables):
        cb = lsh_bucket(c, dim, n_planes, SEED + t, "c_emb")
        qb = lsh_bucket(q, dim, n_planes, SEED + t, "q_emb")
        pairs = cb.join(F.broadcast(qb), "bucket").filter(
            F.col("neighbor_id") != F.col("query_id")
        ).select("query_id", "neighbor_id", "q_emb", "c_emb", "q_nrm", "c_nrm")
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    cos = _cosine(F.col("q_emb"), F.col("c_emb"), F.col("q_nrm"), F.col("c_nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _train_centroids(sample: np.ndarray, n_clusters: int, seed: int) -> np.ndarray:
    """Deterministic Lloyd k-means (10 iterations) on unit-normalized
    sample vectors.

    Driver-side numpy on a bounded sample (the standard IVF recipe —
    training data never exceeds the sample cap regardless of corpus
    size); empty clusters re-seeded deterministically from the sample.
    """
    rng = np.random.RandomState(seed)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    unit = sample / np.where(norms > 0, norms, 1.0)
    idx = rng.choice(len(unit), size=min(n_clusters, len(unit)), replace=False)
    cent = unit[np.sort(idx)].copy()
    for _ in range(10):
        sims = unit @ cent.T                      # cosine on unit vectors
        assign = sims.argmax(axis=1)
        for c in range(len(cent)):
            members = unit[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                cent[c] = m / n if n > 0 else cent[c]
            else:                                 # re-seed dead centroid
                cent[c] = unit[rng.randint(len(unit))]
    return cent


def _cosine_to_centroids(M: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """(n, C) cosine matrix; zero vectors score 0 (centroids are unit)."""
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    sims = (M @ cent.T) / np.where(norms > 0, norms, 1.0)
    sims[norms[:, 0] == 0] = 0.0
    return sims


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    emb_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid inverted-list id per row (argmax of cosine; ties
    break to the lowest cluster id — numpy argmax takes the first max).

    Centroids ride as a Spark broadcast variable into an Arrow-batched
    pandas UDF (one ``batch @ centᵀ`` matmul per batch), keeping the
    plan O(1) at any C — the round-1 plan-literal form made the
    *analyzed plan* the bottleneck at production centroid counts
    (C ≈ √N, high dim).  One narrow pass, no shuffle.
    """
    bcent = df.sparkSession.sparkContext.broadcast(np.asarray(centroids, dtype="float64"))

    @pandas_udf("int")
    def _assign(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype="int32")
        sims = _cosine_to_centroids(_embs_matrix(embs.to_numpy()), bcent.value)
        return pd.Series(sims.argmax(axis=1).astype("int32"))

    return df.withColumn("cluster", _assign(F.col(emb_col)))


def _probe_clusters(
    df: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    emb_col: str = "embedding",
) -> DataFrame:
    """Explode each query row into its ``nprobe`` nearest inverted lists,
    as column ``cluster`` (ties to the lowest cluster id, matching
    :func:`ivf_assign`)."""
    bcent = df.sparkSession.sparkContext.broadcast(np.asarray(centroids, dtype="float64"))

    @pandas_udf("array<int>")
    def _probe(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype=object)
        sims = _cosine_to_centroids(_embs_matrix(embs.to_numpy()), bcent.value)
        # stable argsort on (-sim, cluster_id): deterministic probe order
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype("int32")))

    return df.withColumn("cluster", F.explode(_probe(F.col(emb_col))))


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k via IVF: probe the ``nprobe`` nearest inverted
    lists per query, exact cosine only within probed lists.

    Recall < 1 by construction (verified against brute force in tests).
    The candidate join shuffles on ``cluster`` — C keys, so at scale
    pick C ≈ sqrt(corpus_rows) to balance list size vs probe cost.
    """
    # TakeOrderedAndProject (orderBy+limit fuses — no full sort): a
    # deterministic bounded sample regardless of partitioning
    sample_pdf = (
        corpus.select("vec_id", "embedding").orderBy("vec_id").limit(4096).toPandas()
    )
    sample = np.array([np.asarray(v, dtype="float64") for v in sample_pdf["embedding"]])
    cent = _train_centroids(sample, n_clusters, SEED)

    # assignment matmul + norm HOFs run at the corpus's split count
    corpus = widen_if_narrow_scan(corpus)
    c = ivf_assign(
        corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"),
                      _norm(F.col("embedding")).alias("c_nrm")),
        cent, "c_emb",
    )
    q = _probe_clusters(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
                       _norm(F.col("embedding")).alias("q_nrm")),
        cent, nprobe, "q_emb",
    ).select("query_id", "q_emb", "q_nrm", "cluster")
    cand = c.join(F.broadcast(q), "cluster").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = _cosine(F.col("q_emb"), F.col("c_emb"), F.col("q_nrm"), F.col("c_nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


NEAR_DUP_MAX_BUCKET = 2000
#: the near-dup LSH scheme; the streaming filter pins it to its index
NEAR_DUP_LSH = {"n_planes": 10, "n_tables": 4, "seed": SEED}


def _near_dup_table(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(id, emb, nrm, table, bucket) rows over the ``NEAR_DUP_LSH``
    tables.  Skew guard: a bucket larger than ``NEAR_DUP_MAX_BUCKET``
    is dropped from its table (its pairs are still found by any table
    where they land in a smaller bucket), so one boilerplate-dense
    bucket cannot go quadratic."""
    base = widen_if_narrow_scan(df).select(
        F.col(id_col).alias("id"), F.col(emb_col).alias("emb"),
        _norm(F.col(emb_col)).alias("nrm"))
    lsh = NEAR_DUP_LSH
    tables = None
    for t in range(lsh["n_tables"]):
        bt = lsh_bucket(base, dim, lsh["n_planes"], lsh["seed"] + t, "emb").select(
            "id", "emb", "nrm", F.lit(t).alias("table"), "bucket"
        )
        tables = bt if tables is None else tables.unionByName(bt)
    w = Window.partitionBy("table", "bucket")
    return (
        tables.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= NEAR_DUP_MAX_BUCKET)
        .drop("_bsz")
    )


def _near_dup_pairs(
    left: DataFrame, right: DataFrame, threshold: float, ordered: bool
) -> DataFrame:
    """The near-dup verdict over two bucket tables: rows sharing a
    (table, bucket), ``id_a < id_b`` when ``ordered``, one cosine per
    distinct id pair, kept when its 6-dp cosine reaches ``threshold``.
    Output: (id_a, id_b, cosine)."""
    def side(bt, s):
        return bt.select(
            "table", "bucket", F.col("id").alias(f"id_{s}"),
            F.col("emb").alias(f"emb_{s}"), F.col("nrm").alias(f"nrm_{s}"),
        )

    pairs = side(left, "a").join(side(right, "b"), ["table", "bucket"])
    if ordered:
        pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    cos = _cosine(F.col("emb_a"), F.col("emb_b"), F.col("nrm_a"), F.col("nrm_b"))
    return (
        pairs.dropDuplicates(["id_a", "id_b"])
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold): candidates from
    4 LSH tables of 10 planes, each capped at ``NEAR_DUP_MAX_BUCKET``
    rows per bucket (:func:`_near_dup_table`), exact cosine verify,
    ``id_a < id_b``.  A true pair only needs to share a bucket in ≥1
    table.
    """
    tables = _near_dup_table(df, dim)
    return _near_dup_pairs(tables, tables, threshold, ordered=True)


# ---------------------------------------------------------------------------
# distributed k-means (topic clustering for corpus curation)

KMEANS_QUANT = float(1 << 20)


def kmeans_init_centroids(
    sample: np.ndarray, k: int, seed: int
) -> np.ndarray:
    """Deterministic init: seeded no-replacement choice from the sample
    (rows sorted by id upstream), unit-normalized."""
    rng = np.random.RandomState(seed)
    idx = np.sort(rng.choice(len(sample), size=min(k, len(sample)), replace=False))
    cent = sample[idx].astype("float64")
    n = np.linalg.norm(cent, axis=1, keepdims=True)
    return cent / np.where(n > 0, n, 1.0)


def kmeans_clusters(
    df: DataFrame,
    k: int = 10,
    iters: int = 4,
    seed: int = SEED,
) -> DataFrame:
    """Full-corpus distributed Lloyd k-means (spherical: cosine
    assignment, unit-normalized centroids) → ``(id, cluster)``.

    Unlike the IVF trainer (bounded driver sample), every iteration
    scans the whole corpus: assignment is the broadcast-centroid Arrow
    UDF (:func:`ivf_assign` — narrow, one matmul per batch), and the
    centroid update is a **fixed-point integer aggregation**:
    components are scaled by 2^20 and rounded half-away-from-zero to
    longs, then summed with ``posexplode → groupBy(cluster, pos)`` —
    integer sums are order-independent, so the result is bit-identical
    under ANY partitioning / AQE re-plan (a float sum would drift with
    summation order and make cluster boundaries nondeterministic).
    Per iteration: one narrow pass + one partial-aggregated shuffle of
    k×dim×partitions rows; the k×dim sum table is collected to the
    driver (tiny) for the next broadcast.  Empty clusters keep their
    previous centroid.

    Deterministic end-to-end: init from the 1024 smallest ids
    (seeded choice), float64 centroid math on the driver, argmax ties
    to the lowest cluster — an independent numpy implementation over
    the same rows reproduces the assignment exactly (the stored-golden
    oracle does).
    """
    sample_rows = (
        df.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(1024)
        .collect()
    )
    sample = np.array([r[1] for r in sample_rows], dtype="float64")
    cent = kmeans_init_centroids(sample, k, seed)
    # every Lloyd pass re-reads this: spread a small-split scan so the
    # assignment matmul uses the whole cluster (no-op when well-split)
    base = widen_if_narrow_scan(df.select("vec_id", "embedding"))
    for _ in range(iters):
        assigned = ivf_assign(base, cent)
        q = assigned.select(
            "cluster", F.posexplode("embedding").alias("pos", "v")
        ).select(
            "cluster",
            "pos",
            F.round(F.col("v").cast("double") * F.lit(KMEANS_QUANT))
            .cast("long")
            .alias("qv"),
        )
        sums = (
            q.groupBy("cluster", "pos")
            .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = cent.copy()
        acc = {}
        for r in sums:
            acc.setdefault(r["cluster"], [np.zeros(cent.shape[1]), 0])
            acc[r["cluster"]][0][r["pos"]] = r["s"]
            acc[r["cluster"]][1] = r["n"]
        for c, (svec, n) in acc.items():
            if n:
                m = (svec / KMEANS_QUANT) / n
                nn = np.linalg.norm(m)
                if nn > 0:
                    new[c] = m / nn
        cent = new
    return ivf_assign(base, cent).select(
        F.col("vec_id"), F.col("cluster").cast("int").alias("cluster")
    )


def semdedup(
    df: DataFrame,
    k: int = 10,
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): spherical
    k-means over the embedding space (:func:`kmeans_clusters`,
    deterministic fixed-point trainer), then within-cluster cosine
    pruning — a document is dropped iff a LOWER-id document in the SAME
    cluster has cosine ≥ ``threshold`` (deterministic lower-id-wins
    keeper instead of the paper's random representative).  Output:
    ``(id, cluster, keep)`` for every input row.

    Scale shape: clustering is what makes the quadratic tractable —
    pairs are only compared inside a cluster, so with k ≈ √N the
    expected per-cluster work is O(N) total (the paper's design point);
    the pair join shuffles both sides once on the cluster key, and the
    per-row norm is computed once per side, never per pair.  The dup
    id-set is a distinct projection (map-side combined), and the final
    flag attach is a broadcast-able left join against that small set.
    """
    clusters = kmeans_clusters(
        df, k=k
    )
    # (id, cluster) is output-sized and narrow; materialize it once so
    # the two pair sides + the final flag join don't each re-run the
    # full-corpus centroid-assignment matmul
    clusters = clusters.localCheckpoint(eager=True)
    withc = df.select("vec_id", "embedding").join(clusters, "vec_id")
    a = withc.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_ea"),
        _norm(F.col("embedding")).alias("_na"),
    )
    b = withc.select(
        F.col("cluster").alias("_cb"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_eb"),
        _norm(F.col("embedding")).alias("_nb"),
    )
    cos = _cosine(F.col("_ea"), F.col("_eb"), F.col("_na"), F.col("_nb"))
    dups = (
        a.join(
            b,
            (F.col("cluster") == F.col("_cb")) & (F.col("id_a") < F.col("id_b")),
        )
        .filter(cos >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return clusters.join(dups, "vec_id", "left_outer").select(
        "vec_id",
        "cluster",
        F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
    )


def ivf_join_topk(
    df: DataFrame,
    dim: int,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate all-pairs kNN *join*: top-``k`` cosine neighbors for
    EVERY corpus row, large-to-large (neither side broadcast — the
    similarity-join shape a 100 TB corpus needs, vs
    :func:`ivf_cosine_topk` whose probe side is a small broadcast query
    set).

    Both sides share one IVF structure: every row lands in one inverted
    list (:func:`ivf_assign`), and every row additionally probes its
    ``nprobe`` nearest lists (:func:`_probe_clusters`).  The candidate
    generation is then a plain shuffle hash join on ``cluster`` — C
    keys, each list ≈ N/C rows, so per-cluster work is
    (N/C)·(nprobe·N/C) and total work ≈ nprobe·N²/C: choose
    C ≈ sqrt(N·nprobe) and the join stays near-linear per partition
    while the shuffle distributes lists across executors.  Cluster
    balance is the skew story: dead/dense centroids are re-seeded at
    train time, and the list-size distribution is testable via
    ``groupBy("cluster").count()``.

    Deterministic end-to-end (seeded centroids on an ordered bounded
    sample, stable probe order, rank ties broken by ``neighbor_id``) —
    reproducible on any partitioning, which is what lets a stored
    independent golden gate it.
    """
    cand = _ivf_join_candidates(df, n_clusters, nprobe)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _ivf_join_candidates(
    df: DataFrame, n_clusters: int, nprobe: int, carry: tuple = ()
) -> DataFrame:
    """Shared candidate stage of the large-to-large IVF joins: train
    centroids on a bounded ordered sample (the 4096 smallest ids),
    assign + probe both sides,
    shuffle-hash-join on cluster, score exact cosine.  ``carry`` columns
    ride along both sides as ``q_<col>`` / ``c_<col>`` (how
    :func:`hard_negatives` gets labels onto the pair)."""
    sample_pdf = (
        df.select("vec_id", "embedding").orderBy("vec_id").limit(4096).toPandas()
    )
    sample = np.array([np.asarray(v, dtype="float64") for v in sample_pdf["embedding"]])
    cent = _train_centroids(sample, n_clusters, SEED)

    # both sides' matmuls + norm HOFs run at the input's split count
    df = widen_if_narrow_scan(df)
    c = ivf_assign(
        df.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
            _norm(F.col("embedding")).alias("c_nrm"),
            *[F.col(x).alias(f"c_{x}") for x in carry],
        ),
        cent, "c_emb",
    )
    q = _probe_clusters(
        df.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_nrm"),
            *[F.col(x).alias(f"q_{x}") for x in carry],
        ),
        cent, nprobe, "q_emb",
    ).select(
        "query_id", "q_emb", "q_nrm",
        *[f"q_{x}" for x in carry], "cluster",
    )
    cand = c.join(q, "cluster").filter(F.col("neighbor_id") != F.col("query_id"))
    cos = _cosine(F.col("q_emb"), F.col("c_emb"), F.col("q_nrm"), F.col("c_nrm"))
    return cand.withColumn("cosine", F.round(cos, 6))


def hard_negatives(
    df: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 2,
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    every row, the ``k`` most cosine-similar rows whose ``label_col``
    DIFFERS — the near-but-wrong pairs that contrastive losses
    (SimCLR/InfoNCE-style) and reranker training feed on.  At corpus
    scale this is the standard "mine negatives from an ANN index" step
    (e.g. DPR, Karpukhin et al. 2020 §4.2), expressed as the same
    shared-IVF large-to-large join as :func:`ivf_join_topk` — labels
    ride the candidate pair and the mismatch filter runs BEFORE the
    top-k window, so matching-label candidates never consume rank
    slots.  Same scale/determinism contract as the kNN join (one
    cluster-keyed shuffle join, C ≈ √(N·nprobe), rank ties to the
    lowest neighbor_id).
    """
    cand = _ivf_join_candidates(df, n_clusters, nprobe, carry=(label_col,))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.filter(F.col(f"c_{label_col}") != F.col(f"q_{label_col}"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(f"q_{label_col}").cast("int").alias("query_label"),
            "neighbor_id",
            F.col(f"c_{label_col}").cast("int").alias("neighbor_label"),
            "cosine",
            "rank",
        )
    )


def bitext_margin_mine(
    df: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    n_clusters: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    CCMatrix/LASER parallel-corpus miner): for every document, its best
    other-language match scored by the RATIO margin
    ``cos(x,y) / ((avg_k cos(x, NN_k(x)) + avg_k cos(y, NN_k(y))) / 2)``
    — the margin normalizes away "hubs" (documents that are near
    everything), which plain cosine thresholds cannot.

    Composition: the cross-language kNN is exactly
    :func:`hard_negatives` with ``lang`` as the label (same shared-IVF
    cluster-keyed shuffle join, C ≈ √(N·nprobe) — the 100 TB join
    shape; both mining directions come out of the ONE join because
    every row is a query).  Per-row denominators are one map-side
    combined groupBy over the k·N candidate rows; margins then need
    only two hash joins of that skinny table back onto the pairs.

    Determinism contract (what lets a stored independent golden gate
    it): cosines are HALF_UP-rounded to 6 dp by the join, so
    ``ci = round(cos·10⁶)`` is an exact integer; with ``D = Σ ci`` and
    ``κ = |NN|`` per row, ``margin = 2·ci·κ_x·κ_y / (D_x·κ_y + D_y·κ_x)``
    is ONE IEEE division of exact integers — bit-identical on any
    engine/partitioning — then HALF_UP-rounded to 6 dp.  Best match per
    query breaks margin ties on the lowest neighbor id; ``mutual``
    marks pairs that are each other's best (the Artetxe & Schwenk
    "intersection" strategy) and is judged BEFORE the threshold filter.
    Rows whose neighbor earned zero candidates, or whose margin
    denominator is ≤ 0 (only happens on pathological negative-cosine
    neighborhoods), drop out.
    """
    knn = hard_negatives(
        df, k=k, n_clusters=n_clusters, nprobe=nprobe, label_col="lang",
    )
    scored = knn.select(
        "query_id", "query_label", "neighbor_id", "cosine",
        F.round(F.col("cosine") * 1e6, 0).cast("long").alias("ci"),
    )
    den = scored.groupBy("query_id").agg(
        F.sum("ci").alias("d"), F.count(F.lit(1)).alias("kk")
    )
    qd = den.select("query_id", F.col("d").alias("q_d"), F.col("kk").alias("q_k"))
    nd = den.select(
        F.col("query_id").alias("neighbor_id"),
        F.col("d").alias("n_d"),
        F.col("kk").alias("n_k"),
    )
    denom = F.col("q_d") * F.col("n_k") + F.col("n_d") * F.col("q_k")
    pairs = (
        scored.join(qd, "query_id")
        .join(nd, "neighbor_id")
        .filter(denom > 0)
        .withColumn(
            "margin",
            F.round((2 * F.col("ci") * F.col("q_k") * F.col("n_k")) / denom, 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("margin").desc(), F.col("neighbor_id")
    )
    best = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    rev = best.select(
        F.col("query_id").alias("_ry"), F.col("neighbor_id").alias("_rx")
    )
    out = (
        best.join(
            rev,
            (best["query_id"] == rev["_rx"])
            & (best["neighbor_id"] == rev["_ry"]),
            "left",
        )
        .withColumn("mutual", F.col("_ry").isNotNull())
        .drop("_rx", "_ry")
    )
    return out.filter(F.col("margin") >= threshold).select(
        F.col("query_id").alias("src_id"),
        F.col("query_label").cast("int").alias("src_lang"),
        F.col("neighbor_id").alias("tgt_id"),
        "cosine",
        "margin",
        "mutual",
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") — the 100 TB embedding-search memory story:
# a dim-d float32 vector (4·d bytes) compresses to m uint8 codes, and
# the ADC scan reads ONLY the narrow code column (m bytes/vector, e.g.
# 256 B → 8 B at dim=64, m=8).  The corpus never shuffles; queries ride
# as a broadcast distance look-up table.


def _round6_half_up(x: np.ndarray) -> np.ndarray:
    """Spark ROUND(x, 6) (HALF_UP) for non-negative doubles — np.round
    is banker's rounding and would disagree with any F.round-computed
    oracle on exact .5 boundaries."""
    return np.floor(x * 1e6 + 0.5) / 1e6


def pq_train(
    df: DataFrame,
    m: int = 8,
    k_sub: int = 16,
) -> np.ndarray:
    """Train an ``(m, k_sub, dim/m)`` product-quantization codebook on a
    bounded driver-side sample (the standard PQ recipe — training data
    never exceeds 1024 rows regardless of corpus size, exactly the
    IVF ``_train_centroids`` justification).

    Deterministic spec (replicated by the stored-golden oracle):
    sample = the 1024 smallest ids in id order, float64;
    per subspace ``j``: seeded init ``RandomState(SEED + j)`` choice of
    ``k_sub`` distinct sample rows in sorted index order, then plain-L2
    Lloyd with squared distances computed as ``x²+c²−2x·c`` (the exact
    formula matters: argmin near-ties must break identically in any
    replication), argmin ties to the lowest centroid id, empty clusters
    re-seeded from ``rng.randint``.
    """
    sample_rows = (
        df.select("vec_id", "embedding").orderBy("vec_id").limit(1024).collect()
    )
    sample = np.array([r[1] for r in sample_rows], dtype="float64")
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.empty((m, k_sub, dsub), dtype="float64")
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        rng = np.random.RandomState(SEED + j)
        idx = rng.choice(len(sub), size=min(k_sub, len(sub)), replace=False)
        cent = sub[np.sort(idx)].copy()
        for _ in range(10):
            d2 = (
                (sub * sub).sum(axis=1, keepdims=True)
                + (cent * cent).sum(axis=1)
                - 2.0 * (sub @ cent.T)
            )
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
                else:
                    cent[c] = sub[rng.randint(len(sub))]
        books[j] = cent
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
) -> DataFrame:
    """Attach the ``m`` nearest-sub-centroid codes per row.

    The codebook rides as a Spark broadcast variable into an
    Arrow-batched pandas UDF (one ``x²+c²−2x·c`` matmul per subspace
    per batch) — narrow, no shuffle, plan size O(1) in m·k_sub.
    """
    books = np.asarray(codebooks, dtype="float64")
    m, _, dsub = books.shape
    bbooks = df.sparkSession.sparkContext.broadcast(books)

    @pandas_udf("array<int>")
    def _enc(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype=object)
        X = _embs_matrix(embs.to_numpy())
        cb = bbooks.value
        codes = np.empty((len(X), m), dtype="int32")
        for j in range(m):
            sub = X[:, j * dsub : (j + 1) * dsub]
            cent = cb[j]
            d2 = (
                (sub * sub).sum(axis=1, keepdims=True)
                + (cent * cent).sum(axis=1)
                - 2.0 * (sub @ cent.T)
            )
            codes[:, j] = d2.argmin(axis=1).astype("int32")
        return pd.Series(list(codes))

    return df.withColumn("codes", _enc(F.col("embedding")))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC):
    corpus rows are scanned as PQ codes only; per query a distance
    look-up table ``LUT[j, c] = ||q_sub_j − codebook[j, c]||²`` is
    broadcast, and each candidate's distance is ``Σ_j LUT[j, code_j]``
    — one table take per subspace, no float recomputation per pair.

    Queries are the bounded side by contract (same role as the
    ``F.broadcast(q)`` side of :func:`cosine_topk`): collected once on
    the driver to build the LUT tensor, Q·m·k_sub doubles.  The corpus
    side is a narrow mapInPandas emitting at most Q·k rows per
    partition — the per-partition top-k uses the SAME total order as
    the final window (rounded distance, then neighbor id), so the merge
    is exact under any partitioning.

    Output: ``(query_id, neighbor_id, adc_dist, rank)``; self-matches
    excluded; ``adc_dist`` rounded HALF_UP to 6 decimals.
    """
    books = np.asarray(codebooks, dtype="float64")
    m, k_sub, dsub = books.shape
    qrows = queries.select("vec_id", "embedding").orderBy("vec_id").collect()
    q_ids = np.array([r[0] for r in qrows], dtype="int64")
    Q = np.array([np.asarray(r[1], dtype="float64") for r in qrows])
    lut = np.empty((len(q_ids), m, k_sub), dtype="float64")
    for j in range(m):
        qs = Q[:, j * dsub : (j + 1) * dsub]
        cent = books[j]
        lut[:, j, :] = (
            (qs * qs).sum(axis=1, keepdims=True)
            + (cent * cent).sum(axis=1)
            - 2.0 * (qs @ cent.T)
        )
    sess = corpus.sparkSession
    blut = sess.sparkContext.broadcast((q_ids, lut))

    encoded = pq_encode(
        widen_if_narrow_scan(corpus), books
    ).select(F.col("vec_id").alias("neighbor_id"), "codes")

    def _scan(batches):
        ids_b, lut_b = blut.value
        for pdf in batches:
            if not len(pdf):
                continue
            nid = pdf["neighbor_id"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy()).astype("int64")
            # (Q, n): accumulate subspace look-ups in fixed j order
            d = np.zeros((len(ids_b), len(nid)), dtype="float64")
            for j in range(lut_b.shape[1]):
                d += lut_b[:, j, :][:, codes[:, j]]
            d = _round6_half_up(np.maximum(d, 0.0))
            out = []
            for qi, qid in enumerate(ids_b):
                keep = nid != qid
                cand_n, cand_d = nid[keep], d[qi][keep]
                order = np.lexsort((cand_n, cand_d))[:k]
                for o in order:
                    out.append((int(qid), int(cand_n[o]), float(cand_d[o])))
            if out:
                yield pd.DataFrame(
                    out, columns=["query_id", "neighbor_id", "adc_dist"]
                )

    part = encoded.mapInPandas(
        _scan, "query_id long, neighbor_id long, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def _lloyd_l2(X: np.ndarray, k: int, seed: int, iters: int) -> np.ndarray:
    """Deterministic plain-L2 Lloyd on driver-side float64 rows — the
    shared trainer for PQ sub-codebooks and the IVFADC coarse
    quantizer.  Spec (replicated by the stored-golden oracles): seeded
    init = ``RandomState(seed)`` choice of ``k`` distinct rows taken in
    sorted index order; squared distances as ``x²+c²−2x·c`` (the exact
    formula matters: near-tie argmins must break identically in any
    replication); argmin ties to the lowest centroid id; empty clusters
    re-seeded from ``rng.randint``."""
    rng = np.random.RandomState(seed)
    idx = rng.choice(len(X), size=min(k, len(X)), replace=False)
    cent = X[np.sort(idx)].copy()
    for _ in range(iters):
        d2 = (
            (X * X).sum(axis=1, keepdims=True)
            + (cent * cent).sum(axis=1)
            - 2.0 * (X @ cent.T)
        )
        assign = d2.argmin(axis=1)
        for c in range(len(cent)):
            members = X[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
            else:
                cent[c] = X[rng.randint(len(X))]
    return cent


def _l2_argmin(X: np.ndarray, cent: np.ndarray) -> np.ndarray:
    d2 = (
        (X * X).sum(axis=1, keepdims=True)
        + (cent * cent).sum(axis=1)
        - 2.0 * (X @ cent.T)
    )
    return d2.argmin(axis=1)


def ivfpq_train(
    df: DataFrame,
    n_clusters: int = 8,
    m: int = 8,
    k_sub: int = 16,
) -> tuple:
    """IVFADC training (Jégou et al. 2011 §IV): a coarse L2 quantizer
    over full vectors plus product-quantization codebooks over the
    RESIDUALS ``x − c(x)`` — residual energy is much smaller than
    vector energy, so the same code budget quantizes far finer than
    raw-vector PQ.  Bounded driver-side sample, like every trainer
    here.  Returns ``(coarse (C, dim), books (m, k_sub, dim/m))``."""
    sample_rows = (
        df.select("vec_id", "embedding").orderBy("vec_id").limit(1024).collect()
    )
    sample = np.array([r[1] for r in sample_rows], dtype="float64")
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    coarse = _lloyd_l2(sample, n_clusters, SEED, 10)
    resid = sample - coarse[_l2_argmin(sample, coarse)]
    books = np.empty((m, k_sub, dsub), dtype="float64")
    for j in range(m):
        books[j] = _lloyd_l2(resid[:, j * dsub : (j + 1) * dsub], k_sub, SEED + 1 + j, 10)
    return coarse, books


def ivfpq_encode(
    df: DataFrame,
    coarse: np.ndarray,
    books: np.ndarray,
) -> DataFrame:
    """One narrow Arrow pass: coarse-assign each row (L2, ties low),
    PQ-encode its residual.  Output ``(vec_id, cluster, codes)`` — the
    inverted-file-with-codes table a 100 TB deployment persists: m
    bytes of code + 4 of cluster per vector, partitionable BY cluster
    so a probe reads only its lists."""
    books = np.asarray(books, dtype="float64")
    coarse = np.asarray(coarse, dtype="float64")
    m, _, dsub = books.shape
    b = df.sparkSession.sparkContext.broadcast((coarse, books))

    def _scan(batches):
        co, cb = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = _embs_matrix(pdf["embedding"].to_numpy())
            cl = _l2_argmin(X, co)
            R = X - co[cl]
            codes = np.empty((len(X), m), dtype="int32")
            for j in range(m):
                codes[:, j] = _l2_argmin(R[:, j * dsub : (j + 1) * dsub], cb[j]).astype("int32")
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster": cl.astype("int32"),
                    "codes": list(codes),
                }
            )

    return df.mapInPandas(_scan, "vec_id long, cluster int, codes array<int>")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 8,
    nprobe: int = 4,
    m: int = 8,
    k_sub: int = 16,
) -> DataFrame:
    """IVFADC search: probe the ``nprobe`` nearest coarse cells per
    query, ADC-scan ONLY rows in probed cells with a per-(query, cell)
    residual look-up table.  The full production ANN shape — coarse
    pruning cuts the scan to ``nprobe/C`` of the corpus, PQ codes cut
    bytes-per-row by ~4·dim/m — composed from the same broadcast-LUT /
    merge-exact-partial-top-k machinery as :func:`pq_topk`.

    Queries are the bounded side by contract (collected to build the
    Q·nprobe LUTs).  Output ``(query_id, neighbor_id, adc_dist, rank)``
    with HALF_UP 6-decimal rounding; self-matches excluded.
    """
    coarse, books = ivfpq_train(corpus, n_clusters=n_clusters, m=m, k_sub=k_sub)
    mm, ksub, dsub = books.shape
    qrows = queries.select("vec_id", "embedding").orderBy("vec_id").collect()
    q_ids = np.array([r[0] for r in qrows], dtype="int64")
    Q = np.array([np.asarray(r[1], dtype="float64") for r in qrows])
    # deterministic probe order: stable argsort on (d2, cluster id)
    qd2 = (
        (Q * Q).sum(axis=1, keepdims=True)
        + (coarse * coarse).sum(axis=1)
        - 2.0 * (Q @ coarse.T)
    )
    probes = np.argsort(qd2, axis=1, kind="stable")[:, :nprobe]
    # LUT[qi][ci] = (m, k_sub) residual table for probed cell ci
    luts = {}
    for qi in range(len(q_ids)):
        for c in probes[qi]:
            r = Q[qi] - coarse[c]
            t = np.empty((mm, ksub), dtype="float64")
            for j in range(mm):
                rs = r[j * dsub : (j + 1) * dsub]
                cent = books[j]
                t[j] = (rs * rs).sum() + (cent * cent).sum(axis=1) - 2.0 * (cent @ rs)
            luts[(qi, int(c))] = t
    sess = corpus.sparkSession
    bl = sess.sparkContext.broadcast((q_ids, probes, luts))

    encoded = ivfpq_encode(widen_if_narrow_scan(corpus), coarse, books)
    # JVM-side cell pruning BEFORE the Arrow scan: only rows in some
    # query's probed cells can contribute, so unprobed clusters are
    # dropped by a codegen filter (and, on an encoded table persisted
    # partitionBy("cluster"), by partition pruning — the "a probe reads
    # only its lists" property, enforced in the plan rather than by
    # python-side skipping)
    probed_cells = sorted({int(c) for row in probes for c in row})
    encoded = encoded.select(
        F.col("vec_id").alias("neighbor_id"), "cluster", "codes"
    ).filter(F.col("cluster").isin(probed_cells))

    def _scan(batches):
        ids_b, probes_b, luts_b = bl.value
        for pdf in batches:
            if not len(pdf):
                continue
            nid = pdf["neighbor_id"].to_numpy()
            cl = pdf["cluster"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy()).astype("int64")
            out = []
            for qi, qid in enumerate(ids_b):
                cand_n, cand_d = [], []
                for c in probes_b[qi]:
                    sel = np.where((cl == c) & (nid != qid))[0]
                    if not len(sel):
                        continue
                    lut = luts_b[(qi, int(c))]
                    d = np.zeros(len(sel), dtype="float64")
                    sub = codes[sel]
                    for j in range(lut.shape[0]):
                        d += lut[j][sub[:, j]]
                    cand_n.append(nid[sel])
                    cand_d.append(d)
                if not cand_n:
                    continue
                cand_n = np.concatenate(cand_n)
                cand_d = _round6_half_up(np.maximum(np.concatenate(cand_d), 0.0))
                order = np.lexsort((cand_n, cand_d))[:k]
                for o in order:
                    out.append((int(qid), int(cand_n[o]), float(cand_d[o])))
            if out:
                yield pd.DataFrame(
                    out, columns=["query_id", "neighbor_id", "adc_dist"]
                )

    part = encoded.mapInPandas(
        _scan, "query_id long, neighbor_id long, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def quantize_int8(
    df: DataFrame,
) -> DataFrame:
    """Symmetric per-vector max-abs int8 quantization — the cheapest
    embedding-compression tier (4·dim bytes → dim bytes, no training,
    exact-ish dot products): ``scale = max(|x|)/127``, ``code_i =
    round(x_i / scale)`` (HALF_UP, matching both Spark and DuckDB
    double rounding), ``x̂_i = code_i · scale``.

    Everything is JVM higher-order functions over the array column —
    zero shuffle, zero Python, whole-stage-codegen friendly: the shape
    that survives a 100 TB scan.  An all-zero vector quantizes to
    all-zero codes with ``scale = 0``.

    Output: ``(<id>, scale, codes array<int>, recon_err)`` where
    ``recon_err`` is the L2 reconstruction error ``‖x − x̂‖₂`` (the
    number a deployment monitors to pick its quantization tier).
    ``scale``/``recon_err`` are raw doubles — bit-identical across
    engines because every step is IEEE-deterministic on the same
    inputs (the driver oracle compares them in floor fixed-point,
    which never straddles a decimal-rounding tie).
    """
    xs = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    maxabs = F.aggregate(xs, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v)))
    out = df.select(F.col("vec_id"), xs.alias("_xs"), maxabs.alias("_maxabs"))
    scale = F.col("_maxabs") / F.lit(127.0)
    codes = F.when(
        F.col("_maxabs") == 0.0,
        F.transform(F.col("_xs"), lambda v: F.lit(0)),
    ).otherwise(
        F.transform(F.col("_xs"), lambda v: F.round(v / scale).cast("int"))
    )
    out = out.withColumn("scale", scale).withColumn("codes", codes)
    err = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("_xs"),
                F.col("codes"),
                lambda v, c: (v - c.cast("double") * F.col("scale"))
                * (v - c.cast("double") * F.col("scale")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return out.select("vec_id", "scale", "codes", err.alias("recon_err"))


# ---------------------------------------------------------------------------
# distributed PCA (one-pass covariance, broadcast projection)

# finer than KMEANS_QUANT: covariance second moments are O(0.25) per
# row for unit-norm embeddings, so 2^24 keeps ~7 significant digits per
# contribution while the int64 accumulator still holds ~2e12 rows
# (n_rows * 2^24 * 0.25 < 2^63)
PCA_QUANT = float(1 << 24)
# rows per in-UDF chunk: bounds the chunk x dim x dim outer-product
# tensor (512 x 64 x 64 x 8 B ~ 17 MB) regardless of Arrow batch size
_PCA_CHUNK = 512


def _pca_partial(M: np.ndarray) -> np.ndarray:
    """Fixed-point moment partial over a chunk of rows: flat int64
    vector ``[vec(Σ rint(x·xᵀ·Q)), Σ rint(x·Q), n]``.  Per-ROW
    contributions are quantized before the integer sum, so any chunking
    or partitioning sums to the same total (the k-means/classifier
    determinism contract)."""
    n = len(M)
    outer = (
        np.rint(np.einsum("ni,nj->nij", M, M) * PCA_QUANT)
        .astype(np.int64)
        .sum(axis=0)
    )
    s1 = np.rint(M * PCA_QUANT).astype(np.int64).sum(axis=0)
    return np.concatenate([outer.ravel(), s1, np.array([n], dtype=np.int64)])


def numpy_pca_from_moments(
    outer: np.ndarray, s1: np.ndarray, n: int, n_components: int
):
    """mean + sign-fixed principal components from the fixed-point
    moment sums (driver-side float64 math).  tools/make_goldens.py's
    make_pca deliberately does NOT import this — it re-implements the
    published spec (quantization scale, n-1 covariance, eigh ordering,
    sign convention) as an independent party, so a drift in either
    implementation fails the stored-golden gate instead of hiding."""
    S2 = outer.astype(np.float64) / PCA_QUANT
    S1 = s1.astype(np.float64) / PCA_QUANT
    mean = S1 / n
    cov = (S2 - np.outer(S1, S1) / n) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    comps = vecs[:, ::-1][:, :n_components].T.copy()
    evr = vals[::-1][:n_components] / vals.sum()
    # deterministic sign: the largest-|entry| coordinate (first on
    # ties) is made positive — eigenvectors are only defined up to sign
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, evr


def pca_fit(
    df: DataFrame,
    n_components: int = 4,
):
    """Fit PCA over the corpus in ONE distributed pass → ``(mean,
    components, explained_variance_ratio)``.

    The LLM-data shape: dimensionality reduction before clustering /
    visualization / cheap near-dup, and the Matryoshka-style truncated
    representation.  Scale: each Arrow batch emits one flat int64
    moment row (``dim² + dim + 1`` longs — dim=64 → 4161), reduced by
    ``posexplode → groupBy(pos).sum`` with map-side combine, so the
    shuffle is ``partitions × (dim²+dim+1)`` rows and the driver holds
    one dim×dim matrix; the eigendecomposition is driver-side float64
    on that dim×dim covariance (O(dim³), corpus-independent).

    Determinism: per-row fixed-point quantization before the integer
    sum (order-independent under any partitioning/AQE), zero-seed-free
    driver eigh, and a sign convention (largest-|entry| coordinate
    positive) — an independent numpy replication over the same rows
    reproduces components and projections bit-for-bit.
    """
    base = widen_if_narrow_scan(
        df.select("embedding").filter(F.col("embedding").isNotNull())
    )
    first = base.first()
    if first is None:
        raise ValueError("pca_fit: no rows with a non-null embedding")
    dim = len(first[0])
    width = dim * dim + dim + 1

    def _partials(batches):
        for pdf in batches:
            out = []
            for lo in range(0, len(pdf), _PCA_CHUNK):
                M = _embs_matrix(pdf["embedding"].iloc[lo : lo + _PCA_CHUNK].to_numpy())
                out.append(_pca_partial(M))
            if out:
                yield pd.DataFrame({"g": [np.sum(out, axis=0).tolist()]})

    sums = (
        base.mapInPandas(_partials, schema="g array<long>")
        .select(F.posexplode("g").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"))
        .collect()
    )
    total = np.zeros(width, dtype=np.int64)
    for r in sums:
        total[r["pos"]] = r["s"]
    n = int(total[-1])
    if n < 2:
        raise ValueError(f"pca_fit: need >= 2 rows, saw {n}")
    outer = total[: dim * dim].reshape(dim, dim)
    s1 = total[dim * dim : dim * dim + dim]
    return numpy_pca_from_moments(outer, s1, n, n_components)


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
) -> DataFrame:
    """Project every row onto the fitted components → ``(id, pc
    array<double>)``.  mean/components ride as ONE broadcast variable
    into an Arrow-batched pandas UDF (one centered matmul per batch, no
    shuffle, plan O(1) in dim·k); null embeddings project to null."""
    bc = df.sparkSession.sparkContext.broadcast(
        (np.asarray(mean, dtype="float64"),
         np.asarray(components, dtype="float64"))
    )

    @pandas_udf("array<double>")
    def _proj(embs: pd.Series) -> pd.Series:
        out = [None] * len(embs)
        valid = embs.notna().to_numpy()
        if valid.any():
            mu, comps = bc.value
            M = _embs_matrix(embs[valid].to_numpy())
            T = (M - mu) @ comps.T
            # positional assembly — a masked Series assignment of
            # array-valued cells trips pandas putmask
            for j, i in enumerate(np.nonzero(valid)[0]):
                out[i] = T[j]
        return pd.Series(out, dtype="object")

    return df.select("vec_id", _proj(F.col("embedding")).alias("pc"))


def pca_reduce(
    df: DataFrame,
    n_components: int = 4,
) -> DataFrame:
    """Fit-then-project composition (the one-call reducer)."""
    mean, comps, _ = pca_fit(df, n_components)
    return pca_project(df, mean, comps)


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Semantic (embedding-space) benchmark decontamination — the
    cosine analog of ``docdedup.decontaminate``'s n-gram overlap: a
    corpus document is contaminated when ANY benchmark embedding's
    cosine reaches ``threshold`` (catches paraphrased leakage the
    n-gram pass misses; run both, union the verdicts).

    Output per corpus row: ``max_cosine`` (rounded 6), the
    ``nearest_bench_id`` achieving it (lowest id on rounded ties), and
    the ``contaminated`` verdict.  Zero-norm vectors score 0 exactly
    (never contaminated by fiat, same branch on any engine); an empty
    benchmark yields NULL max/nearest and contaminated = false.

    Scale shape: the benchmark side collapses to ONE broadcast row (an
    array of (id, vec, norm) structs — benchmarks are thousands of
    rows, not corpora), and each corpus row folds over it with an
    array HOF: zero shuffles, zero Python, corpus never moves.  At
    100 TB this runs at scan bandwidth like the quality gates; if the
    benchmark ever outgrows a broadcast, pre-bucket both sides with
    the LSH index (``lsh_topk``) and verify only candidates.
    """
    corpus = widen_if_narrow_scan(corpus)
    b = benchmark.select(
        F.col("vec_id").alias("bid"),
        F.col("embedding").alias("be"),
        _norm(F.col("embedding")).alias("bn"),
    )
    barr = b.agg(F.collect_list(F.struct("bid", "be", "bn")).alias("_barr"))
    c = corpus.select(
        F.col("vec_id"),
        F.col("embedding").alias("_ce"),
        _norm(F.col("embedding")).alias("_cn"),
    ).crossJoin(F.broadcast(barr))

    def score(bs):
        cos = F.coalesce(
            F.round(_cosine(F.col("_ce"), bs["be"], F.col("_cn"), bs["bn"]), 6),
            F.lit(0.0),
        )
        # (cos, -bid): array_max picks highest cosine, then LOWEST id
        return F.struct(cos.alias("cos"), (-bs["bid"]).alias("nbid"))

    best = F.array_max(F.transform(F.col("_barr"), score))
    return c.select(
        "vec_id",
        best["cos"].alias("max_cosine"),
        (-best["nbid"]).alias("nearest_bench_id"),
        F.coalesce(best["cos"] >= F.lit(threshold), F.lit(False)).alias(
            "contaminated"
        ),
    )
