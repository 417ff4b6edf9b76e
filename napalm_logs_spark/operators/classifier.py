"""Model-based quality / domain classification over an embedding table.

The LLM-training-data shape: FineWeb-Edu and DCLM gate web documents
with a small classifier over frozen embeddings; CCNet/DSIR steer a
corpus toward a target domain with cheap linear models.  This module
trains a **multinomial logistic regression** (softmax regression) with
full-batch gradient descent, distributed the way the k-means trainer is
(`operators/similarity.py:kmeans_clusters`): per-iteration work is one
narrow corpus pass plus one tiny aggregation, and all driver state is
O(k x dim).

Reference analog: napalm-logs has no model-based scoring path (its
closest is static profile matching, ``napalm_logs/server.py``); this
family belongs to the training-data addendum alongside dedup/ANN.

Scale shape (100 TB corpus, 1000 executors):
 - each GD iteration maps the corpus once (Arrow-batched pandas UDF,
   one ``batch @ W.T`` matmul per batch) and emits ONE partial-gradient
   row per Arrow batch — ``k*(dim+1)+1`` longs;
 - partials reduce via ``posexplode -> groupBy(pos).sum`` with map-side
   partial aggregation, so the shuffle is ``partitions x (k*(dim+1)+1)``
   rows and the driver collects exactly ``k*(dim+1)+1`` rows — both
   independent of corpus size;
 - the weight update is driver-side float64 on a k x (dim+1) matrix.

Determinism (the same contract as the k-means trainer): per-row
gradient contributions are quantized to fixed-point longs
(``rint(g * 2^20)``) BEFORE summation, so the aggregate is an integer
sum — order-independent, bit-identical under any partitioning, Arrow
batch size, or AQE re-plan.  A float sum would drift with summation
order and make the learned weights (and therefore every prediction)
nondeterministic.  An independent numpy implementation over the same
rows reproduces the predictions exactly (the stored-golden oracle
does).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .similarity import _embs_matrix
from .util import widen_if_narrow_scan

GRAD_QUANT = float(1 << 20)
# rows per in-UDF chunk: bounds the n x k x (dim+1) int64 outer-product
# tensor (4096 x 10 x 65 x 8 B ~ 21 MB) regardless of Arrow batch size
_CHUNK = 4096


def _softmax_rows(Xb: np.ndarray, W: np.ndarray) -> np.ndarray:
    """Row-wise softmax probabilities (float64, max-shifted)."""
    Z = Xb @ W.T
    Z = Z - Z.max(axis=1, keepdims=True)
    P = np.exp(Z)
    return P / P.sum(axis=1, keepdims=True)


def _grad_partial(
    M: np.ndarray, y: np.ndarray, W: np.ndarray
) -> np.ndarray:
    """Fixed-point partial gradient over a chunk of rows.

    Returns a flat int64 vector of length ``k*(dim+1) + 1``: the
    per-row-quantized gradient sums followed by the row count.  Row
    contributions are ``rint``-quantized individually, so any
    concatenation of chunk partials sums to the same total.
    """
    n = len(M)
    Xb = np.concatenate([M, np.ones((n, 1))], axis=1)
    R = _softmax_rows(Xb, W)
    R[np.arange(n), y] -= 1.0
    G = (
        np.rint(np.einsum("nk,nd->nkd", R, Xb) * GRAD_QUANT)
        .astype(np.int64)
        .sum(axis=0)
    )
    return np.concatenate([G.ravel(), np.array([n], dtype=np.int64)])


def softmax_train(
    df: DataFrame,
    k: int,
    iters: int = 20,
    lr: float = 5.0,
) -> np.ndarray:
    """Train softmax regression; returns the k x (dim+1) weight matrix
    (last column is the bias).  ``W`` starts at zeros, so the run is
    deterministic end-to-end with no seed.

    Each iteration: broadcast ``W``, one ``mapInPandas`` pass emitting a
    fixed-point partial-gradient row per Arrow batch, reduce with
    ``posexplode -> groupBy(pos).sum`` (map-side combined), collect the
    ``k*(dim+1)+1``-row total, update ``W`` on the driver in float64:
    ``W -= lr * G/(2^20 * n)``.
    """
    base = widen_if_narrow_scan(
        df.select("embedding", "label")
        .filter(F.col("embedding").isNotNull() & F.col("label").isNotNull())
    ).persist()
    try:
        first = base.select("embedding").first()
        if first is None:
            raise ValueError(
                "softmax_train: no trainable rows "
                "(empty input, or every embedding/label is null)"
            )
        dim = len(first[0])
        mn, mx = base.agg(F.min("label"), F.max("label")).first()
        if mn < 0 or mx >= k:
            raise ValueError(
                f"softmax_train: labels must lie in [0, {k}); "
                f"saw min={mn} max={mx} — a negative label would "
                "silently wrap in the gradient indexing"
            )
        W = np.zeros((k, dim + 1))
        sc = df.sparkSession.sparkContext
        width = k * (dim + 1) + 1
        for _ in range(iters):
            bw = sc.broadcast(W)

            def _partials(batches, _bw=bw):
                for pdf in batches:
                    out = []
                    for lo in range(0, len(pdf), _CHUNK):
                        chunk = pdf.iloc[lo : lo + _CHUNK]
                        M = _embs_matrix(chunk["embedding"].to_numpy())
                        y = chunk["label"].to_numpy().astype(np.int64)
                        out.append(_grad_partial(M, y, _bw.value))
                    if out:
                        yield pd.DataFrame(
                            {"g": [np.sum(out, axis=0).tolist()]}
                        )

            try:
                sums = (
                    base.mapInPandas(_partials, schema="g array<long>")
                    .select(F.posexplode("g").alias("pos", "v"))
                    .groupBy("pos")
                    .agg(F.sum("v").alias("s"))
                    .collect()
                )
            finally:
                bw.unpersist()
            total = np.zeros(width, dtype=np.int64)
            for r in sums:
                total[r["pos"]] = r["s"]
            n = int(total[-1])
            if n == 0:
                break
            G = total[:-1].reshape(k, dim + 1).astype(np.float64)
            W = W - lr * ((G / GRAD_QUANT) / n)
    finally:
        base.unpersist()
    return W


def softmax_predict(
    df: DataFrame,
    W: np.ndarray,
) -> DataFrame:
    """Score every row with the trained weights: ``argmax(Xb @ W.T)``,
    ties to the lowest class (numpy argmax takes the first max).  The
    weights ride as a Spark broadcast variable into an Arrow-batched
    pandas UDF — one matmul per batch, no shuffle, plan O(1) in k*dim.
    """
    bw = df.sparkSession.sparkContext.broadcast(
        np.asarray(W, dtype="float64")
    )

    @pandas_udf("int")
    def _pred(embs: pd.Series) -> pd.Series:
        out = pd.Series([pd.NA] * len(embs), dtype="Int32")
        # null embeddings score null — the trainer drops them, so the
        # scorer must tolerate them too (same corpus, composed op)
        valid = embs.notna()
        if valid.any():
            M = _embs_matrix(embs[valid].to_numpy())
            Xb = np.concatenate([M, np.ones((len(M), 1))], axis=1)
            out[valid.to_numpy()] = (
                (Xb @ bw.value.T).argmax(axis=1).astype("int32")
            )
        return out

    return df.withColumn("pred", _pred(F.col("embedding")))


def classifier_filter(
    df: DataFrame,
    k: int = 10,
    iters: int = 20,
    lr: float = 5.0,
) -> DataFrame:
    """Train-then-score composition -> ``(id, label, pred, correct)``.

    The FineWeb-Edu-style gate: a downstream pipeline keeps rows whose
    predicted class is in its allow-set; emitting the prediction (not
    the verdict) keeps the operator policy-free.
    """
    W = softmax_train(df, k=k, iters=iters, lr=lr)
    return softmax_predict(df, W).select(
        F.col("vec_id"),
        F.col("label").cast("int").alias("label"),
        F.col("pred"),
        (F.col("pred") == F.col("label")).cast("int").alias("correct"),
    )
