#!/usr/bin/env python
"""Generate the stored-golden oracle tables under ``testdata_goldens/``.

These parquet files back the ``oracle_sql()`` entries that are not
naturally expressible in DuckDB SQL.  Every golden is computed by an
INDEPENDENT implementation (plain python/numpy/pandas — no Spark, no
engine operators), so the driver's hash comparison remains a real
cross-check, not a tautology:

* ``golden_envelopes.parquet``  — read directly from the reference's
  own fixture corpus (``yang.json`` files): the expected envelope per
  golden case.  The engine never touches this path.
* ``a1_ttl_kept.parquet``       — anchored-TTL dedup kept-counts per
  event_type, computed by a sequential python scan over the events
  table (per scale factor, keyed by ``scale_rows``).
* ``near_dup_golden.parquet``   — embedding near-dup pairs computed in
  numpy following the operator's published spec (seeded hyperplanes,
  multi-table buckets, bucket cap, exact cosine, HALF_UP rounding).

Run from the repo root:  python tools/make_goldens.py
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "testdata_goldens")
GOLDEN_DIR = os.path.join(REPO, "tests", "fixtures", "golden")
TESTDATA = os.environ.get("NLS_TESTDATA_ROOT", "/root/testdata")
SFS = ("sf0.001", "sf0.01", "sf0.1")


def canonical_json(obj) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


# ---------------------------------------------------------------------------
# 1. golden envelopes (from the fixture corpus, not from the engine)


def make_golden_envelopes() -> pd.DataFrame:
    rows = []
    for os_name in sorted(os.listdir(GOLDEN_DIR)):
        os_dir = os.path.join(GOLDEN_DIR, os_name)
        if not os.path.isdir(os_dir):
            continue
        for error_name in sorted(os.listdir(os_dir)):
            err_dir = os.path.join(os_dir, error_name)
            if not os.path.isdir(err_dir):
                continue
            for case in sorted(os.listdir(err_dir)):
                yang_path = os.path.join(err_dir, case, "yang.json")
                if not os.path.isfile(yang_path):
                    continue
                with open(yang_path) as fh:
                    env = json.load(fh)
                rows.append(
                    {
                        "conv_id": f"{os_name}#{error_name}#{case}",
                        "os": env.get("os"),
                        "error": env.get("error"),
                        "host": env.get("host"),
                        "ip": env.get("ip"),
                        "facility": env.get("facility"),
                        "severity": env.get("severity"),
                        "yang_model": env.get("yang_model"),
                        "yang_message": canonical_json(env.get("yang_message")),
                        # timestamp intentionally omitted: year-less
                        # syslog dates make it unstable (the reference
                        # harness pops it too, tests/test_config.py:195-209)
                    }
                )
    pdf = pd.DataFrame(rows)
    for c in ("facility", "severity"):
        pdf[c] = pd.array(
            [None if v is None else int(v) for v in pdf[c]], dtype="Int64"
        )
    return pdf


# ---------------------------------------------------------------------------
# 2. anchored-TTL dedup kept-counts (sequential reference scan)


def make_a1_ttl(ttl: float = 300.0) -> pd.DataFrame:
    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "events.parquet")
        if not os.path.isfile(path):
            continue
        ev = pd.read_parquet(path, columns=["user_id", "event_type", "ts", "event_id"])
        scale_rows = len(ev)
        ev = ev.sort_values(["user_id", "event_type", "ts", "event_id"],
                            kind="mergesort")
        kept: dict = {}
        anchors: dict = {}
        for uid, etype, ts in zip(ev["user_id"], ev["event_type"], ev["ts"]):
            key = (uid, etype)
            tv = ts.timestamp()
            a = anchors.get(key)
            if a is None or tv - a >= ttl:
                anchors[key] = tv
                kept[etype] = kept.get(etype, 0) + 1
        frames.append(
            pd.DataFrame(
                {
                    "event_type": list(kept),
                    "n_kept": list(kept.values()),
                    "scale_rows": scale_rows,
                }
            )
        )
    out = pd.concat(frames, ignore_index=True)
    out["n_kept"] = out["n_kept"].astype("int64")
    out["scale_rows"] = out["scale_rows"].astype("int64")
    return out


# ---------------------------------------------------------------------------
# 3. embedding near-dup pairs (numpy re-implementation of the spec)


def _round_half_up(x: np.ndarray, nd: int = 6) -> np.ndarray:
    # Spark's F.round uses BigDecimal HALF_UP; python round() is
    # banker's — emulate HALF_UP for the positive cosines involved here
    return np.floor(x * 10**nd + 0.5) / 10**nd


def make_near_dup(
    dim: int = 64, threshold: float = 0.5, n_planes: int = 10,
    n_tables: int = 4, seed: int = 42, max_bucket: int = 2000,
) -> pd.DataFrame:
    frames = []
    powers = 1 << np.arange(n_planes, dtype=np.int64)
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path)
        scale_rows = len(emb)
        ids = emb["vec_id"].to_numpy()
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        cand: set = set()
        for t in range(n_tables):
            planes = np.random.RandomState(seed + t).normal(size=(n_planes, dim))
            buckets = ((M @ planes.T) > 0) @ powers
            by_bucket: dict = {}
            for i, b in enumerate(buckets):
                by_bucket.setdefault(b, []).append(i)
            for members in by_bucket.values():
                if len(members) > max_bucket:
                    continue
                for ai in range(len(members)):
                    for bi in range(ai + 1, len(members)):
                        x, y = members[ai], members[bi]
                        ia, ib = ids[x], ids[y]
                        cand.add((x, y) if ia < ib else (y, x))
        rows = []
        norms = np.linalg.norm(M, axis=1)
        for x, y in cand:
            c = float(M[x] @ M[y] / (norms[x] * norms[y]))
            cr = float(_round_half_up(np.array([c]))[0])
            if cr >= threshold:
                rows.append((int(ids[x]), int(ids[y]), cr))
        # sf0.001 and sf0.01 ship the SAME embedding row count (500) with
        # different contents — key by an INTEGER content checksum the
        # oracle recomputes exactly from its view (float rounding modes
        # differ between numpy and SQL engines; floor(x*1000) per element
        # is the same IEEE double op everywhere and the int sum is exact)
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(
            pd.DataFrame(rows, columns=["id_a", "id_b", "cosine"]).assign(
                scale_rows=scale_rows, scale_key=scale_key
            )
        )
    out = pd.concat(frames, ignore_index=True)
    return out.astype(
        {"id_a": "int64", "id_b": "int64", "scale_rows": "int64",
         "scale_key": "int64"}
    )


# ---------------------------------------------------------------------------
# 4. alarm gauge golden (derived from the fixture yang.json contents)

ALARM_FAMILIES = {
    "SYSTEM_ALARM": ("system_alarm", 1),
    "SYSTEM_ALARM_CLEARED": ("system_alarm", 0),
    "MINOR_ALARM_SET": ("minor_alarm", 1),
    "MINOR_ALARM_CLEARED": ("minor_alarm", 0),
    "MAJOR_ALARM_SET": ("major_alarm", 1),
    "MAJOR_ALARM_CLEARED": ("major_alarm", 0),
}


def make_alarm_gauge() -> pd.DataFrame:
    """Expected last-state gauge per (host, family, entity) over the
    junos alarm fixtures, replayed in fixture-enumeration order.

    Entities follow the prometheus label choice
    (transport/prometheus.py:490-497, 520-527): the component name for
    SYSTEM_ALARM*, the alarm additional-text for minor/major — both
    read from the fixtures' own yang.json, never from the engine.
    """
    events = []
    os_dir = os.path.join(GOLDEN_DIR, "junos")
    for error_name in sorted(os.listdir(os_dir)):
        if error_name not in ALARM_FAMILIES:
            continue
        err_dir = os.path.join(os_dir, error_name)
        for case in sorted(os.listdir(err_dir)):
            yang_path = os.path.join(err_dir, case, "yang.json")
            if not os.path.isfile(yang_path):
                continue
            with open(yang_path) as fh:
                env = json.load(fh)
            family, state = ALARM_FAMILIES[error_name]
            ym = env["yang_message"]
            if family == "system_alarm":
                entity = next(iter(ym["hardware-state"]["component"]))
            else:
                entity = ym["alarms"]["alarm"]["additional-text"]
            events.append((env["host"], family, entity, state, error_name))
    gauge: dict = {}
    for i, (host, family, entity, state, err) in enumerate(events):
        key = (host, family, entity)
        prev = gauge.get(key, (None, None, 0))
        gauge[key] = (state, err, prev[2] + 1)
    rows = [
        {"host": h, "family": f, "entity": e, "state": s, "last_error": err,
         "n_events": n}
        for (h, f, e), (s, err, n) in gauge.items()
    ]
    return pd.DataFrame(rows).astype({"state": "int64", "n_events": "int64"})






def make_bpe_train(n_merges: int = 40) -> pd.DataFrame:
    """Independent pure-python BPE trainer (Sennrich-style word-histogram
    algorithm) over the documents table at sf0.001 and sf0.01, keyed by
    the same integer content checksum the oracle computes live
    (sum(n_chars * (doc_id % 97 + 1)) — sf0.001/sf0.01 share a row
    count, so row count cannot key the golden).  Spec mirrored from
    ``operators/bpe.py``: lowercase, split on \\s+, chars + '</w>'
    sentinel, overlapping pair counts, left-to-right non-overlapping
    merge application, ties broken count desc then (left, right) asc,
    stop below min_freq=2."""
    import re
    from collections import Counter

    END = "</w>"
    out = []
    for sf in ("sf0.001", "sf0.01"):
        docs = pd.read_parquet(os.path.join(TESTDATA, sf, "documents.parquet"))
        scale_key = int((docs["n_chars"] * (docs["doc_id"] % 97 + 1)).sum())
        hist: Counter = Counter()
        for text in docs["text"]:
            # the engine's explicit ASCII-whitespace class (operators/
            # bpe.py WS) — python \s+ additionally splits Unicode
            # whitespace the JVM's \s does not
            for w in re.split(r"[ \t\n\r\f\x0B]+", str(text).lower()):
                if w:
                    hist[w] += 1
        syms = {w: list(w) + [END] for w in hist}
        for rank in range(1, n_merges + 1):
            pc: Counter = Counter()
            for w, c in hist.items():
                s = syms[w]
                for a, b in zip(s, s[1:]):
                    pc[(a, b)] += c
            if not pc:
                break
            (left, right), n = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if n < 2:
                break
            for w, s in syms.items():
                if (left, right) not in zip(s, s[1:]):
                    continue
                merged, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                        merged.append(left + right)
                        i += 2
                    else:
                        merged.append(s[i])
                        i += 1
                syms[w] = merged
            out.append((scale_key, rank, left, right, int(n)))
    return pd.DataFrame(
        out, columns=["scale_key", "merge_rank", "left", "right", "pair_count"]
    ).astype({"scale_key": "int64", "merge_rank": "int32", "pair_count": "int64"})


def make_bpe_tokens(n_merges: int = 40) -> pd.DataFrame:
    """Independent replication of the greedy BPE encoder: re-train the
    merge table (via make_bpe_train's algorithm) and encode every
    document, emitting per-doc subword token counts.  Greedy rule:
    always apply the LOWEST-rank applicable merge next (standard BPE
    encode), words split on \\s+ after lowercasing."""
    import re

    END = "</w>"
    merges = make_bpe_train(n_merges)
    out = []
    for sf in ("sf0.001", "sf0.01"):
        docs = pd.read_parquet(os.path.join(TESTDATA, sf, "documents.parquet"))
        scale_key = int((docs["n_chars"] * (docs["doc_id"] % 97 + 1)).sum())
        table = {
            (r["left"], r["right"]): int(r["merge_rank"])
            for _, r in merges[merges["scale_key"] == scale_key].iterrows()
        }
        cache: dict = {}

        def enc_word(w):
            syms = list(w) + [END]
            while len(syms) >= 2:
                best, best_i = None, -1
                for i in range(len(syms) - 1):
                    rk = table.get((syms[i], syms[i + 1]))
                    if rk is not None and (best is None or rk < best):
                        best, best_i = rk, i
                if best is None:
                    break
                syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
            return syms

        for _, row in docs.iterrows():
            n = 0
            for w in re.split(r"[ \t\n\r\f\x0B]+", str(row["text"]).lower()):
                if not w:
                    continue
                if w not in cache:
                    cache[w] = enc_word(w)
                n += len(cache[w])
            out.append((scale_key, int(row["doc_id"]), n))
    return pd.DataFrame(
        out, columns=["scale_key", "doc_id", "n_bpe_tokens"]
    ).astype({"scale_key": "int64", "doc_id": "int64", "n_bpe_tokens": "int64"})


def _numpy_kmeans(M: np.ndarray, k: int, iters: int, seed: int,
                  sample_cap: int) -> np.ndarray:
    """Numpy replication of kmeans_clusters' published spec (seeded init
    from the sample_cap smallest ids, spherical Lloyd with fixed-point
    2^20 half-away-from-zero integer centroid sums, cosine argmax with
    ties -> lowest cluster); returns the final assignment."""
    QUANT = float(1 << 20)
    sample = M[:sample_cap]
    rng = np.random.RandomState(seed)
    idx = np.sort(rng.choice(len(sample), size=min(k, len(sample)), replace=False))
    cent = sample[idx].astype("float64")
    n = np.linalg.norm(cent, axis=1, keepdims=True)
    cent = cent / np.where(n > 0, n, 1.0)

    def assign(M, cent):
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        sims = (M @ cent.T) / np.where(norms > 0, norms, 1.0)
        sims[norms[:, 0] == 0] = 0.0
        return sims.argmax(axis=1)

    sq = M * QUANT
    Q = np.where(sq >= 0, np.floor(sq + 0.5), np.ceil(sq - 0.5)).astype(np.int64)
    for _ in range(iters):
        a = assign(M, cent)
        new = cent.copy()
        for c in range(len(cent)):
            members = Q[a == c]
            if len(members):
                m = (members.sum(axis=0) / QUANT) / len(members)
                nn = np.linalg.norm(m)
                if nn > 0:
                    new[c] = m / nn
        cent = new
    return assign(M, cent)


def make_kmeans(k: int = 10, iters: int = 4, seed: int = 42,
                sample_cap: int = 1024) -> pd.DataFrame:
    """Independent numpy replication of kmeans_clusters (see
    _numpy_kmeans), one frame per scale factor keyed by content."""
    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path).sort_values("vec_id")
        ids = emb["vec_id"].to_numpy()
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        final = _numpy_kmeans(M, k, iters, seed, sample_cap)
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(pd.DataFrame({
            "scale_key": scale_key,
            "vec_id": ids.astype("int64"),
            "cluster": final.astype("int32"),
        }))
    return pd.concat(frames, ignore_index=True)


def make_semdedup(k: int = 10, iters: int = 4, seed: int = 42,
                  threshold: float = 0.35,
                  sample_cap: int = 1024) -> pd.DataFrame:
    """Independent numpy replication of operators/similarity.semdedup:
    cluster via _numpy_kmeans, unit-normalize, and drop any row with a
    lower-vec_id same-cluster neighbor at cosine >= threshold."""
    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path).sort_values("vec_id")
        ids = emb["vec_id"].to_numpy()
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        cl = _numpy_kmeans(M, k, iters, seed, sample_cap)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        N = M / np.where(norms > 0, norms, 1.0)
        S = N @ N.T
        keep = np.ones(len(M), dtype=bool)
        for j in range(len(M)):
            same = (cl[:j] == cl[j])
            if same.any() and (S[:j, j][same] >= threshold).any():
                keep[j] = False
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(pd.DataFrame({
            "scale_key": scale_key,
            "vec_id": ids.astype("int64"),
            "cluster": cl.astype("int32"),
            "keep": keep,
        }))
    return pd.concat(frames, ignore_index=True)


# ---------------------------------------------------------------------------
# 5. IVF all-pairs kNN join golden (numpy re-implementation of the spec)


def _numpy_ivf_centroids(M: np.ndarray, n_clusters: int, seed: int,
                         sample_cap: int) -> np.ndarray:
    """The published IVF trainer spec (similarity.py docstrings), shared
    by every IVF golden: seeded Lloyd on the vec_id-ordered sample
    (RandomState(seed).choice without replacement, index-sorted, 10
    iterations, cosine argmax on unit vectors, mean-then-renormalize,
    dead centroids reseeded via rng.randint)."""
    S = M[:sample_cap]
    rng = np.random.RandomState(seed)
    nrm = np.linalg.norm(S, axis=1, keepdims=True)
    U = S / np.where(nrm > 0, nrm, 1.0)
    pick = np.sort(rng.choice(len(U), size=min(n_clusters, len(U)), replace=False))
    cent = U[pick].copy()
    for _ in range(10):
        lab = (U @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            mem = U[lab == c]
            if len(mem):
                m = mem.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
            else:
                cent[c] = U[rng.randint(len(U))]
    return cent


def _numpy_ivf_topk_rows(M: np.ndarray, ids: np.ndarray, cent: np.ndarray,
                         nprobe: int, k: int, query_idx,
                         labels: np.ndarray | None = None) -> list:
    """Candidate scoring shared by the IVF goldens: corpus rows in their
    argmax lists, queries probe their nprobe stably ordered nearest
    lists, exact double cosine HALF_UP-rounded to 6, rank by (-cosine,
    neighbor_id), top k.  With ``labels``, same-label candidates are
    excluded BEFORE ranking (the hard-negative spec)."""
    norms = np.linalg.norm(M, axis=1)
    sims = (M @ cent.T) / np.where(norms[:, None] > 0, norms[:, None], 1.0)
    sims[norms == 0] = 0.0
    assign = sims.argmax(axis=1)
    probes = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    members: dict = {}
    for j, c in enumerate(assign):
        members.setdefault(int(c), []).append(j)
    rows = []
    for i in query_idx:
        cands = []
        for c in probes[i]:
            for j in members.get(int(c), ()):
                if j == i:
                    continue
                if labels is not None and labels[j] == labels[i]:
                    continue
                cos = float(M[i] @ M[j] / (norms[i] * norms[j]))
                cands.append(
                    (int(ids[j]), float(_round_half_up(np.array([cos]))[0]), j)
                )
        cands.sort(key=lambda t3: (-t3[1], t3[0]))
        for r, (nid, cos, j) in enumerate(cands[:k], start=1):
            if labels is not None:
                rows.append((int(ids[i]), int(labels[i]), nid,
                             int(labels[j]), cos, r))
            else:
                rows.append((int(ids[i]), nid, cos, r))
    return rows


def make_ann_join(
    dim: int = 64, k: int = 3, n_clusters: int = 32, nprobe: int = 2,
    seed: int = 42, sample_cap: int = 4096,
) -> pd.DataFrame:
    """Expected ``ivf_join_topk`` output per scale (all rows are
    queries), from the shared _numpy_ivf_* spec replication."""
    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path).sort_values("vec_id", kind="stable")
        ids = emb["vec_id"].to_numpy()
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        cent = _numpy_ivf_centroids(M, n_clusters, seed, sample_cap)
        rows = _numpy_ivf_topk_rows(M, ids, cent, nprobe, k, range(len(M)))
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(
            pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine", "rank"])
            .assign(scale_key=scale_key)
        )
    out = pd.concat(frames, ignore_index=True)
    return out.astype({"query_id": "int64", "neighbor_id": "int64",
                       "rank": "int64", "scale_key": "int64"})


def make_hard_negatives(
    dim: int = 64, k: int = 5, n_clusters: int = 16, nprobe: int = 2,
    seed: int = 42, sample_cap: int = 4096,
) -> pd.DataFrame:
    """Expected ``hard_negatives`` output per scale: the ann_join spec
    with same-label candidates excluded before ranking."""
    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path).sort_values("vec_id", kind="stable")
        ids = emb["vec_id"].to_numpy()
        labels = emb["label"].to_numpy().astype("int64")
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        cent = _numpy_ivf_centroids(M, n_clusters, seed, sample_cap)
        rows = _numpy_ivf_topk_rows(
            M, ids, cent, nprobe, k, range(len(M)), labels=labels
        )
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(
            pd.DataFrame(rows, columns=["query_id", "query_label",
                                        "neighbor_id", "neighbor_label",
                                        "cosine", "rank"])
            .assign(scale_key=scale_key)
        )
    out = pd.concat(frames, ignore_index=True)
    return out.astype({
        "query_id": "int64", "query_label": "int32",
        "neighbor_id": "int64", "neighbor_label": "int32",
        "rank": "int64", "scale_key": "int64",
    })


def make_bitext(
    k: int = 4, threshold: float = 1.0, n_clusters: int = 32,
    nprobe: int = 2, seed: int = 42, sample_cap: int = 4096,
) -> pd.DataFrame:
    """Expected ``bitext_margin_mine`` output per scale: the
    hard-negatives spec with lang = vec_id % 2, then the published
    integer-margin contract (ci = round(cos·1e6); margin =
    2·ci·κx·κy / (Dx·κy + Dy·κx) as one double division, HALF_UP 6 dp;
    best per query by (rounded margin desc, neighbor id); mutual =
    each other's best, judged before the threshold filter)."""
    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path).sort_values("vec_id", kind="stable")
        ids = emb["vec_id"].to_numpy()
        labels = (ids % 2).astype("int64")
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        cent = _numpy_ivf_centroids(M, n_clusters, seed, sample_cap)
        rows = _numpy_ivf_topk_rows(
            M, ids, cent, nprobe, k, range(len(M)), labels=labels
        )
        D: dict = {}
        K: dict = {}
        for qid, _ql, _nid, _nl, cos, _r in rows:
            ci = int(np.floor(cos * 1e6 + 0.5))
            D[qid] = D.get(qid, 0) + ci
            K[qid] = K.get(qid, 0) + 1
        best: dict = {}
        for qid, ql, nid, _nl, cos, _r in rows:
            if nid not in K:
                continue
            ci = int(np.floor(cos * 1e6 + 0.5))
            denom = D[qid] * K[nid] + D[nid] * K[qid]
            if denom <= 0:
                continue
            margin = (2 * ci * K[qid] * K[nid]) / denom
            margin = float(np.floor(margin * 1e6 + 0.5) / 1e6)
            cur = best.get(qid)
            if cur is None or (margin, -nid) > (cur[0], -cur[1]):
                best[qid] = (margin, nid, cos, ql)
        out_rows = []
        for qid, (m, nid, cos, ql) in best.items():
            mutual = nid in best and best[nid][1] == qid
            if m >= threshold:
                out_rows.append((qid, int(ql), nid, cos, m, mutual))
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(
            pd.DataFrame(
                out_rows,
                columns=["src_id", "src_lang", "tgt_id", "cosine",
                         "margin", "mutual"],
            ).assign(scale_key=scale_key)
        )
    out = pd.concat(frames, ignore_index=True)
    return out.astype({
        "src_id": "int64", "src_lang": "int32", "tgt_id": "int64",
        "scale_key": "int64",
    })


def make_ann_lsh(
    dim: int = 64, k: int = 5, n_planes: int = 4, n_tables: int = 8,
    seed: int = 42, n_queries: int = 5,
) -> pd.DataFrame:
    """Expected ``lsh_cosine_topk`` output (queries = vec_id < 5) from
    the published spec: per table t the planes are
    RandomState(seed+t).normal((n_planes, dim)); bucket bit i is
    (v @ plane_i) > 0; candidates share a bucket in >=1 table,
    deduplicated; exact double cosine HALF_UP-rounded to 6; rank by
    (-cosine, neighbor_id), top k."""
    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path).sort_values("vec_id", kind="stable")
        ids = emb["vec_id"].to_numpy()
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        norms = np.linalg.norm(M, axis=1)
        qidx = np.where(ids < n_queries)[0]

        powers = 1 << np.arange(n_planes, dtype=np.int64)
        sigs = []
        for t in range(n_tables):
            planes = np.random.RandomState(seed + t).normal(size=(n_planes, dim))
            sigs.append(((M @ planes.T) > 0) @ powers)

        rows = []
        for i in qidx:
            cand_ids = set()
            for t in range(n_tables):
                cand_ids.update(np.where(sigs[t] == sigs[t][i])[0].tolist())
            cand_ids.discard(int(i))
            cands = []
            for j in sorted(cand_ids):
                cos = float(M[i] @ M[j] / (norms[i] * norms[j]))
                cands.append((int(ids[j]), float(_round_half_up(np.array([cos]))[0])))
            cands.sort(key=lambda t2: (-t2[1], t2[0]))
            for r, (nid, cos) in enumerate(cands[:k], start=1):
                rows.append((int(ids[i]), nid, cos, r))
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(
            pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine", "rank"])
            .assign(scale_key=scale_key)
        )
    out = pd.concat(frames, ignore_index=True)
    return out.astype({"query_id": "int64", "neighbor_id": "int64",
                       "rank": "int64", "scale_key": "int64"})


def make_ann_ivf(
    dim: int = 64, k: int = 5, n_clusters: int = 8, nprobe: int = 4,
    seed: int = 42, sample_cap: int = 4096, n_queries: int = 5,
) -> pd.DataFrame:
    """Expected ``ivf_cosine_topk`` output (queries = vec_id < 5), from
    the shared _numpy_ivf_* spec replication."""
    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path).sort_values("vec_id", kind="stable")
        ids = emb["vec_id"].to_numpy()
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        cent = _numpy_ivf_centroids(M, n_clusters, seed, sample_cap)
        rows = _numpy_ivf_topk_rows(
            M, ids, cent, nprobe, k, np.where(ids < n_queries)[0]
        )
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(
            pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine", "rank"])
            .assign(scale_key=scale_key)
        )
    out = pd.concat(frames, ignore_index=True)
    return out.astype({"query_id": "int64", "neighbor_id": "int64",
                       "rank": "int64", "scale_key": "int64"})


def make_url_canon(n: int = 64) -> pd.DataFrame:
    """Golden for URL canonicalization: replays the planted corpus
    (synth_urls_pandas' eight shapes) through an INDEPENDENT
    urllib-based implementation of the published spec — lowercase
    scheme/host, default-port strip, empty path -> '/', one trailing
    slash stripped when path > '/', empty + utm_* params dropped and
    the rest sorted bytewise, fragment dropped; rows not matching
    scheme://authority emit NULLs."""
    import re
    from urllib.parse import urlsplit

    out = []
    for i in range(n):
        shape = i % 8
        if shape == 0:
            u = f"https://example.com/a/b?k=v&x={i}"
        elif shape == 1:
            u = f"HTTP://WWW.Example{i}.COM/Path"
        elif shape == 2:
            u = f"https://example.com:443/p{i}" if i % 2 else f"http://example.com:80/p{i}"
        elif shape == 3:
            u = f"https://shop.example.com/item?id={i}&utm_source=feed&utm_campaign=x"
        elif shape == 4:
            u = f"https://example.com/s?z=9&a=1&m={i}"
        elif shape == 5:
            u = f"https://example.com/dir/{i}/"
        elif shape == 6:
            u = f"https://example.com/page#sec{i}"
        else:
            u = f"not a url {i}"

        if not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+", u):
            out.append((i, u, None, None, None, None, None, None))
            continue
        sp = urlsplit(u)
        scheme = sp.scheme.lower()
        host = sp.hostname or ""
        port = sp.port
        if (scheme == "http" and port == 80) or (scheme == "https" and port == 443):
            port = None
        port_s = "" if port is None else str(port)
        path = sp.path or "/"
        if len(path) > 1 and path.endswith("/"):
            path = path[:-1]
        params = [
            p for p in sp.query.split("&")
            if p and not p.split("=")[0].startswith("utm_")
        ]
        query = "&".join(sorted(params))
        canon = (
            scheme + "://" + host + (":" + port_s if port_s else "")
            + path + ("?" + query if query else "")
        )
        out.append((i, u, scheme, host, port_s, path, query, canon))
    return pd.DataFrame(
        out,
        columns=["url_id", "url", "scheme", "host", "port",
                 "path_canon", "query_canon", "url_canon"],
    ).astype({"url_id": "int64"})



def make_fix_text(n: int = 64) -> pd.DataFrame:
    """Golden for the encoding-repair chain: replays the planted-corpus
    spec (synth_dirty_text_pandas' five shapes) and applies an
    independent implementation of the published repair spec —
    one-generation mojibake re-decode (accept iff round-trip succeeds,
    differs, and strictly lowers the count of codepoints >= U+0080),
    NFC, NBSP→space, zero-width/BOM + C0/C1 control removal keeping
    newline/tab."""
    import unicodedata

    out = []
    for i in range(n):
        shape = i % 5
        if shape == 0:
            t = f"plain ascii document number {i} with nothing to fix"
        elif shape == 1:
            t = f"caf\u00e9 r\u00e9sum\u00e9 na\u00efve {i}".encode("utf-8").decode("latin-1")
        elif shape == 2:
            t = f"de\u0301ja\u0300 vu composed {i}"  # NFD
        elif shape == 3:
            t = f"ctrl\x00\x01salt\u200b\u200czero{i}\x7fwidth\ufeff"
        else:
            t = f"non\u00a0breaking\u00a0spaces {i}"
        orig = t

        def _high(s):
            return sum(1 for c in s if ord(c) >= 0x80)

        mojibake = False
        try:
            rd = t.encode("latin-1").decode("utf-8")
            if rd != t and _high(rd) < _high(t):
                t, mojibake = rd, True
        except UnicodeError:
            pass
        t = unicodedata.normalize("NFC", t).replace(" ", " ")
        fixed = []
        n_ctl = 0
        for c in t:
            if c in "\n\t":
                fixed.append(c)
            elif c in "\u200b\u200c\u200d\ufeff" or unicodedata.category(c) == "Cc":
                n_ctl += 1
            else:
                fixed.append(c)
        fixed = "".join(fixed)
        out.append((i, fixed, n_ctl, mojibake, fixed != orig))
    return pd.DataFrame(
        out,
        columns=["doc_id", "fixed_text", "n_controls_removed", "was_mojibake", "changed"],
    ).astype({"doc_id": "int64", "n_controls_removed": "int32"})


def make_ann_ivfpq(
    n_clusters: int = 8, nprobe: int = 4, m: int = 8, k_sub: int = 16,
    iters: int = 10, seed: int = 42, sample_cap: int = 1024,
    k: int = 5, n_queries: int = 5,
) -> pd.DataFrame:
    """Expected ``ivfpq_topk`` output (queries = vec_id < 5): an
    independent replication of the IVFADC spec — L2 Lloyd coarse
    quantizer on the sample_cap smallest ids (seeded init in sorted
    index order, x²+c²−2x·c distances, argmin ties low, dead centroids
    re-seeded), per-subspace residual codebooks at seed+1+j, residual
    encode of the whole corpus, nprobe stable-argsort cell probe, ADC
    with HALF_UP 6-decimal rounding, (distance, neighbor_id) order,
    self excluded."""

    def _lloyd(X, kk, sd):
        rng = np.random.RandomState(sd)
        cent = X[np.sort(rng.choice(len(X), size=min(kk, len(X)), replace=False))].copy()
        for _ in range(iters):
            d2 = (X * X).sum(1, keepdims=True) + (cent * cent).sum(1) - 2.0 * (X @ cent.T)
            a = d2.argmin(1)
            for c in range(len(cent)):
                mem = X[a == c]
                cent[c] = mem.mean(0) if len(mem) else X[rng.randint(len(X))]
        return cent

    def _amin(X, cent):
        return ((X * X).sum(1, keepdims=True) + (cent * cent).sum(1) - 2.0 * (X @ cent.T)).argmin(1)

    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path).sort_values("vec_id", kind="stable")
        ids = emb["vec_id"].to_numpy()
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        dim = M.shape[1]
        dsub = dim // m
        sample = M[: min(sample_cap, len(M))]
        coarse = _lloyd(sample, n_clusters, seed)
        resid_s = sample - coarse[_amin(sample, coarse)]
        books = [
            _lloyd(resid_s[:, j * dsub : (j + 1) * dsub], k_sub, seed + 1 + j)
            for j in range(m)
        ]
        cl = _amin(M, coarse)
        R = M - coarse[cl]
        codes = np.empty((len(M), m), dtype="int64")
        for j in range(m):
            codes[:, j] = _amin(R[:, j * dsub : (j + 1) * dsub], books[j])

        rows = []
        for i in np.where(ids < n_queries)[0]:
            qd2 = ((M[i] * M[i]).sum() + (coarse * coarse).sum(1)
                   - 2.0 * (coarse @ M[i]))
            probe = np.argsort(qd2, kind="stable")[:nprobe]
            cand_n, cand_d = [], []
            for c in probe:
                sel = np.where((cl == c) & (ids != ids[i]))[0]
                if not len(sel):
                    continue
                r = M[i] - coarse[c]
                d = np.zeros(len(sel), dtype="float64")
                for j in range(m):
                    rs = r[j * dsub : (j + 1) * dsub]
                    lut = (rs * rs).sum() + (books[j] * books[j]).sum(1) - 2.0 * (books[j] @ rs)
                    d += lut[codes[sel, j]]
                cand_n.append(ids[sel])
                cand_d.append(d)
            if not cand_n:
                continue
            cand_n = np.concatenate(cand_n)
            cand_d = _round_half_up(np.maximum(np.concatenate(cand_d), 0.0))
            order = np.lexsort((cand_n, cand_d))[:k]
            for r_, o in enumerate(order, start=1):
                rows.append((int(ids[i]), int(cand_n[o]), float(cand_d[o]), r_))
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(
            pd.DataFrame(rows, columns=["query_id", "neighbor_id", "adc_dist", "rank"])
            .assign(scale_key=scale_key)
        )
    out = pd.concat(frames, ignore_index=True)
    return out.astype({"query_id": "int64", "neighbor_id": "int64",
                       "rank": "int64", "scale_key": "int64"})


def make_ann_pq(
    m: int = 8, k_sub: int = 16, iters: int = 10, seed: int = 42,
    sample_cap: int = 1024, k: int = 5, n_queries: int = 5,
) -> pd.DataFrame:
    """Expected ``pq_topk`` output (queries = vec_id < 5): an
    independent replication of the published PQ spec — per-subspace
    L2 Lloyd on the sample_cap smallest ids (seeded init, x²+c²−2x·c
    distances, argmin ties low, dead centroids re-seeded), encode the
    whole corpus, then ADC with HALF_UP 6-decimal rounding and
    (distance, neighbor_id) ordering, self-matches excluded."""
    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path).sort_values("vec_id", kind="stable")
        ids = emb["vec_id"].to_numpy()
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        dim = M.shape[1]
        dsub = dim // m
        sample = M[np.argsort(ids, kind="stable")][: min(sample_cap, len(M))]

        def _d2(x, c):
            return (
                (x * x).sum(axis=1, keepdims=True)
                + (c * c).sum(axis=1)
                - 2.0 * (x @ c.T)
            )

        books = []
        for j in range(m):
            sub = sample[:, j * dsub : (j + 1) * dsub]
            rng = np.random.RandomState(seed + j)
            pick = rng.choice(len(sub), size=min(k_sub, len(sub)), replace=False)
            cent = sub[np.sort(pick)].copy()
            for _ in range(iters):
                assign = _d2(sub, cent).argmin(axis=1)
                for c in range(len(cent)):
                    members = sub[assign == c]
                    if len(members):
                        cent[c] = members.mean(axis=0)
                    else:
                        cent[c] = sub[rng.randint(len(sub))]
            books.append(cent)

        codes = np.empty((len(M), m), dtype="int64")
        for j in range(m):
            codes[:, j] = _d2(M[:, j * dsub : (j + 1) * dsub], books[j]).argmin(axis=1)

        rows = []
        for i in np.where(ids < n_queries)[0]:
            lut = [_d2(M[i : i + 1, j * dsub : (j + 1) * dsub], books[j])[0] for j in range(m)]
            d = np.zeros(len(M), dtype="float64")
            for j in range(m):
                d += lut[j][codes[:, j]]
            d = _round_half_up(np.maximum(d, 0.0))
            keep = ids != ids[i]
            cand_n, cand_d = ids[keep], d[keep]
            order = np.lexsort((cand_n, cand_d))[:k]
            for r, o in enumerate(order, start=1):
                rows.append((int(ids[i]), int(cand_n[o]), float(cand_d[o]), r))
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(
            pd.DataFrame(rows, columns=["query_id", "neighbor_id", "adc_dist", "rank"])
            .assign(scale_key=scale_key)
        )
    out = pd.concat(frames, ignore_index=True)
    return out.astype({"query_id": "int64", "neighbor_id": "int64",
                       "rank": "int64", "scale_key": "int64"})


def make_pca(n_components: int = 4) -> pd.DataFrame:
    """Independent numpy replication of operators/similarity.py's PCA
    spec: per-row rint-fixed-point (2^24) moment quantization before
    the integer sum, float64 mean/covariance (sample, n-1), numpy eigh
    descending, sign fixed so each component's largest-|entry|
    coordinate (first on ties) is positive, centered projection,
    floor-1e6 fixed-point output (floor of identical doubles is
    identical — no decimal-rounding engine skew)."""
    QUANT = float(1 << 24)
    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path).sort_values("vec_id")
        ids = emb["vec_id"].to_numpy().astype("int64")
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        n, d = M.shape
        outer = np.zeros((d, d), dtype=np.int64)
        s1 = np.zeros(d, dtype=np.int64)
        for lo in range(0, n, 512):  # chunked like the engine UDF
            C = M[lo : lo + 512]
            outer += (
                np.rint(np.einsum("ni,nj->nij", C, C) * QUANT)
                .astype(np.int64)
                .sum(axis=0)
            )
            s1 += np.rint(C * QUANT).astype(np.int64).sum(axis=0)
        S2 = outer / QUANT
        S1 = s1 / QUANT
        mean = S1 / n
        cov = (S2 - np.outer(S1, S1) / n) / (n - 1)
        _, vecs = np.linalg.eigh(cov)
        comps = vecs[:, ::-1][:, :n_components].T.copy()
        for i in range(n_components):
            j = int(np.argmax(np.abs(comps[i])))
            if comps[i, j] < 0:
                comps[i] = -comps[i]
        T = (M - mean) @ comps.T
        E = np.floor(T * 1e6).astype("int64")
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(pd.DataFrame({
            "scale_key": scale_key,
            "vec_id": ids,
            **{f"pc{i+1}_e6": E[:, i] for i in range(n_components)},
        }))
    return pd.concat(frames, ignore_index=True)


def make_spfhp(budget: int = 128) -> pd.DataFrame:
    """Independent replication of operators/text.py's SPFHP packing
    spec (strategy derivation AND rank-arithmetic assignment) in plain
    python over the documents tables — deliberately NOT importing the
    engine's spfhp_strategies, so a drift in either implementation
    fails the gate.  scale_key = sum(n_chars) of the source table."""
    import re as _re
    from collections import Counter

    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "documents.parquet")
        if not os.path.isfile(path):
            continue
        docs = pd.read_parquet(path)
        scale_key = int(docs["n_chars"].sum())

        def ntok(t):
            t = (t or "").strip()
            return 0 if not t else len(_re.split(r"\s+", t))

        lens = {
            int(d): min(ntok(t), budget)
            for d, t in zip(docs["doc_id"], docs["text"])
        }
        lens = {d: l for d, l in lens.items() if l > 0}
        hist = Counter(lens.values())
        # --- strategy derivation (re-stated spec) ---
        groups = []
        for L in range(budget, 0, -1):
            n = int(hist.get(L, 0))
            while n > 0:
                cand = [i for i, g in enumerate(groups)
                        if g[1] >= L and g[2] > 0]
                if cand:
                    i = min(cand, key=lambda j: (groups[j][1], j))
                    g = groups[i]
                    take = min(n, g[2])
                    g[2] -= take
                    groups.append([g[0] + (L,), g[1] - L, take])
                    n -= take
                else:
                    m = budget // L
                    full, rest = divmod(n, m)
                    if full:
                        groups.append([(L,) * m, budget - m * L, full])
                    if rest:
                        groups.append([(L,) * rest, budget - rest * L, 1])
                    n = 0
        strategies = [(tuple(g[0]), g[2]) for g in groups if g[2] > 0]
        # --- assignment: per-length ranks by doc_id, consumed in
        # strategy order with multiplicity blocks per instance ---
        by_len = {}
        for d in sorted(lens):
            by_len.setdefault(lens[d], []).append(d)
        offsets, pack_base, out = {}, 0, []
        for sid, (lengths, count) in enumerate(strategies):
            for L, mult in sorted(Counter(lengths).items()):
                off = offsets.get(L, 0)
                for r in range(off, off + count * mult):
                    inst, slot = divmod(r - off, mult)
                    out.append((scale_key, by_len[L][r], L, sid,
                                pack_base + inst, slot))
                offsets[L] = off + count * mult
            pack_base += count
        frames.append(pd.DataFrame(
            out,
            columns=["scale_key", "doc_id", "length", "strategy_id",
                     "pack_id", "slot"],
        ).astype({"scale_key": "int64", "doc_id": "int64", "length": "int32",
                  "strategy_id": "int32", "pack_id": "int64", "slot": "int32"}))
    return pd.concat(frames, ignore_index=True)


def numpy_softmax_train(M, y, k, iters, lr, l2=0.0):
    """The SINGLE numpy reference for operators/classifier.py's
    published spec: full-batch softmax regression from zero weights,
    per-row rint-fixed-point (2^20) gradient quantization before the
    integer sum, float64 driver update.  Shared by the golden
    generator below AND tests/test_classifier.py so the two cannot
    drift apart — the Spark trainer is the only independent party."""
    QUANT = float(1 << 20)
    n, d = M.shape
    Xb = np.concatenate([M, np.ones((n, 1))], axis=1)
    W = np.zeros((k, d + 1))
    for _ in range(iters):
        Z = Xb @ W.T
        Z = Z - Z.max(axis=1, keepdims=True)
        P = np.exp(Z)
        R = P / P.sum(axis=1, keepdims=True)
        R[np.arange(n), y] -= 1.0
        G = (
            np.rint(np.einsum("nk,nd->nkd", R, Xb) * QUANT)
            .astype(np.int64)
            .sum(axis=0)
        )
        W = W - lr * ((G / QUANT) / n + l2 * W)
    return W


def make_classifier(k: int = 10, iters: int = 20, lr: float = 5.0,
                    l2: float = 0.0) -> pd.DataFrame:
    """Golden = numpy_softmax_train weights applied to the same rows,
    argmax ties -> lowest class."""
    frames = []
    for sf in SFS:
        path = os.path.join(TESTDATA, sf, "embeddings.parquet")
        if not os.path.isfile(path):
            continue
        emb = pd.read_parquet(path).sort_values("vec_id")
        ids = emb["vec_id"].to_numpy().astype("int64")
        M = np.array([np.asarray(v, dtype="float64") for v in emb["embedding"]])
        y = emb["label"].to_numpy().astype("int64")
        n, d = M.shape
        Xb = np.concatenate([M, np.ones((n, 1))], axis=1)
        W = numpy_softmax_train(M, y, k, iters, lr, l2)
        pred = (Xb @ W.T).argmax(axis=1)
        scale_key = int(np.floor(M[:, 0] * 1000).astype(np.int64).sum())
        frames.append(pd.DataFrame({
            "scale_key": scale_key,
            "vec_id": ids,
            "label": y.astype("int32"),
            "pred": pred.astype("int32"),
            "correct": (pred == y).astype("int32"),
        }))
    return pd.concat(frames, ignore_index=True)


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    env = make_golden_envelopes()
    env.to_parquet(os.path.join(OUT, "golden_envelopes.parquet"), index=False)
    print(f"golden_envelopes: {len(env)} rows")
    a1 = make_a1_ttl()
    a1.to_parquet(os.path.join(OUT, "a1_ttl_kept.parquet"), index=False)
    print(f"a1_ttl_kept: {len(a1)} rows across {a1['scale_rows'].nunique()} sfs")
    nd = make_near_dup()
    nd.to_parquet(os.path.join(OUT, "near_dup_golden.parquet"), index=False)
    print(f"near_dup: {len(nd)} rows across {nd['scale_rows'].nunique()} sfs")
    km = make_kmeans()
    km.to_parquet(os.path.join(OUT, "kmeans_golden.parquet"), index=False)
    print(f"kmeans: {len(km)} rows across {km['scale_key'].nunique()} sfs")
    aj = make_ann_join()
    aj.to_parquet(os.path.join(OUT, "ann_join_golden.parquet"), index=False)
    print(f"ann_join: {len(aj)} rows across {aj['scale_key'].nunique()} sfs")
    sd = make_semdedup()
    sd.to_parquet(os.path.join(OUT, "semdedup_golden.parquet"), index=False)
    print(f"semdedup: {len(sd)} rows across {sd['scale_key'].nunique()} sfs")
    al = make_ann_lsh()
    al.to_parquet(os.path.join(OUT, "ann_lsh_golden.parquet"), index=False)
    print(f"ann_lsh: {len(al)} rows across {al['scale_key'].nunique()} sfs")
    ai = make_ann_ivf()
    ai.to_parquet(os.path.join(OUT, "ann_ivf_golden.parquet"), index=False)
    print(f"ann_ivf: {len(ai)} rows across {ai['scale_key'].nunique()} sfs")
    ap = make_ann_pq()
    ap.to_parquet(os.path.join(OUT, "ann_pq_golden.parquet"), index=False)
    print(f"ann_pq: {len(ap)} rows across {ap['scale_key'].nunique()} sfs")
    iq = make_ann_ivfpq()
    iq.to_parquet(os.path.join(OUT, "ann_ivfpq_golden.parquet"), index=False)
    print(f"ann_ivfpq: {len(iq)} rows across {iq['scale_key'].nunique()} sfs")
    uc = make_url_canon()
    uc.to_parquet(os.path.join(OUT, "url_canon_golden.parquet"), index=False)
    print(f"url_canon: {len(uc)} rows")
    ft = make_fix_text()
    ft.to_parquet(os.path.join(OUT, "fix_text_golden.parquet"), index=False)
    print(f"fix_text: {len(ft)} rows")
    ag = make_alarm_gauge()
    ag.to_parquet(os.path.join(OUT, "alarm_gauge_golden.parquet"), index=False)
    print(f"alarm_gauge: {len(ag)} rows")
    bp = make_bpe_train()
    bp.to_parquet(os.path.join(OUT, "bpe_train_golden.parquet"), index=False)
    print(f"bpe_train: {len(bp)} rows across {bp['scale_key'].nunique()} sfs")
    bt = make_bpe_tokens()
    bt.to_parquet(os.path.join(OUT, "bpe_tokens_golden.parquet"), index=False)
    print(f"bpe_tokens: {len(bt)} rows across {bt['scale_key'].nunique()} sfs")
    cf = make_classifier()
    cf.to_parquet(os.path.join(OUT, "classifier_golden.parquet"), index=False)
    print(f"classifier: {len(cf)} rows across {cf['scale_key'].nunique()} sfs")
    hn = make_hard_negatives()
    hn.to_parquet(os.path.join(OUT, "hard_negatives_golden.parquet"), index=False)
    print(f"hard_negatives: {len(hn)} rows across {hn['scale_key'].nunique()} sfs")
    pc = make_pca()
    pc.to_parquet(os.path.join(OUT, "pca_golden.parquet"), index=False)
    print(f"pca: {len(pc)} rows across {pc['scale_key'].nunique()} sfs")
    sp = make_spfhp()
    sp.to_parquet(os.path.join(OUT, "spfhp_golden.parquet"), index=False)
    print(f"spfhp: {len(sp)} rows across {sp['scale_key'].nunique()} sfs")
    bx = make_bitext()
    bx.to_parquet(os.path.join(OUT, "bitext_golden.parquet"), index=False)
    print(f"bitext: {len(bx)} rows across {bx['scale_key'].nunique()} sfs")


if __name__ == "__main__":
    main()
