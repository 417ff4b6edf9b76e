"""Document deduplication at training-data scale.

Exact, n-gram Jaccard, MinHash+LSH, and SimHash near-dup detection over
a ``documents`` table.  Scale notes per operator:

* exact        — one hash-groupBy shuffle on the digest.
* ngram_jaccard— explode shingles → self-join on shingle → count.
                 Exact but quadratic in bucket size; use for
                 verification and small/medium corpora, or as the
                 verify stage after LSH candidate generation.
* minhash_lsh  — signatures via ``xxhash64(shingle, seed)`` min-per-doc
                 (JVM-side, no Python), banded into buckets; candidate
                 pairs only join within a bucket → near-linear.
* simhash      — 64-bit signature via token-hash bit voting; hamming
                 band join.  numpy inside mapInPandas (vectorized).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import widen_if_narrow_scan


def normalized(text_col: str = "text"):
    return F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))


def exact_duplicate_groups(df: DataFrame) -> DataFrame:
    """Groups of byte-identical (normalized) documents: digest, count,
    representative (min doc_id)."""
    return (
        df.withColumn("digest", F.md5(normalized()))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the lowest doc_id per identical normalized text."""
    w = Window.partitionBy(F.md5(normalized(text_col))).orderBy("doc_id")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingle_sets(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per document as ``(doc_id, sh_set)``.

    Fully narrow — one pass over the scan, no shuffle.  Every dedup
    operator below starts here so the set is built exactly once per plan
    (vs. explode→collect_set, which costs a whole extra shuffle).

    The set expression is wrapped in a single-element generator
    (explode∘array∘struct): higher-order-function chains are
    CodegenFallback, so without this barrier CollapseProject inlines the
    whole tokenize→n-gram→distinct chain into EVERY downstream column
    that references ``sh_set`` (32× re-evaluation in the MinHash stage,
    measured 2-4× slower end-to-end).  A Generate output is an
    attribute, so downstream references share one evaluation."""
    toks = F.split(F.trim(normalized(text_col)), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    sh = F.filter(F.array_distinct(grams), lambda s: F.length(s) > 0)
    return widen_if_narrow_scan(df).select(
        "doc_id", F.explode(F.array(F.struct(sh.alias("v")))).alias("_s")
    ).select("doc_id", F.col("_s.v").alias("sh_set"))


def shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """Word n-gram shingle set per document: (doc_id, shingle)."""
    return shingle_sets(df, n).select(
        "doc_id", F.explode("sh_set").alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs with similarity ≥ ``threshold``.

    For τ ≥ 0.5, candidate generation uses prefix filtering (PPJoin
    family, Xiao et al., WWW'08): order each doc's shingles by ascending
    global frequency; any pair with J ≥ τ must share a shingle within
    each side's prefix of length ``|x| − ⌈τ·|x|⌉ + 1``.  Joining only on
    prefix shingles skips the ultra-frequent shingles that blow up a
    naive self-join, without losing a single qualifying pair; candidates
    are then verified exactly via ``array_intersect``.  For low τ the
    prefix is most of the set, so candidate generation uses the
    count-join with a STOP-SHINGLE cap of 500 instead
    (:func:`_jaccard_capped`'s ``freq_cap``; raising it — or lifting it
    to ∞ on trusted corpora — trades bucket bounds for completeness):
    ultra-frequent shingles are excluded from the join (bounding every join bucket) and
    their contribution to each found pair's intersection is restored
    exactly from tiny per-doc heavy-shingle arrays.  Output columns are
    identical either way ((doc_a, doc_b, jaccard), a<b, jaccard exact
    for every emitted pair); the low-τ path's only deviation from brute
    force is that a pair sharing ONLY above-cap shingles is not
    generated — equality is exact whenever the corpus's max shingle
    frequency ≤ 500.  (``tests/test_docdedup.py`` keeps the brute-force
    reference, ``_jaccard_naive``.)
    """
    if threshold < 0.5:
        return _jaccard_capped(df, n, threshold)
    sets = shingle_sets(df, n).filter(F.size("sh_set") > 0)
    # carry |set| as a column from the narrow stage — saves the
    # count-over-window a per-row size lookup would otherwise cost
    exploded = sets.select(
        "doc_id", F.size("sh_set").alias("sz"), F.explode("sh_set").alias("shingle")
    )
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("gfreq"))
    ranked = exploded.join(freq, "shingle")
    w = Window.partitionBy("doc_id").orderBy("gfreq", "shingle")
    prefix = (
        ranked.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("doc_id", "shingle")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"))
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size(F.col("set_a")) + F.size(F.col("set_b")) - inter
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _jaccard_capped(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    freq_cap: int = 500,
) -> DataFrame:
    """Exact low-τ Jaccard with bounded join buckets (the 100 TB form
    of the count-join).

    The naive shingle self-join is quadratic in the frequency of the
    most common shingle (one boilerplate trigram in 10⁶ docs → 10¹²
    join rows).  Here candidate generation joins only on LIGHT shingles
    (global frequency ≤ ``freq_cap``) — every join bucket is ≤ cap² —
    and each doc carries its few HEAVY shingles as a tiny hashed array;
    a found pair's intersection is then n_light_common +
    |heavy_A ∩ heavy_B|, which is *exact*.  The only deviation from
    brute force: a pair sharing ONLY heavy shingles (two docs composed
    purely of stop-boilerplate) is not generated.  On corpora whose
    max shingle frequency ≤ cap the output is identical to brute force
    by construction.
    """
    sets = shingle_sets(df, n).filter(F.size("sh_set") > 0)
    # one materialized shingle table (the standard dedup-pipeline
    # intermediate): freq, sizes, light and heavy branches all read it —
    # without this each branch re-runs the scan + shingle HOF chain
    # (measured 4-5 re-evaluations)
    exploded = sets.select("doc_id", F.explode("sh_set").alias("shingle"))
    exploded = exploded.localCheckpoint(eager=True)
    sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("gfreq"))
    # the frequency table is shingle-distinct and compact → broadcast
    # semi/anti-ish joins; the big (doc, shingle) table never shuffles
    # to learn its frequencies
    light_keys = F.broadcast(
        freq.filter(F.col("gfreq") <= freq_cap).select("shingle")
    )
    heavy_keys = F.broadcast(
        freq.filter(F.col("gfreq") > freq_cap).select("shingle")
    )
    light = exploded.join(light_keys, "shingle", "left_semi")
    heavy = (
        exploded.join(heavy_keys, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.xxhash64("shingle"))).alias("heavy_set"))
    )
    a, b = light.alias("a"), light.alias("b")
    counts = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_light"))
    )
    empty = F.array().cast("array<bigint>")
    side = lambda suf: (  # noqa: E731 — tiny local join builder
        sizes.join(heavy, "doc_id", "left")
        .select(
            F.col("doc_id").alias(f"doc_{suf}"),
            F.col("sz").alias(f"sz_{suf}"),
            F.coalesce(F.col("heavy_set"), empty).alias(f"heavy_{suf}"),
        )
    )
    inter = F.col("n_light") + F.size(
        F.array_intersect(F.col("heavy_a"), F.col("heavy_b"))
    )
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        counts.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_seed_prefixes(num_hashes: int):
    """Seed-prefix list: each md5 of (prefix + shingle) yields four
    independent 32-bit hash windows (8 hex chars each)."""
    n_md5 = (num_hashes + 3) // 4
    return [""] + [f"#{k}" for k in range(1, n_md5)]


def minhash_signatures(
    df: DataFrame, num_hashes: int = 32, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """MinHash signature per doc: hash i = the i-th 8-hex-char window of
    ``md5(shingle) ∥ md5('#1'+shingle) ∥ …``; signature value i =
    min over the doc's shingles (lexical min of fixed-width hex ≡
    numeric min of the 32-bit value).

    Portable-by-construction: every engine with ``md5`` + ``substr``
    computes bit-identical signatures (the DuckDB oracle does), unlike
    xxhash64 seeds.  Independent windows of one md5 are independent
    uniform hashes, so quality matches per-seed hashing at a quarter of
    the hash calls.

    Entirely JVM-side AND entirely narrow: the concat-md5 per shingle is
    materialized ONCE via the same generator barrier as
    :func:`shingle_sets`, then each signature folds an ``array_min``
    over cheap ``substring`` windows — zero shuffles.
    """
    sets = shingle_sets(df, n, text_col).filter(F.size("sh_set") > 0)
    prefixes = _minhash_seed_prefixes(num_hashes)
    hexes = F.transform(
        F.col("sh_set"),
        lambda s: F.concat(*[F.md5(F.concat(F.lit(p), s)) for p in prefixes]),
    )
    # barrier: force one evaluation of the md5 chain (HOF columns are
    # CodegenFallback — without this every mh_i recomputes all md5s)
    hexed = sets.select(
        "doc_id",
        "sh_set",
        F.explode(F.array(F.struct(hexes.alias("v")))).alias("_h"),
    ).select("doc_id", "sh_set", F.col("_h.v").alias("hx"))
    sig_cols = [
        F.array_min(
            F.transform(F.col("hx"), lambda h: F.substring(h, 8 * i + 1, 8))
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    # signatures ONLY — carrying sh_set here would drag every document's
    # full shingle array through any persisted/broadcast signature table
    return hexed.select("doc_id", *sig_cols)


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
) -> DataFrame:
    """MinHash + LSH banding: docs agreeing on all rows of ≥1 band become
    candidates; candidates are verified with exact n-gram Jaccard.

    Scale path: candidate generation is linear (explode to ``bands``
    bucket keys, hash-shuffle on bucket); only candidates pay the
    verification join.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes, n, text_col)
    # verification reads the RAW shingle sets (no md5 chain): deriving
    # them through `sigs` would re-evaluate the whole signature plan in
    # both verify branches.  The two candidate branches below shuffle
    # identical plans on identical keys, so Catalyst's ReuseExchange
    # computes the signature plan once.
    sets = shingle_sets(df, n, text_col).filter(F.size("sh_set") > 0)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            # bucket key = the band's minhash windows concatenated —
            # portable (the oracle concatenates the same hex strings)
            F.concat(
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    # materialize the bucket table once (bands×N tiny rows): the bucket
    # self-join broadcasts one side, so without this both branches
    # re-evaluate the whole md5 signature plan (measured ~1s of 5s at
    # sf0.1; at 100 TB the signature scan is the dominant cost and MUST
    # run once) — the standard write-the-LSH-table-out step, expressed
    # as an executor-local checkpoint
    buckets = buckets.localCheckpoint(eager=True)
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates ONLY (linear in candidate count — this is the
    # whole point of LSH; running the full exact-Jaccard self-join here
    # would defeat it at scale).  The sets ride as xxhash64(shingle)
    # arrays: 8 bytes/element instead of the shingle strings — 3-5×
    # less join traffic, cheap equality inside array_intersect, and at
    # moderate corpus sizes the whole side drops under the broadcast
    # threshold (no shuffle of the candidate table at all).  A 64-bit
    # in-pair collision (~|A|·|B|/2⁶⁴ ≈ 1e-15) is the only deviation
    # from string-exact Jaccard.
    hsets = sets.select(
        "doc_id",
        F.size("sh_set").alias("sz"),
        F.transform("sh_set", lambda s: F.xxhash64(s)).alias("hs"),
    )
    sa = hsets.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), F.col("hs").alias("hs_a")
    )
    sb = hsets.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), F.col("hs").alias("hs_b")
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash per doc via token-hash bit voting (numpy inside
    mapInPandas — vectorized, Arrow-batched)."""
    out_schema = "doc_id long, simhash long"

    def _batch(it):
        import hashlib

        def _h64(token: str) -> int:
            # deterministic across processes (python's hash() is
            # PYTHONHASHSEED-randomized and must never reach the data
            # path) AND portable: the lower 8 md5 digest bytes little-
            # endian == DuckDB's md5_number_lower, so the SQL oracle
            # reproduces signatures bit-exactly
            return int.from_bytes(
                hashlib.md5(token.encode("utf-8")).digest()[8:16], "little"
            )

        shifts = np.arange(64, dtype=np.uint64)
        powers = np.uint64(1) << shifts
        for pdf in it:
            # hash each DISTINCT token once per batch (corpora repeat
            # tokens heavily — this is the dominant python cost),
            # precompute its 64-bit row, then per doc just sum rows
            token_sets = [set(t.lower().split()) for t in pdf["text"].fillna("")]
            vocab = sorted(set().union(*token_sets)) if token_sets else []
            index = {t: i for i, t in enumerate(vocab)}
            if vocab:
                hashes = np.array([_h64(t) for t in vocab], dtype=np.uint64)
                bits = ((hashes[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            sigs = []
            for toks in token_sets:
                if not toks:
                    sigs.append(0)
                    continue
                rows = bits[[index[t] for t in toks]]
                votes = rows.sum(axis=0) * 2 - len(toks)
                sig = int(powers[votes > 0].sum())
                sigs.append(sig - 2**64 if sig >= 2**63 else sig)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": sigs})

    return widen_if_narrow_scan(df).mapInPandas(_batch, schema=out_schema)


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance, banded on
    16-bit chunks (a pair within hamming ≤3 of 64 bits agrees exactly on
    ≥1 of 4 chunks → bucket join, no cross product)."""
    sigs = simhash_signatures(df)
    chunk_cols = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("simhash"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
        )
        for c in range(4)
    ]
    chunks = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_cols)).alias("ck")
    ).select("doc_id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return pairs


def dedup_keep_list(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """The actionable output of near-dup detection: the doc_ids to KEEP
    — every cluster collapses to its minimum doc_id representative, and
    docs in no cluster survive untouched.

    One anti-join against the (tiny relative to the corpus) set of
    non-representative cluster members; the cluster pass itself is
    :func:`duplicate_clusters`.
    """
    clusters = duplicate_clusters(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.select("doc_id").join(drop, "doc_id", "left_anti")


MAX_CLUSTER_ROUNDS = 20


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over near-duplicate pairs: assign every doc
    the MINIMUM doc_id reachable through the pair graph (the cluster
    representative to keep).

    Iterative label propagation WITH POINTER DOUBLING on DataFrames:
    each round every node adopts the smallest label among itself and
    its neighbors, then shortcuts label := label(label) (Shiloach-
    Vishkin style path halving) — chains collapse exponentially, so
    convergence is O(log diameter) rounds, not O(diameter) (a 10^6-doc
    near-dup CHAIN of templated documents converges in ~20 rounds
    instead of 10^6; plain min-propagation would silently return
    non-converged labels once it hits the iteration cap).  The
    invariant that makes the shortcut safe: a node's label is always
    the id of some node in its own component (neighbor labels and
    labels-of-labels both are), monotonically decreasing toward the
    component minimum.  Convergence is checked via a count of changed
    labels; hitting ``MAX_CLUSTER_ROUNDS`` without converging raises
    rather than returning a partially-merged clustering.  This is the
    engine's loop-until-fixpoint surface — not expressible in one SQL
    statement.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .cache()
    )
    labels.count()
    for it in range(MAX_CLUSTER_ROUNDS):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer doubling: follow the label one hop through the
        # PREVIOUS generation (synchronous jumping, new = old[old[i]]):
        # every label IS a node (labels start as self and only move to
        # component-mates) so the join is total, and hopping through
        # the materialized previous table references `stepped` once —
        # a self-join on `stepped` would double its un-materialized
        # subplan every round (exponential plan growth, driver OOM)
        hop = labels.select(
            F.col("node").alias("_ln"), F.col("label").alias("_ll")
        )
        new_labels = (
            stepped.join(hop, stepped["label"] == hop["_ln"])
            .select("node", F.least("label", "_ll").alias("label"))
        )
        # materialize the new generation FIRST, then derive the changed
        # count from the materialized table — counting the raw plan
        # would evaluate the round's whole join tree twice.  Periodic
        # localCheckpoint truncates the per-round join lineage (20
        # rounds of uncut lineage make the final plan exponential to
        # analyze); ALWAYS unpersist the superseded generation (the
        # executor cache must stay O(1) generations at 100 TB)
        old = labels
        if (it + 1) % 5 == 0:
            labels = new_labels.localCheckpoint(eager=True)
        else:
            labels = new_labels.cache()
            labels.count()
        changed = (
            labels.alias("n")
            .join(old.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        old.unpersist()
        if changed == 0:
            break
    else:
        edges.unpersist()
        labels.unpersist()  # don't strand the last generation on raise
        raise RuntimeError(
            f"duplicate_clusters did not converge in {MAX_CLUSTER_ROUNDS} "
            "rounds — raise MAX_CLUSTER_ROUNDS (a partially-merged "
            "clustering must never be returned silently)"
        )
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: training docs sharing ≥ ``min_overlap``
    distinct word ``n``-grams with a held-out benchmark corpus.

    The standard pretraining-hygiene pass (GPT-3 App. C / PaLM-style
    13-gram overlap): any training document that contains a benchmark
    n-gram is flagged so it can be dropped before training.

    Scale shape: the benchmark corpus is tiny next to 100 TB of training
    text, so its distinct shingle set is **broadcast** — the training
    side stays narrow (scan → shingle → broadcast-hash-join → one
    partial-aggregated groupBy on doc_id).  No shuffle of the corpus,
    no self-join anywhere.

    Returns ``(doc_id, n_overlap)`` — flagged docs only; feed into
    :func:`dedup_keep` / an anti-join to drop them.
    """
    doc_sh = shingles(docs, n)
    bench_sh = shingles(benchmark, n).select("shingle").distinct()
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


SPLIT_FRACTIONS = (("train", 0.90), ("val", 0.05), ("test", 0.05))


def split_by_cluster(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Leakage-safe train/val/test assignment: every document in the
    same near-duplicate cluster lands in the same split (a near-copy of
    a training doc must never leak into eval — the standard data-split
    hygiene rule).

    The split key is the connected-component id from
    :func:`duplicate_clusters` (singletons key on their own id), pushed
    through the engine's deterministic md5-threshold membership (16-bit
    resolution, same convention as the sampling operators) with
    cumulative fraction cut-points — reproducible on any engine, no RNG.

    One broadcast-able join of the (small) cluster table against the
    corpus; the corpus itself never shuffles.
    """
    clusters = duplicate_clusters(pairs)
    joined = df.select("doc_id").join(F.broadcast(clusters), "doc_id", "left")
    key = F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("string")
    u = F.concat(F.lit("0"), F.substring(F.md5(key), 1, 4))
    expr = None
    cum = 0.0
    for name, frac in SPLIT_FRACTIONS[:-1]:
        cum += frac
        thr = format(int(round(cum * 0x10000)), "05x")
        cond = u < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit(SPLIT_FRACTIONS[-1][0]))
    return joined.select("doc_id", expr.alias("split"))


def duplicate_spans(
    df: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Maximal duplicated token spans across documents — the
    substring-level exact dedup of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed for
    Spark: every ``k``-token window whose content hash appears in at
    least 2 distinct documents marks its token positions,
    and runs of adjacent marked positions merge into maximal spans per
    document (the pieces a training-data pipeline would clip out).

    Scale shape (the suffix-array the paper builds is a single-machine
    structure; this is the shuffle-native equivalent):

    * window hashing is one narrow pass (``transform`` + ``posexplode``
      over the token array — no shuffle, no Python);
    * the cross-document frequency pass is a groupBy on the 128-bit
      window digest — uniformly distributed keys, no skew by
      construction;
    * marked positions join back on the same digest (shuffle join on
      uniform keys), then the island merge is one window per
      ``doc_id`` — state bounded by tokens-per-document, not corpus
      size.

    Output: ``(doc_id, span_start, span_end, n_grams, span_tokens)``
    with 1-based inclusive token offsets.
    """
    toks = F.split(F.trim(normalized()), r"\s+")
    base = (
        widen_if_narrow_scan(df)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= k)
    )
    # (doc_id, pos, h): pos is the 1-based offset of each k-token window
    kg = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (k - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, k))),
            )
        ).alias("_p0", "h"),
    ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "h")

    dup = (
        kg.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits = kg.join(dup, "h").select("doc_id", "pos")

    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) == 1, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn(
        "g", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        isl.groupBy("doc_id", "g")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .withColumn(
            "span_tokens", (F.col("span_end") - F.col("span_start") + 1).cast("long")
        )
        .drop("g")
    )


def segment_dedup(
    df: DataFrame,
    k: int = 5,
    max_df: int = 2,
) -> DataFrame:
    """Corpus-level repeated-segment removal — the "duplicated line
    filter" of CCNet / RefinedWeb (drop any line that recurs across the
    corpus, the classic boilerplate killer), adapted to a newline-free
    corpus by segmenting each document into non-overlapping ``k``-token
    chunks.  A segment whose exact content appears in more than
    ``max_df`` distinct documents is removed from EVERY document; the
    survivors are reassembled in original order.

    Scale shape (target: 100 TB, billions of documents):

    * tokenise + segment is one narrow pass (``transform`` over the
      token array — no shuffle, no Python);
    * the document-frequency pass is a single groupBy on the 128-bit
      segment digest with map-side partial aggregation — keys are
      uniform by construction, and grouping on the digest (not the
      segment text) keeps shuffle rows narrow no matter how long the
      boilerplate is;
    * the mark join is digest-keyed many-to-one (the frequent side has
      exactly one row per digest), so hot boilerplate never fans out;
    * reassembly is one groupBy per ``doc_id`` — state bounded by
      tokens-per-document, not corpus size.

    Output: ``(doc_id, clean_text, n_segments, n_removed)`` with
    ``clean_text = ''`` when every segment was boilerplate.
    """
    toks = F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " ")
    base = widen_if_narrow_scan(df).select("doc_id", toks.alias("_t"))
    segs = base.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("_t") > 0,
                F.transform(
                    F.sequence(
                        F.lit(0), F.ceil(F.size("_t") / F.lit(k)).cast("int") - 1
                    ),
                    lambda i: F.array_join(F.slice(F.col("_t"), i * k + 1, k), " "),
                ),
            ).otherwise(F.array())
        ).alias("pos", "seg"),
    ).withColumn("dg", F.md5("seg"))
    frequent = (
        segs.select("dg", "doc_id")
        .distinct()
        .groupBy("dg")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("dg", F.lit(1).alias("_hot"))
    )
    marked = segs.join(frequent, "dg", "left")
    kept = F.expr(
        "transform(array_sort(collect_list(CASE WHEN _hot IS NULL "
        "THEN struct(pos, seg) END)), s -> s.seg)"
    )
    return marked.groupBy("doc_id").agg(
        F.array_join(kept, " ").alias("clean_text"),
        F.count(F.lit(1)).alias("n_segments"),
        F.count("_hot").alias("n_removed"),
    )


def memorization_spans(
    samples: DataFrame,
    corpus: DataFrame,
    *,
    n: int = 8,
    min_run: int = 2,
) -> DataFrame:
    """Verbatim-memorization probe: longest corpus-matched token span
    per sample.

    The extraction-detection shape of Carlini et al. 2021/2023 and the
    Lee et al. dedup papers: a generated sample is *memorized* when a
    LONG CONSECUTIVE RUN of its tokens appears verbatim in the
    training corpus — bag-of-n-grams overlap
    (:func:`benchmark_contamination`) misses this, because 50 scattered
    gram hits and one 50-gram quote score the same.  Per sample this
    emits the exact run structure: every position-``i`` word ``n``-gram
    is probed against the corpus gram set, and consecutive hits merge
    into runs (gaps-and-islands: ``pos − row_number`` per (id, hit)
    window — the duplicate_spans recipe).

    Differences from benchmark_contamination, both deliberate:

    * the reference side here is the TRAINING CORPUS — far too large
      to broadcast — so the probe is a plain hash join of sample gram
      digests against the corpus's DISTINCT gram-digest table (the
      inverted index a 100 TB deployment maintains incrementally; the
      digest keeps the shuffle key 32 hex chars however long the
      gram);
    * grams carry their POSITION, so the output is span-resolved:
      ``max_run`` consecutive matched grams = a verbatim token span of
      ``max_run + n − 1`` tokens.

    Samples shorter than ``n`` tokens emit zero grams (guarded — no
    pseudo-gram for short docs) and survive to the output with
    ``n_grams = 0``.  Returns one row per sample id: ``(id, n_grams,
    n_matched, max_run, span_tokens, memorized)`` where ``memorized =
    max_run >= min_run``.

    Scale: corpus → distinct digests is one exchange (amortizable as a
    maintained table); samples explode positionally (narrow), join on
    digest (AQE skew-splittable), then every aggregate/window keys on
    the sample id.  No self-joins, no broadcasts, no Python.
    """
    toks = F.split(F.trim(normalized()), r"\s+")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ids = samples.select(F.col("doc_id")).distinct()
    sample_grams = samples.select(
        F.col("doc_id"), F.posexplode(grams).alias("pos", "g")
    )
    corpus_g = (
        shingles(corpus, n)
        .select(F.md5("shingle").alias("g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    flagged = sample_grams.join(corpus_g, "g", "left").select(
        "doc_id", "pos", F.col("_hit").isNotNull().alias("hit")
    )
    from pyspark.sql import Window

    wrun = Window.partitionBy("doc_id", "hit").orderBy("pos")
    runs = (
        flagged.withColumn("grp", F.col("pos") - F.row_number().over(wrun))
        .filter("hit")
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("max_run"))
    )
    totals = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("hit").cast("long")).alias("n_matched"),
    )
    out = (
        ids.join(totals, "doc_id", "left")
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            F.coalesce("max_run", F.lit(0)).alias("max_run"),
        )
    )
    span = F.when(F.col("max_run") > 0, F.col("max_run") + F.lit(n - 1)).otherwise(
        F.lit(0)
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_matched",
        "max_run",
        span.alias("span_tokens"),
        (F.col("max_run") >= min_run).alias("memorized"),
    )


def editdist_near_pairs(
    df: DataFrame,
    k: int = 2,
    q: int = 3,
) -> DataFrame:
    """EXACT edit-distance near-dup pairs: ``levenshtein(a, b) <= k``.

    The near-dup family above measures set overlap (Jaccard); this is
    the character-level complement — the fuzzy-match semantics of
    Ed-Join (Xiao, Wang, Lin, VLDB'08), the dedup pass that catches
    boilerplate with one typo, re-encoded punctuation, or a single
    dropped word, which word-shingle Jaccard at high tau can miss on
    short documents.

    Candidate generation is the q-gram count filter + prefix filter:

    * any single edit destroys at most ``q`` character q-grams, so two
      strings within distance ``k`` share at least
      ``max(|Ga|,|Gb|) - k*q`` occurrence-tagged q-grams (Gravano et
      al., VLDB'01 count filter — multiset semantics via occurrence
      tags);
    * therefore, with every doc's tagged grams ordered by ascending
      global frequency, the two docs must COLLIDE within their first
      ``k*q + 1`` grams (prefix filter) — joining only on that prefix
      is complete, and the prefix picks each doc's RAREST grams.

    Bucket sizes are CORPUS-DEPENDENT: the prefix join's bucket for a
    tagged gram holds every doc carrying that gram in its rarest
    prefix, so a low-diversity corpus can still blow it up — ``q`` is
    the dial.  Measured on 100k templated docs whose only distinct
    content is hex/digit tails (alphabet ~16, so only ~4k distinct
    3-grams): q=3 → 91M candidates, 150 s; q=4 → 15 s; q=5 → 5 s
    (SCALE.md, Ed-Join row).  Pick ``q`` so the corpus has
    ≫ N distinct q-grams; the price is the short-doc bound
    ``(k+1)*q`` rising with it.

    Candidates then pay exact verification via the JVM
    ``levenshtein(a, b, threshold=k)`` (banded DP — early exit past
    ``k``).  A length filter ``|len(a) - len(b)| <= k`` prunes both
    the join and the verify.

    Docs too short for the filter to prune (fewer than ``k*q + 1``
    grams, i.e. ``len < (k+1)*q``) are handled completely by a
    separate LENGTH-BAND join anchored at the shorter doc's length:
    the b side spans the short docs PLUS the long fringe
    (``len <= (k+1)*q - 1 + k``), because a short doc can be within
    distance ``k`` of a doc just past the short/long boundary and the
    prefix join never sees short docs (r4 advice: 'abcdefgh' vs
    'abcdefghi' at k=2, q=3 straddles the boundary).  Short docs are a
    corpus-bounded sliver (and already covered by exact dedup), so the
    band buckets stay trivial — the dial is the implied ``(k+1)*q``
    length bound.

    Returns ``(doc_a, doc_b, dist)`` with ``doc_a < doc_b``,
    ``dist <= k``, exact distance values, no duplicates, no misses.

    Scale: one narrow explode, one (doc, gram) occurrence window, one
    gram-frequency aggregate, one prefix self-join (buckets bounded by
    gram rarity), then candidate-only verification — the same
    near-linear shape as :func:`minhash_lsh_pairs`.
    """
    prefix_len = k * q + 1
    docs = df.select(
        "doc_id", F.trim(normalized()).alias("norm")
    ).withColumn("len", F.length("norm"))
    long_docs = docs.filter(F.col("len") >= (k + 1) * q)
    short_docs = docs.filter(F.col("len") < (k + 1) * q)

    # --- long docs: q-gram prefix filter -------------------------------
    grams = F.transform(
        F.sequence(F.lit(0), F.col("len") - q),
        lambda i: F.substring(F.col("norm"), i + 1, q),
    )
    exploded = long_docs.select(
        "doc_id", "len", F.posexplode(grams).alias("pos", "g")
    )
    # occurrence tag: the i-th copy of a gram within a doc is a distinct
    # multiset element, so multiset intersection becomes plain equality
    wocc = Window.partitionBy("doc_id", "g").orderBy("pos")
    tagged = exploded.withColumn(
        "tg", F.concat_ws("#", "g", F.row_number().over(wocc).cast("string"))
    )
    gfreq = tagged.groupBy("tg").agg(F.count(F.lit(1)).alias("gf"))
    wpre = Window.partitionBy("doc_id").orderBy("gf", "tg")
    prefix = (
        tagged.join(gfreq, "tg")
        .withColumn("rn", F.row_number().over(wpre))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "len", "tg")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand_long = (
        a.join(
            b,
            (F.col("a.tg") == F.col("b.tg"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= k),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # --- short docs: complete length-band join -------------------------
    # a side: every short doc, anchored at its OWN length (no explode —
    # the anchor band is exactly a.len).  b side: short docs PLUS the
    # long fringe len <= (k+1)*q - 1 + k, exploded over bands
    # len-k .. len, so every cross-boundary pair (short a, fringe-long
    # b with b.len - a.len <= k) collides at a.len exactly once.  The
    # candidate sets stay disjoint from cand_long: every cand_short
    # pair has a short doc on the a side, every cand_long pair has two
    # long docs.
    sa = short_docs.select("doc_id", "len").alias("a")
    fringe = docs.filter(F.col("len") <= (k + 1) * q - 1 + k)
    sb = fringe.select(
        "doc_id",
        "len",
        F.explode(
            F.sequence(F.greatest(F.col("len") - k, F.lit(0)), F.col("len"))
        ).alias("band"),
    ).alias("b")
    cand_short = (
        sa.join(
            sb,
            (F.col("a.len") == F.col("b.band"))
            # emit each pair once, anchored at the SHORTER doc's own
            # length band (the longer side always emits bands down to
            # len-k, so the shorter length is guaranteed covered;
            # anchoring at the lower doc_id instead would miss pairs
            # where the lower id is the longer string); equal lengths
            # (necessarily short-short) tie-break on doc_id
            & (
                (F.col("a.len") < F.col("b.len"))
                | (
                    (F.col("a.len") == F.col("b.len"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            ),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )

    cands = cand_long.unionByName(cand_short)
    na = docs.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a"))
    nb = docs.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b"))
    dist = F.levenshtein("norm_a", "norm_b", k)
    return (
        cands.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select("doc_a", "doc_b", F.col("dist").cast("int").alias("dist"))
    )
