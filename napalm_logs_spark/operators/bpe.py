"""Distributed BPE tokenizer training + encoding over a document table.

Classic word-histogram byte-pair encoding (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" — public
algorithm): the corpus collapses to a (word, count) histogram ONCE (one
shuffle, the only corpus-sized operation), and every merge iteration
works on the histogram alone.  That is the property that makes BPE
training viable at 100 TB: a trillion-token corpus has a bounded
distinct-word histogram (Heaps' law — tens of millions of rows), so the
per-merge pair-count aggregation shuffles megabytes, not terabytes.

Reference parity note: napalm-logs has no tokenizer; this family is the
training-data-pipeline addendum (token counting's big sibling —
``text.py`` ``token_counts`` does whitespace+regex counting, this
module learns the subword vocabulary itself).

Determinism: ties on pair count break by (left, right) ascending
unicode order; word splitting is the explicit ASCII-whitespace class
``[ \\t\\n\\r\\f\\x0B]+`` in EVERY implementation (trainer's JVM split,
encoder's python re, and both golden replications) — Java ``\\s`` and
Python ``re`` ``\\s`` disagree on Unicode whitespace such as U+00A0,
so the shared class is spelled out rather than relying on ``\\s``.
Lowercasing uses each runtime's default ``lower``; for the rare
Unicode code points where Java and Python lowercase differ (e.g.
dotted-capital-I), train and encode on pre-normalized text.  The
trainer is bit-reproducible under any partitioning because every
argmax is a global aggregate.

Scale notes:
- per iteration: one histogram-sized explode+groupBy (pair counts) and
  a 1-row collect (the argmax) — k merges = k bounded shuffles, zero
  corpus re-scans.
- the merge-application step is ONE Arrow pandas-UDF pass over the
  histogram per merge (rows not containing the winning pair
  short-circuit inside the UDF); generations are ``cache()``-ed with
  the superseded generation ``unpersist()``-ed (real block eviction —
  ``DataFrame.unpersist`` cannot free ``localCheckpoint`` blocks) and
  every 10th generation ``localCheckpoint``s to truncate lineage, so
  the plan stays <= 10 single-reference UDF layers deep no matter how
  many merges run — the ``docdedup.duplicate_clusters`` discipline.
  (A conditional ``when(cond(syms), udf(syms)).otherwise(syms)`` layer
  references the symbol column three times, so an un-checkpointed
  chain grows the Catalyst tree 3^k — measured as a JVM heap OOM at
  ~8 merges.)
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType

END = "</w>"  # end-of-word sentinel (Sennrich): merges never cross words

#: the one word-splitting pattern, valid and identical in Java regex
#: (Spark split) and python re — see the determinism note above
WS = r"[ \t\n\r\f\x0B]+"


def _word_histogram(df: DataFrame) -> DataFrame:
    """(word, count) histogram of lowercased ``text`` — the one
    corpus-sized shuffle."""
    return (
        df.select(F.explode(F.split(F.lower(F.col("text")), WS)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _symbolize(hist: DataFrame) -> DataFrame:
    """word → initial symbol array (characters + END sentinel)."""
    return hist.select(
        F.concat(
            F.split(F.col("word"), ""),  # unicode chars
            F.array(F.lit(END)),
        ).alias("syms"),
        "count",
    )


def _adjacent_pairs(col):
    """Column expr: symbol array → array of (l, r) pair structs.

    Structs, not joined strings: symbols may contain ANY character
    (a NUL in the corpus becomes a legitimate symbol), so no separator
    is safe; struct grouping and struct ordering (field-by-field, i.e.
    (left, right) lexicographic — exactly the tie-break the golden
    replication uses) need none."""
    n = F.size(col)
    idx = F.sequence(F.lit(0), n - 2)
    pair_t = "array<struct<l:string,r:string>>"
    return F.when(
        n >= 2,
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(col, i + 1).alias("l"),
                F.element_at(col, i + 2).alias("r"),
            ),
        ),
    ).otherwise(F.lit(None).cast(pair_t)).alias("pairs")


def bpe_train(df: DataFrame, n_merges: int) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules from the corpus.

    Returns a DataFrame ``(merge_rank int, left string, right string,
    pair_count long)`` ordered by rank — the tokenizer's merge table.
    Stops early when the best remaining pair's count < 2.
    """
    spark = df.sparkSession
    hist = _symbolize(_word_histogram(df))
    hist = hist.localCheckpoint(eager=True)  # corpus scanned exactly once

    def _apply_merge(left: str, right: str):
        merged = left + right

        def merge_one(syms):
            # short-circuit: most histogram rows don't contain the pair
            if left not in syms or right not in syms:
                return syms
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        @F.pandas_udf(ArrayType(StringType()))
        def merge_udf(s):
            return s.map(lambda a: merge_one(list(a)))

        return merge_udf

    rules = []
    for rank in range(1, n_merges + 1):
        pair_counts = (
            hist.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("pair"),
                        "count")
            .groupBy("pair")
            .agg(F.sum("count").alias("n"))
        )
        # deterministic argmax: count desc, then struct asc — struct
        # ordering is field-by-field, i.e. (left, right) ascending
        top = pair_counts.orderBy(F.desc("n"), F.asc("pair")).limit(1).collect()
        if not top or top[0]["n"] < 2:
            break
        left, right = top[0]["pair"]["l"], top[0]["pair"]["r"]
        n = int(top[0]["n"])
        rules.append((rank, left, right, n))
        old = hist
        # single-reference projection → the inter-checkpoint lineage is
        # a LINEAR chain of UDF layers (a conditional 3-reference layer
        # grows the tree 3^k — measured JVM OOM at ~8 merges).  Each
        # generation is cache()d so unpersist() actually frees its
        # blocks (DataFrame.unpersist is a no-op for localCheckpoint
        # blocks); every 10th generation localCheckpoints to truncate
        # the lineage chain, so the plan depth stays <= 10 UDF layers.
        hist = old.select(
            _apply_merge(left, right)(F.col("syms")).alias("syms"), "count"
        )
        if rank % 10 == 0:
            hist = hist.localCheckpoint(eager=True)
        else:
            hist = hist.cache()
            hist.count()
        old.unpersist()
    return spark.createDataFrame(
        rules, "merge_rank int, left string, right string, pair_count long"
    )


def bpe_encode(
    df: DataFrame,
    merges: DataFrame | list,
) -> DataFrame:
    """Apply a learned merge table: ``text`` → subword token array.

    Standard greedy BPE encode (always the LOWEST-rank applicable merge
    next).  The merge table is collected once on the driver (bounded:
    n_merges rows) and shipped in the UDF closure as a rank dict — the
    corpus never shuffles; the stage is a narrow Arrow pandas UDF.
    """
    if isinstance(merges, DataFrame):
        rows = merges.select("merge_rank", "left", "right").collect()
        table = {(r["left"], r["right"]): r["merge_rank"] for r in rows}
    else:
        table = {(l, r): k for k, l, r in merges}

    def encode_word(word: str) -> list:
        syms = list(word) + [END]
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

    @F.pandas_udf(ArrayType(StringType()))
    def encode_udf(s):
        import re

        cache: dict = {}

        def enc(text):
            out = []
            for w in re.split(WS, text.lower()):
                if not w:
                    continue
                if w not in cache:
                    cache[w] = encode_word(w)
                out.extend(cache[w])
            return out

        return s.map(enc)

    return df.withColumn("bpe_tokens", encode_udf(F.col("text")))
