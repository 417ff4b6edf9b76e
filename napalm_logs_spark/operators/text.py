"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen) — no Python in the per-row path.  Operates on the
``documents`` table shape: (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import widen_if_narrow_scan

# small multilingual stopword lists for the n-gram/stopword language
# heuristic (public common-word lists)
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für"),
    "fr": ("le", "la", "et", "les", "des", "est", "pas", "une", "pour"),
    "es": ("el", "la", "y", "de", "que", "es", "un", "una", "por"),
}

TOKEN_SPLIT = r"\s+"
#: BPE-ish subword splitter: words, numbers, or single punctuation
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish subword count."""
    toks = F.split(F.trim(F.col(text_col)), TOKEN_SPLIT)
    return df.withColumn("tokens", toks).withColumn(
        "n_tokens",
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(
            F.size(toks)
        ),
    ).withColumn(
        "n_subwords",
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), F.lit(0))),
    )


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document-quality features: length, punctuation
    ratio, stopword ratio, mean word length.  Ratios rounded to 6dp so
    float representation is stable across engines."""
    df = with_tokens(df, text_col)
    n_chars = F.length(F.col(text_col))
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    sw = STOPWORDS["en"]
    stop_hits = F.size(
        F.filter(F.col("tokens"), lambda t: F.lower(t).isin(*sw))
    )
    return (
        df.withColumn("n_chars_m", n_chars)
        .withColumn(
            "punct_ratio",
            F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
        )
        .withColumn(
            "stopword_ratio",
            F.round(stop_hits / F.greatest(F.col("n_tokens"), F.lit(1)), 6),
        )
        .withColumn(
            "mean_word_len",
            F.round(
                (n_chars - F.col("n_tokens") + 1)
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ),
        )
        .drop("tokens")
    )


def readability_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade per document.

    The classic readability gate (used alongside Gopher/C4 rules to
    drop boilerplate-ish or gibberish pages).  Deterministic heuristic
    counts, all JVM built-ins, zero shuffle:

    * words — whitespace tokens,
    * sentences — runs of ``[.!?]`` (min 1),
    * syllables — vowel groups ``[aeiouy]+`` in the lowercased text
      (whitespace breaks groups, so this equals the per-word sum), plus
      1 for each vowel-less word (every word counts ≥ 1 syllable).

    FRE = 206.835 − 1.015·(words/sent) − 84.6·(syll/words); FK grade =
    0.39·(words/sent) + 11.8·(syll/words) − 15.59; both rounded 6dp.
    Empty documents emit NULL scores rather than fake readability.
    """
    df = with_tokens(df, text_col)
    low = F.lower(F.col(text_col))
    sentences = F.greatest(
        F.size(F.regexp_extract_all(low, F.lit(r"[.!?]+"), F.lit(0))), F.lit(1)
    )
    vowel_groups = F.size(F.regexp_extract_all(low, F.lit("[aeiouy]+"), F.lit(0)))
    no_vowel_words = F.size(
        F.filter(F.col("tokens"), lambda t: ~F.lower(t).rlike("[aeiouy]"))
    )
    syllables = vowel_groups + no_vowel_words
    words = F.col("n_tokens").cast("double")
    wps = words / sentences.cast("double")
    spw = syllables.cast("double") / words
    return (
        df.withColumn("n_sentences", sentences.cast("long"))
        .withColumn("n_syllables", syllables.cast("long"))
        .withColumn(
            "flesch_ease",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6),
            ),
        )
        .withColumn(
            "fk_grade",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6),
            ),
        )
        .drop("tokens")
    )


def char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-level Shannon entropy per document (bits/char).

    The compressibility gate: near-zero entropy flags degenerate
    repetition (``aaaa…``), unusually high entropy flags binary junk /
    encoded blobs that survived text extraction — both dropped before
    training.  Complements :func:`repetition_scores` (token-level) and
    the CCNet/bigram LM surprisal (corpus-model level) with a
    model-free per-document signal.

    Row-local and zero-shuffle: per document, distinct characters in
    sorted order (the fold order is part of the contract so a SQL
    replay sums identical doubles identically), count via one
    ``filter`` per distinct char — O(distinct·len) JVM ops, scan-bound
    at scale like every other row-local gate.  Empty documents emit
    NULL.  ``n_distinct_chars`` rides along (the cheap alphabet-size
    signal).
    """
    cs = F.filter(F.split(F.col(text_col), ""), lambda x: F.length(x) > 0)
    df2 = df.withColumn("_cs", cs).withColumn(
        "_dch", F.sort_array(F.array_distinct(F.col("_cs")))
    )
    n = F.size(F.col("_cs")).cast("double")
    terms = F.transform(
        F.col("_dch"),
        lambda c: -(
            F.size(F.filter(F.col("_cs"), lambda x: x == c)).cast("double") / n
        )
        * F.log2(
            F.size(F.filter(F.col("_cs"), lambda x: x == c)).cast("double") / n
        ),
    )
    ent = F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)
    return (
        df2.withColumn("n_distinct_chars", F.size(F.col("_dch")).cast("long"))
        .withColumn(
            "char_entropy",
            F.when(F.size(F.col("_cs")) > 0, F.round(ent, 6)),
        )
        .drop("_cs", "_dch")
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language heuristic: per language, the fraction of
    tokens in that language's stopword list; argmax wins (ties broken
    by language code order); no hits → 'und'."""
    df = with_tokens(df, text_col)
    score_cols = []
    for code in sorted(STOPWORDS):
        sw = STOPWORDS[code]
        hits = F.size(F.filter(F.col("tokens"), lambda t: F.lower(t).isin(*sw)))
        df = df.withColumn(f"_score_{code}", hits)
        score_cols.append(code)
    best = F.lit("und")
    best_score = F.lit(0)
    # strict > with codes in sorted order: ties go to the alphabetically
    # first code (same rule as the SQL oracle's CASE chain)
    for code in score_cols:
        cond = F.col(f"_score_{code}") > best_score
        best = F.when(cond, F.lit(code)).otherwise(best)
        best_score = F.when(cond, F.col(f"_score_{code}")).otherwise(best_score)
    df = df.withColumn("lang_pred", best)
    return df.drop("tokens", *[f"_score_{c}" for c in score_cols])


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints:

    * ``fp_md5`` — md5 of the case/whitespace-normalized text (exact
      near-identity; portable to any SQL engine);
    * ``fp_rolling`` — 63-bit polynomial rolling hash over normalized
      tokens (order-sensitive), computed JVM-side via ``F.aggregate``.
    """
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    toks = F.split(norm, " ")
    # modulus 2^31-1 keeps acc*base + h < 2^63 under ANSI arithmetic
    mod = F.lit(2**31 - 1)
    rolling = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * F.lit(1000003) + F.pmod(F.xxhash64(t), mod), mod),
    )
    return df.withColumn("fp_md5", F.md5(norm)).withColumn("fp_rolling", rolling)


def winnow_fingerprints(
    df: DataFrame, k: int = 8, w: int = 4, text_col: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (MOSS-style, Schleimer et al.
    SIGMOD'03): hash every character ``k``-gram of the normalized text,
    slide a window of ``w`` consecutive gram hashes, keep each window's
    minimum — two documents sharing any substring of length ≥ k+w-1 are
    guaranteed to share a fingerprint.

    Selection key is the tuple (hash, position) minimized
    lexicographically, so ties are deterministic and the operator is
    exactly mirrorable in ANSI SQL (the DuckDB oracle uses the same
    ``md5(gram) || zero-padded pos`` key).  Entirely JVM-side: one
    posexplode + one window-min + distinct; shuffles once on doc_id.

    Output: (doc_id, pos, gram_hash) — the selected fingerprints.
    """
    from pyspark.sql import Window

    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    base = df.select("doc_id", norm.alias("_n")).filter(
        F.length("_n") >= k + w - 1
    )
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform(sequence(1, length(_n) - {k} + 1), i -> substring(_n, i, {k}))")
        ).alias("_i", "_g"),
    ).select(
        "doc_id",
        (F.col("_i") + 1).alias("pos"),          # 1-based gram position
        F.md5(F.col("_g")).alias("h"),
    )
    key = F.concat(F.col("h"), F.lpad(F.col("pos").cast("string"), 10, "0"))
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    n_grams = Window.partitionBy("doc_id")
    picked = (
        grams.withColumn("_sel", F.min(key).over(win))
        .withColumn("_ng", F.count(F.lit(1)).over(n_grams))
        .filter(F.col("pos") <= F.col("_ng") - w + 1)  # full windows only
        .select(
            "doc_id",
            F.substring("_sel", 33, 10).cast("int").alias("pos"),
            F.substring("_sel", 1, 32).alias("gram_hash"),
        )
        .distinct()
    )
    return picked


def winnow_pairs(
    df: DataFrame,
    min_shared: int = 2,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate / common-substring candidate pairs: documents
    sharing ≥ ``min_shared`` winnowing fingerprints (the plagiarism-
    detector join).  Fingerprint sets are tiny vs the text (1/w of the
    grams), so the self-join shuffles a compressed representation of
    the corpus — the winnowing guarantee bounds recall: any shared
    substring of length ≥ k+w-1 yields ≥1 shared fingerprint.
    """
    fps = winnow_fingerprints(df, k=k, w=w, text_col=text_col).select(
        "doc_id", "gram_hash"
    ).distinct()
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram_hash") == F.col("b.gram_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


#: C4-style scrub patterns — kept to syntax valid AND equivalent in
#: both Java regex (Spark) and the oracle engine's dialect
URL_RE = r"https?://\S+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def clean_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data scrubbing: count and strip URLs / e-mail addresses
    (the C4-style cleaning pass), entirely JVM-side.

    Adds ``n_urls``, ``n_emails``, ``clean_text`` (both pattern classes
    replaced by a single space, whitespace re-normalized) and
    ``clean_len``.  Deterministic, order-free, no shuffle.
    """
    n_urls = F.size(F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), F.lit(0)))
    n_emails = F.size(F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_RE), F.lit(0)))
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col(text_col), URL_RE, " "),
                EMAIL_RE, " ",
            ),
            r"\s+", " ",
        )
    )
    return (
        df.withColumn("n_urls", n_urls)
        .withColumn("n_emails", n_emails)
        .withColumn("clean_text", cleaned)
        .withColumn("clean_len", F.length(cleaned))
    )


def stratified_sample(
    df: DataFrame,
    rates: dict,
    strat_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling for dataset mixing: keep a row
    iff the first 4 hex chars of ``md5(id)`` fall below the stratum's
    rate threshold (16-bit resolution).

    This is how a training-data pipeline downsamples sources/languages
    to target proportions REPRODUCIBLY at any scale: membership is a
    pure row-local function of the id (no shuffle, no RNG state, no
    sampleBy seed drift across retries/partitions), so two runs — or a
    driver and an oracle — select byte-identical rows.  Strata absent
    from ``rates`` get ``default_rate``.
    """

    def _threshold(rate: float) -> str:
        r = min(max(rate, 0.0), 1.0)
        return format(int(round(r * 0x10000)), "05x")

    # fixed-width lexical compare: '0'+4 hash chars vs 5-char threshold
    # ('10000' = rate 1.0 exceeds every hash -> keep all)
    u = F.concat(F.lit("0"), F.substring(F.md5(F.col(id_col).cast("string")), 1, 4))
    expr = F.lit(_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        expr = F.when(F.col(strat_col) == stratum, F.lit(_threshold(rate))).otherwise(expr)
    return df.filter(u < expr)


def pack_chunks(
    df: DataFrame,
    budget_tokens: int = 2048,
    key: str = "doc_id",
    order_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Token-budget chunk assignment — the concat-and-chunk packing a
    pretraining pipeline applies before batching: rows are laid out in
    ``order_col`` order within ``key`` (or globally ordered by ``key``
    when no order column is given, i.e. one global packing stream per
    partition key) and cut every ``budget_tokens`` whitespace tokens.

    ``chunk_id = floor(cum_tokens_before / budget)`` — one window
    cumsum, single shuffle on the key, no Python.  Output:
    (key, [order], n_tokens, chunk_id, chunk_off) where ``chunk_off``
    is the row's token offset inside its chunk.
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(F.col(text_col)), TOKEN_SPLIT)
    n_tok = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(
        F.size(toks)
    )
    order = [order_col] if order_col else [key]
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("n_tokens", n_tok).withColumn(
        "_cum_after", F.sum("n_tokens").over(w)
    )
    before = F.col("_cum_after") - F.col("n_tokens")
    return (
        out.withColumn("chunk_id", F.floor(before / budget_tokens).cast("long"))
        .withColumn(
            "chunk_off", (before - F.col("chunk_id") * budget_tokens).cast("long")
        )
        .drop("_cum_after")
    )


def chunk_windows(
    df: DataFrame,
    size: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunking — the retrieval/embedding-index cut a RAG
    or embedding pipeline applies per document: overlapping windows of
    ``size`` whitespace tokens starting every ``stride`` tokens
    (overlap = size - stride), each with a stable (doc_id, chunk_idx)
    identity and an md5 content address for chunk-level dedup.

    The complement of :func:`pack_chunks` (which concatenates rows up
    to a budget): here one row fans out to its windows.  Chunk count is
    1 for n <= size, else 1 + ceil((n - size) / stride) — the last
    window always reaches the final token; 0-token docs emit no chunks.

    Zero-shuffle, zero-UDF: one tokenize, ``explode(sequence(...))``
    for the window index, JVM ``slice`` for the window itself — at
    100 TB the cost is the scan plus ~n/stride output rows per doc,
    embarrassingly parallel with no exchange.
    """
    if size <= 0 or stride <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    toks = F.split(F.trim(F.col(text_col)), TOKEN_SPLIT)
    base = (
        df.select(
            F.col(id_col),
            F.when(
                F.length(F.trim(F.col(text_col))) == 0,
                F.array().cast("array<string>"),
            )
            .otherwise(toks)
            .alias("_t"),
        )
        .withColumn("_n", F.size("_t"))
        .filter(F.col("_n") > 0)
    )
    last_idx = (
        F.when(F.col("_n") <= size, F.lit(0))
        .otherwise(F.ceil((F.col("_n") - size) / F.lit(float(stride))))
        .cast("long")
    )
    # Spark arrays are int-indexed (≤ 2^31-1 elements), so the slice
    # start is structurally bounded by the array representation; the
    # one residual hazard (ADVICE r3) is a doc whose token count sits
    # within `size+stride` of int32 max, where `chunk_idx*stride + 1`
    # could wrap when cast to int and silently produce wrong windows.
    # Guard it explicitly: fail loudly instead of mis-chunking.
    int_guard = F.when(
        F.col("_n") <= F.lit(2147483647 - size - stride), F.lit(True)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("chunk_windows: doc token count "),
                F.col("_n").cast("string"),
                F.lit(" exceeds the int32-safe slice bound"),
            )
        )
    )
    out = base.filter(int_guard).withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0).cast("long"), last_idx))
    )
    start = F.col("chunk_idx") * stride
    chunk = F.slice(F.col("_t"), (start + 1).cast("int"), size)
    return out.select(
        id_col,
        "chunk_idx",
        start.cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


def length_bucket_plan(
    df: DataFrame,
    max_cap: int = 131072,
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batch planning — the padding-waste accounting a
    dynamic-batching data loader does before training: each document
    goes to the smallest power-of-two token bucket that holds it, and
    per bucket we report how many pad tokens batching at that cap
    costs (``waste_frac``) vs :func:`pack_chunks`/SPFHP packing.

    The bucket cap is an explicit CASE ladder over powers of two (not
    ``ceil(log2(n))``) so the cut-points are exact integer compares —
    bit-identical between Spark and any SQL oracle, no FP boundary
    drift at n = 2^k.  Docs longer than ``max_cap`` land in the
    ``max_cap`` bucket with waste 0-floored; 0-token docs are excluded.
    One partial-aggregated groupBy on ≤ log2(max_cap) keys — the
    shuffle is bucket-count-sized regardless of corpus size.
    """
    caps = []
    c = 1
    while c <= max_cap:
        caps.append(c)
        c *= 2
    ladder = "CASE " + " ".join(
        f"WHEN _n_tok <= {p} THEN {p}" for p in caps
    ) + f" ELSE {max_cap} END"
    toks = F.split(F.trim(F.col(text_col)), TOKEN_SPLIT)
    n_tok = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(
        F.size(toks)
    )
    base = (
        df.select(n_tok.cast("long").alias("_n_tok"))
        .filter(F.col("_n_tok") > 0)
        .withColumn("bucket_cap", F.expr(ladder).cast("long"))
    )
    agg = base.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n_tok").alias("sum_tokens"),
    )
    padded = F.greatest(
        F.col("bucket_cap") * F.col("n_docs"), F.col("sum_tokens")
    )
    return agg.select(
        "bucket_cap",
        "n_docs",
        "sum_tokens",
        padded.alias("padded_tokens"),
        ((padded - F.col("sum_tokens")) / padded).alias("waste_frac"),
    )


def tf_idf_top_terms(df: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF.

    tf = term count in doc; idf = ln((1+N)/(1+df)) + 1 (sklearn-style
    smoothing).  All JVM-side: explode → two hash aggregations → window
    top-k.  Ties broken by term for determinism.
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT)
    terms = df.select("doc_id", F.explode(toks).alias("term")).filter(
        F.length("term") > 0
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # corpus size as a broadcast single-row aggregate, not an eager
    # df.count() — keeps the whole operator one lazy plan (no extra job
    # per invocation; the old eager count re-scanned the input)
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    docfreq = terms.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(docfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.lit(1.0) + F.col("_n_docs")) / (F.lit(1.0) + F.col("df"))) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tfidf", "rnk")
    )


def repetition_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    App. A1.1), adapted to word n-grams for single-line documents:

    * ``dup_token_frac``  — 1 − distinct/total tokens;
    * ``top_2gram_frac``  — occurrences of the most frequent bigram over
      total bigram occurrences;
    * ``dup_2gram_frac``  — fraction of bigram occurrences whose bigram
      occurs more than once.

    Entirely narrow and JVM-side: per-row higher-order functions over
    the token array, zero shuffles — cost is linear in corpus size (the
    in-row distinct-bigram count loop is quadratic in *document* length,
    bounded by the corpus max-doc-len, not by corpus size).
    """
    toks = F.split(
        F.trim(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))), r"\s+"
    )
    # generator barriers (see docdedup.shingle_sets): evaluate the token
    # and bigram arrays once each instead of once per referencing column
    based = df.select(
        "doc_id", F.explode(F.array(F.struct(toks.alias("v")))).alias("_t")
    ).select("doc_id", F.col("_t.v").alias("toks"))
    # 0/1-token docs have no bigrams: emit an empty array (not a pseudo-bigram
    # of the lone token, which would score top_2gram_frac = 1.0 — spuriously
    # maximal repetition for trivially short docs)
    bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 2),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, 2)),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    based = based.select(
        "doc_id",
        "toks",
        F.explode(F.array(F.struct(bigrams.alias("v")))).alias("_b"),
    ).select("doc_id", "toks", F.col("_b.v").alias("bg"))
    counts = F.transform(
        F.array_distinct("bg"),
        lambda g: F.size(F.filter(F.col("bg"), lambda x: x == g)),
    )
    based = based.select(
        "doc_id",
        "toks",
        "bg",
        F.explode(F.array(F.struct(counts.alias("v")))).alias("_c"),
    ).select("doc_id", "toks", "bg", F.col("_c.v").alias("bgc"))
    n_tok = F.greatest(F.size("toks"), F.lit(1))
    total_bg = F.greatest(F.size("bg"), F.lit(1))
    dup_occ = F.aggregate(
        "bgc",
        F.lit(0),
        lambda acc, c: acc + F.when(c > 1, c).otherwise(F.lit(0)),
    )
    return based.select(
        "doc_id",
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("toks")) / n_tok, 6
        ).alias("dup_token_frac"),
        F.coalesce(
            F.round(F.array_max("bgc") / total_bg, 6), F.lit(0.0)
        ).alias("top_2gram_frac"),
        F.round(dup_occ / total_bg, 6).alias("dup_2gram_frac"),
    )


def temperature_mix(
    df: DataFrame,
    temperature: float = 0.7,
    target_frac: float = 0.5,
    strat_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based dataset mixing (the multilingual-pretraining
    recipe, mC4/XLM-R style): sample stratum *s* with probability
    ∝ n_s^τ — τ<1 upsamples the tail relative to the head — scaled so
    the expected total is ``target_frac`` of the corpus.

    Per-stratum keep rate r_s = min(1, target_frac · N · n_s^τ / (Z ·
    n_s)); membership is the same pure row-local md5 threshold as
    :func:`stratified_sample` (reproducible at any scale, no RNG state).
    Rates are derived from the data in one tiny aggregation (|strata|
    rows, broadcast back) — the corpus itself never shuffles.
    Rates round to 6dp so the float is engine-portable.

    Output: the kept rows plus their stratum's ``mix_rate``.
    """
    counts = df.groupBy(strat_col).agg(F.count(F.lit(1)).alias("n_s"))
    tot = counts.agg(
        F.sum("n_s").alias("n_total"),
        F.sum(F.pow(F.col("n_s").cast("double"), F.lit(temperature))).alias("z"),
    )
    rates = counts.crossJoin(tot).select(
        strat_col,
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(target_frac)
                * F.col("n_total")
                * F.pow(F.col("n_s").cast("double"), F.lit(temperature))
                / F.col("z")
                / F.col("n_s"),
            ),
            6,
        ).alias("mix_rate"),
    )
    thr = F.lpad(
        F.lower(
            F.conv(
                F.round(F.col("mix_rate") * 65536).cast("long").cast("string"),
                10,
                16,
            )
        ),
        5,
        "0",
    )
    joined = df.join(F.broadcast(rates.withColumn("_thr", thr)), strat_col)
    u = F.concat(F.lit("0"), F.substring(F.md5(F.col(id_col).cast("string")), 1, 4))
    return joined.filter(u < F.col("_thr")).drop("_thr")


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str = "weight",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weight-proportional sampling WITHOUT replacement: priority
    sampling (Duffield, Lund & Thorup, JACM 2007) — the scheme a
    training-data pipeline uses to draw a fixed-size quality-weighted
    corpus sample whose subset-sum estimates are provably near-optimal
    (the DSIR/importance-weight selection step, executed as one top-k).

    Each row draws a deterministic uniform from its id (first 8 hex
    chars of ``md5('ps:' || id)``, so u = (U+1)/2^32 ∈ (0,1]) and gets
    the all-integer priority ``q = (w << 32) div (U+1)`` — a single
    BIGINT multiply + floor-divide, bit-identical on any engine (the
    stratified_sample/md5 convention; no RNG state, reproducible under
    retries and at any partitioning).  The sample is the top ``k`` rows
    by (q DESC, id ASC); τ = the (k+1)-th priority (0 when the corpus
    fits) and every sampled row carries the Horvitz-Thompson-style
    estimation weight ``est_weight = max(w, τ)`` — Σ est_weight over
    the sample is an unbiased estimator of any weighted subset sum
    (τ rides the floored integer priority; bias O(2⁻³²) of an ulp).

    Scale shape: the top-(k+1) is ``ORDER BY ... LIMIT`` —
    TakeOrderedAndProject, a per-partition heap + driver merge of
    k+1-row spines, NO global sort exchange (plan-asserted in tests);
    the subsequent rank/τ window runs on ≤ k+1 rows.  Rows with NULL
    or non-positive weight are excluded (a zero-weight row can never
    be sampled in the continuous scheme either).  Weights must fit
    ``w < 2^31`` so the shifted product stays in BIGINT.

    Output: (id, weight, priority, est_weight), the k sampled rows.
    """
    w = F.col(weight_col).cast("long")
    u1 = F.expr(
        f"CAST(conv(substring(md5(concat('ps:', CAST({id_col} AS STRING))),"
        " 1, 8), 16, 10) AS BIGINT) + 1"
    )
    cand = (
        df.filter(w.isNotNull() & (w > 0))
        .select(
            F.col(id_col),
            w.alias("weight"),
            (w * F.lit(4294967296)).cast("long").alias("_num"),
            u1.alias("_u1"),
        )
        .select(
            id_col,
            "weight",
            F.expr("_num div _u1").alias("priority"),
        )
    )
    topk1 = cand.orderBy(F.desc("priority"), F.asc(id_col)).limit(k + 1)
    # ≤ k+1 rows from here on: the single-partition rank window is fine
    wr = Window.orderBy(F.desc("priority"), F.asc(id_col))
    ranked = topk1.withColumn("_rn", F.row_number().over(wr))
    tau = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("_rn") == k + 1, F.col("priority"))), F.lit(0)
        ).alias("_tau")
    )
    return (
        ranked.filter(F.col("_rn") <= k)
        .crossJoin(F.broadcast(tau))
        .select(
            id_col,
            "weight",
            "priority",
            F.greatest(F.col("weight"), F.col("_tau")).alias("est_weight"),
        )
    )


#: PII scrub patterns, applied in this order (earlier replacements must
#: not create or destroy later matches — the categories are disjoint by
#: construction: emails carry '@', IPs carry dots between short digit
#: groups, phones are '+'-prefixed space/dash-separated groups, ids are
#: unbroken >=9-digit runs).  Syntax chosen to behave identically in
#: Java regex (Spark) and RE2-style dialects (oracle): no lookaround,
#: ASCII \b only.
PII_PATTERNS = (
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}[- ]\d{3}[- ]\d{3,4}\b", "<PHONE>"),
    ("id", r"\b\d{9,}\b", "<ID>"),
)


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction pass for training corpora: count and replace
    e-mail addresses, IPv4 literals, international phone numbers and
    long numeric identifiers with typed placeholder tokens.

    Per-category counts (``n_email``, ``n_ipv4``, ``n_phone``,
    ``n_id``) are measured *sequentially* on the progressively-redacted
    string — pattern *i* is counted after replacements 1..i-1 have been
    applied — so a nested match (``123456789@example.com``) counts once
    as e-mail, not also as a long numeric id, and the counts equal the
    number of placeholder tokens actually inserted into ``redacted``.
    Entirely JVM-side regex — narrow, zero-shuffle, codegen-friendly;
    at 100 TB this is scan-bandwidth-bound like every other row-local
    scrub.
    """
    out = df
    cur = text_col
    tmp_cols = []
    for i, (name, pat, tok) in enumerate(PII_PATTERNS):
        out = out.withColumn(
            f"n_{name}",
            F.size(
                F.regexp_extract_all(F.col(cur), F.lit(pat), F.lit(0))
            ).cast("long"),
        )
        nxt = f"_pii_red_{i}"
        out = out.withColumn(nxt, F.regexp_replace(F.col(cur), pat, tok))
        tmp_cols.append(nxt)
        cur = nxt
    return out.withColumn("redacted", F.col(cur)).drop(*tmp_cols)


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    buckets: bool = False) -> DataFrame:
    """CCNet-style corpus-perplexity quality score (Wenzek et al. 2020,
    re-expressed without KenLM): train a unigram model ON the corpus
    itself (token → global count) and score each document by its mean
    surprisal, ``bits_per_token = −mean(log₂(cnt_t / N)) =
    log₂(N) − mean(log₂ cnt_t)``.  Low bits = common/boilerplate tokens
    (CCNet's "head"), high bits = rare/noisy ("tail") — the standard
    quality-bucketing signal for web-corpus curation.

    Scale shape: one narrow explode; one token groupBy (vocabulary-sized
    output; the Zipf-skewed input is absorbed by map-side partial
    aggregation — the hot token pre-aggregates per partition before the
    shuffle); the frequency table joins back on token (AQE broadcasts it
    while it fits — a 10⁷-row vocab is broadcastable even under a 100 TB
    corpus); one doc_id groupBy.  The corpus total ``N`` rides a 1-row
    broadcast crossJoin — no eager ``count()`` job at plan-build time
    (the tf-idf lesson from round 1).

    ``buckets=True`` adds the CCNet head/middle/tail label from exact
    tertile cut-points — NOT a global ``ntile`` sort (one-partition
    funnel), and NOT a single ``percentile`` aggregate either (its
    buffer collects the whole score multiset into one reducer).
    Instead the score *distribution* is aggregated first —
    ``groupBy(bits_per_token).count()`` is map-side combined and its
    size is bounded by the distinct 6-dp score domain, not by corpus
    row count — then the two interpolated (percentile_cont) cut-points
    are computed from cumulative counts over that small table and
    broadcast back.  Bit-identical to ``percentile``/``quantile_cont``
    semantics with a structurally bounded memory footprint.
    """
    toks = F.split(
        F.trim(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))), TOKEN_SPLIT
    )
    t = (
        df.select("doc_id", toks.alias("t"))
        .filter(F.size("t") > 0)
        .select("doc_id", F.explode("t").alias("token"))
        .filter(F.length("token") > 0)
    )
    freq = t.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    n_total = freq.agg(F.sum("cnt").cast("double").alias("n_total"))
    scored = (
        t.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log2("cnt")).alias("_avg_log2_cnt"),
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.log2("n_total") - F.col("_avg_log2_cnt"), 6).alias(
                "bits_per_token"
            ),
        )
    )
    if not buckets:
        return scored
    # exact interpolated percentiles from the (distinct-score, count)
    # distribution: domain-bounded, mergeable, no whole-corpus buffer.
    # The running-sum window sorts only the small distribution table.
    wv = Window.orderBy("bits_per_token").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dist = (
        scored.groupBy("bits_per_token")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_cum", F.sum("_c").over(wv))
    )
    ntot = dist.agg(F.sum("_c").cast("double").alias("_n"))
    d2 = dist.crossJoin(F.broadcast(ntot))

    def _cut_parts(qf: float, tag: str):
        # percentile_cont rank r = q*(N-1), 0-based; value at index i is
        # the smallest score whose cumulative count reaches i+1
        r = (F.col("_n") - 1) * F.lit(qf)
        return [
            F.min(
                F.when(F.col("_cum") >= F.floor(r) + 1, F.col("bits_per_token"))
            ).alias(f"_vlo{tag}"),
            F.min(
                F.when(F.col("_cum") >= F.floor(r) + 2, F.col("bits_per_token"))
            ).alias(f"_vhi{tag}"),
        ]

    q1, q2 = 0.33333333, 0.66666667
    parts = d2.agg(
        F.first("_n").alias("_n"), *_cut_parts(q1, "1"), *_cut_parts(q2, "2")
    )

    def _interp(qf: float, tag: str):
        r = (F.col("_n") - 1) * F.lit(qf)
        frac = r - F.floor(r)
        vlo, vhi = F.col(f"_vlo{tag}"), F.col(f"_vhi{tag}")
        return vlo + frac * (F.coalesce(vhi, vlo) - vlo)

    cuts = parts.select(_interp(q1, "1").alias("c1"), _interp(q2, "2").alias("c2"))
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        "bits_per_token",
        F.when(F.col("bits_per_token") <= F.col("c1"), F.lit("head"))
        .when(F.col("bits_per_token") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ccnet_bucket"),
    )


def bigram_logprob(df: DataFrame, text_col: str = "text",
                   alpha: float = 0.1, lam: float = 0.75) -> DataFrame:
    """Interpolated bigram language-model surprisal per document — the
    Markov upgrade of :func:`unigram_logprob` (CCNet's actual filter is
    a KenLM n-gram model, Wenzek et al. 2020 §3.3; a smoothed bigram is
    its first non-trivial order, trained ON the corpus itself like the
    unigram scorer).

    Model: ``p(w2|w1) = λ·(C₂(w1,w2)+α)/(C₁(w1)+α·V) + (1−λ)·C₁(w2)/N``
    (add-α conditional interpolated with the unigram), scored as
    ``bits_per_bigram = round(−mean(log₂ p), 6)`` over a document's
    adjacent token pairs.  Tokenization is identical to the unigram
    scorer (lowercase, whitespace-normalize, split).  Documents with
    fewer than two tokens have no bigrams and are excluded (the
    sub-bigram guard — no pseudo-pairs).

    Scale shape: one narrow pass builds the pair stream (``transform``
    over ``sequence`` — no self-join to form adjacency); the bigram and
    unigram count tables are map-side-combined groupBys bounded by
    vocabulary (Zipf-hot keys pre-aggregate per partition before the
    shuffle); the three count joins back onto the pair stream are
    AQE-broadcast while the vocab fits; ``V``/``N`` ride a 1-row
    broadcast crossJoin — no eager count() at plan-build time.  Final
    doc_id groupBy is output-sized.
    """
    toks_all = F.split(
        F.trim(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))),
        TOKEN_SPLIT,
    )
    toks = F.filter(toks_all, lambda x: F.length(x) > 0)
    # materialize the tokenized table once (lazy localCheckpoint, the
    # semantic_dedup/dsir pattern): it feeds the unigram table AND the
    # pair stream, and the pair stream is itself consumed twice (count
    # table + probe side) — without the barrier the corpus would be
    # re-scanned and re-tokenized up to 4x, since only identical
    # exchanges get ReuseExchange
    base = df.select("doc_id", toks.alias("t")).localCheckpoint(eager=False)
    uni = (
        base.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .localCheckpoint(eager=False)
    )
    consts = uni.agg(
        F.sum("c1").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    pairs = base.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("t"), i).alias("w1"),
                    F.element_at(F.col("t"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    p = (
        pairs.join(big, ["w1", "w2"])
        .join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1_w1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2")), "w2")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            F.log2(
                F.lit(lam) * (F.col("c2") + F.lit(alpha))
                / (F.col("c1_w1") + F.lit(alpha) * F.col("v"))
                + F.lit(1.0 - lam) * F.col("c1_w2") / F.col("n_total")
            ).alias("lp"),
        )
    )
    return p.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.avg("lp"), 6).alias("bits_per_bigram"),
    )


_DSIR_HEX = "0123456789abcdef"


def _dsir_grams(df: DataFrame, text_col: str, n: int, carry=()) -> DataFrame:
    """(doc_id, bucket, *carry) — one row per word n-gram occurrence
    (duplicates kept: DSIR features are counts), bucket = first 3 hex
    chars of md5(gram) read base-16 (0..4095).  The hex-digit
    arithmetic uses only ``instr``/``substring``, so any md5-capable
    engine (the DuckDB oracle included) computes bit-identical buckets.
    ``carry`` names per-doc columns to keep alongside."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT),
        lambda x: F.length(x) > 0,
    )
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = df.select("doc_id", *carry, F.explode(grams).alias("gram"))
    dig = (
        "(instr('0123456789abcdef', substring(_h3, {i}, 1)) - 1)"
    )
    bucket = F.expr(
        f"{dig.format(i=1)} * 256 + {dig.format(i=2)} * 16 + {dig.format(i=3)}"
    )
    return ex.withColumn("_h3", F.substring(F.md5("gram"), 1, 3)).select(
        "doc_id", bucket.cast("int").alias("bucket"), *carry
    )


def dsir_importance(
    df: DataFrame,
    target: DataFrame | None = None,
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    target_filter=None,
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al. 2023):
    score every document in ``df`` by how much more likely its hashed
    word-n-gram features are under the target domain sample than
    under the raw corpus — ``dsir_logweight`` = Σ_grams ln(p_target /
    p_raw) with add-α smoothed bucket distributions.  Documents with
    fewer than ``n`` words have no features and are omitted.

    The target domain is EITHER a separate ``target`` DataFrame OR —
    when the target is a subset of ``df`` itself (the common "docs that
    look like Wikipedia" setup) — a ``target_filter`` Column predicate
    on ``df``'s rows.  The predicate form is the scale path: the target
    histogram is derived from the same per-doc gram aggregate the
    scoring reads, so the corpus is tokenized+hashed exactly ONCE and
    no second scan, explode, or join exists anywhere in the plan.

    Scale shape: both bucket-count tables are bounded by ``n_buckets``
    rows → broadcast joins; per-doc scoring is one explode + map-side-
    combined groupBy(doc_id), so the shuffle carries one row per (doc,
    bucket-partial) — output-sized, not token-sized.  The 1-row totals
    ride broadcast crossJoins (no eager count job).
    """
    if (target is None) == (target_filter is None):
        raise ValueError("pass exactly one of target / target_filter")
    # the md5 gram pass is CPU-heavy and narrow: spread a small-split
    # scan over the cluster (no-op on a well-split 100 TB input)
    df = widen_if_narrow_scan(df)
    if target is not None:
        target = widen_if_narrow_scan(target)
    # per-doc bucket counts FIRST: the md5+explode gram pass is the
    # expensive scan, and all of its consumers (the corpus bucket
    # histogram, the target histogram in predicate form, and the
    # per-doc scoring) read the SAME (doc_id, bucket) aggregate
    if target_filter is not None:
        raw = (
            _dsir_grams(
                df.withColumn("_tgt", target_filter), text_col, n, carry=("_tgt",)
            )
            .groupBy("doc_id", "bucket")
            # _tgt is constant per doc_id: any() ≡ the doc's flag
            .agg(F.count(F.lit(1)).alias("_c"), F.any_value("_tgt").alias("_t"))
        )
    else:
        raw = (
            _dsir_grams(df, text_col, n)
            .groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        tgt = _dsir_grams(target, text_col, n)
        tgt_counts = tgt.groupBy("bucket").agg(F.count(F.lit(1)).alias("_ct"))
    # materialize the featurization ONCE: its consumers (the corpus
    # histogram, the predicate-mode target histogram, the totals, and
    # the scoring join) have different column prunings, so Catalyst's
    # ReuseExchange matches only some of them and the token-sized
    # explode+md5 pass would otherwise run up to 4× — the standard
    # write-the-DSIR-features-table step, as an executor-local
    # checkpoint (output-sized: ≤ n_buckets rows per doc)
    raw = raw.localCheckpoint(eager=True)
    if target_filter is not None:
        tgt_counts = (
            raw.filter(F.col("_t")).groupBy("bucket").agg(F.sum("_c").alias("_ct"))
        )
    raw_counts = raw.groupBy("bucket").agg(F.sum("_c").alias("_cr"))
    nr = raw_counts.agg(F.sum("_cr").cast("double").alias("_nr"))
    nt = tgt_counts.agg(F.sum("_ct").cast("double").alias("_nt"))
    ratio = (
        raw_counts.join(tgt_counts, "bucket", "left_outer")
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nt))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(alpha))
                    / (F.col("_nt") + F.lit(alpha * n_buckets))
                )
                - F.log(
                    (F.col("_cr") + F.lit(alpha))
                    / (F.col("_nr") + F.lit(alpha * n_buckets))
                )
            ).alias("_lr"),
        )
    )
    return (
        raw.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("n_grams"),
            F.round(F.sum(F.col("_c") * F.col("_lr")), 6).alias("dsir_logweight"),
        )
    )


#: Gopher-style document-quality rule set (Rae et al. 2021, Table A1,
#: re-expressed as pure Column predicates).  Thresholds are the paper's
#: where the signal exists in this corpus shape.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    keep_cols: bool = False,
) -> DataFrame:
    """Gopher-style repetition-free quality gates: word-count bounds,
    mean-word-length bounds, fraction-of-words-with-an-alphabetic-char,
    and distinct-stopword presence.  Emits one row per document with the
    measured signals, each rule's verdict, and the conjunctive ``keep``
    (``keep_cols=True`` carries every input column through instead of
    projecting to doc_id — lets a filter pipeline stay zero-shuffle
    with no join back to the source).

    Scale shape: zero shuffles — every signal is an array higher-order
    function over the token array (JVM, whole-stage codegen), so the
    filter composes with any downstream op without a stage break.  At
    100 TB this runs at scan bandwidth; contrast with an explode+groupBy
    formulation which would shuffle one row per TOKEN.
    """
    toks = F.split(F.trim(F.col(text_col)), TOKEN_SPLIT)
    t = F.filter(toks, lambda x: F.length(x) > 0)
    n_words = F.size(t)
    total_len = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_alpha = F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_intersect(
            F.transform(t, F.lower),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    if keep_cols:
        clash = {"n_words", "mean_word_len", "alpha_frac", "n_stopwords",
                 "r_word_count", "r_mean_len", "r_alpha", "r_stopwords",
                 "keep"} & set(df.columns)
        if clash:
            raise ValueError(
                f"keep_cols=True would shadow input column(s) {sorted(clash)}; "
                "rename them (e.g. from an earlier quality pass) first"
            )
    out = df.select(
        "*" if keep_cols else "doc_id",
        n_words.alias("n_words"),
        # try_divide: an empty document yields NULL signals (not a job
        # abort under ANSI mode); r_word_count is false there, so `keep`
        # still resolves to false through three-valued AND
        F.round(F.try_divide(total_len.cast("double"), n_words), 6).alias("mean_word_len"),
        F.round(F.try_divide(n_alpha.cast("double"), n_words), 6).alias("alpha_frac"),
        n_stop.alias("n_stopwords"),
    )
    r_words = F.col("n_words").between(min_words, max_words)
    r_len = F.col("mean_word_len").between(min_mean_len, max_mean_len)
    r_alpha = F.col("alpha_frac") >= min_alpha_frac
    r_stop = F.col("n_stopwords") >= min_stopwords
    return out.select(
        "*",
        r_words.alias("r_word_count"),
        r_len.alias("r_mean_len"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stopwords"),
        (r_words & r_len & r_alpha & r_stop).alias("keep"),
    )


# ---------------------------------------------------------------------------
# encoding repair / unicode hygiene (the "ftfy pass" of a web-scale
# pipeline: crawled text arrives double-encoded, denormalized, and
# salted with control characters — fix it BEFORE dedup/quality, or
# byte-identical documents hash apart)

#: zero-width + BOM codepoints stripped outright
_ZERO_WIDTH = "\u200b\u200c\u200d\ufeff"


def _fix_one_text(t: str) -> tuple:
    """Deterministic repair chain for one document (the published spec
    the stored-golden oracle replicates independently):

    1. mojibake: if the text survives a latin-1 encode → UTF-8 decode
       round-trip, differs from the original, and the result has
       strictly fewer codepoints ≥ U+0080, it was UTF-8 bytes
       mis-decoded as latin-1 — take the re-decode (the ftfy core
       heuristic, applied once: a single generation of mojibake).
    2. NFC normalization (combining sequences → precomposed forms).
    3. hygiene: NBSP → space; zero-width/BOM and C0/C1 controls
       (except ``\\n``/``\\t``) removed and counted.

    Returns ``(fixed, n_controls_removed, was_mojibake)``.
    """
    import unicodedata

    was_mojibake = False
    try:
        redecoded = t.encode("latin-1").decode("utf-8")
        if redecoded != t and sum(ord(c) >= 0x80 for c in redecoded) < sum(
            ord(c) >= 0x80 for c in t
        ):
            t = redecoded
            was_mojibake = True
    except (UnicodeEncodeError, UnicodeDecodeError):
        pass
    t = unicodedata.normalize("NFC", t)
    t = t.replace("\u00a0", " ")
    kept, removed = [], 0
    for c in t:
        if c in ("\n", "\t"):
            kept.append(c)
        elif c in _ZERO_WIDTH or unicodedata.category(c) == "Cc":
            removed += 1
        else:
            kept.append(c)
    return "".join(kept), removed, was_mojibake


def fix_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Arrow-batched encoding repair over the corpus — a pure per-row
    function (narrow, no shuffle, partition-order invariant); python
    is unavoidable here (Spark has no NFC/encoding surface), so the
    stage is a pandas UDF, not a row-at-a-time python UDF.

    Output: input columns + ``fixed_text``, ``n_controls_removed``,
    ``was_mojibake``, ``changed``.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<fixed_text:string,n_controls_removed:int,was_mojibake:boolean>")
    def _fix(texts: pd.Series) -> pd.DataFrame:
        rows = [_fix_one_text(t if t is not None else "") for t in texts]
        return pd.DataFrame(
            {
                "fixed_text": [r[0] for r in rows],
                "n_controls_removed": pd.Series(
                    [r[1] for r in rows], dtype="int32"
                ),
                "was_mojibake": [r[2] for r in rows],
            }
        )

    out = widen_if_narrow_scan(df).withColumn("_fx", _fix(F.col(text_col)))
    return (
        out.withColumn("fixed_text", F.col("_fx.fixed_text"))
        .withColumn("n_controls_removed", F.col("_fx.n_controls_removed"))
        .withColumn("was_mojibake", F.col("_fx.was_mojibake"))
        .withColumn("changed", F.col("fixed_text") != F.col(text_col))
        .drop("_fx")
    )


#: deterministic planted corpus for the encoding-repair gate — the
#: documents tables are pure ASCII (repair is a no-op there), so the
#: driver query builds this table in-memory, mirroring the mm_* queries
def synth_dirty_text_pandas(n: int = 64):
    """Rows cycle five shapes: clean ASCII, UTF-8-as-latin-1 mojibake,
    NFD combining sequences, control/zero-width salt, NBSP runs."""
    import pandas as pd

    rows = []
    for i in range(n):
        shape = i % 5
        if shape == 0:
            t = f"plain ascii document number {i} with nothing to fix"
        elif shape == 1:
            t = f"caf\u00e9 r\u00e9sum\u00e9 na\u00efve {i}".encode(
                "utf-8"
            ).decode("latin-1")
        elif shape == 2:
            # NFD: e + combining acute, a + combining grave
            t = f"de\u0301ja\u0300 vu composed {i}"
        elif shape == 3:
            t = f"ctrl\x00\x01salt\u200b\u200czero{i}\x7fwidth\ufeff"
        else:
            t = f"non\u00a0breaking\u00a0spaces {i}"
        rows.append({"doc_id": i, "text": t})
    return pd.DataFrame(rows)


def cap_per_source(
    df: DataFrame,
    cap: int = 5,
    source_col: str = "source",
    length_col: str = "n_chars",
    id_col: str = "doc_id",
    salt_buckets: int = 16,
) -> DataFrame:
    """Per-source document cap (the RefinedWeb/FineWeb "domain cap"
    stage: a handful of boilerplate-heavy domains otherwise dominate a
    web corpus).  Keeps the ``cap`` best documents per source under the
    total order ``(length DESC, id ASC)`` — deterministic because the
    id tie-break is unique.

    Scale shape: a single ``row_number`` window over ``source`` sorts
    every document of a hot domain on ONE task — a 100M-doc domain is
    a straggler.  So this is a salted two-phase top-k: phase 1 ranks
    within ``(source, id % salt_buckets)`` and keeps ``cap`` per salted
    group (any global top-``cap`` row is necessarily in its salt's
    top-``cap``, so no survivor is lost); phase 2 re-ranks the
    ≤ ``cap·salt_buckets`` survivors per source — a bounded-size
    group regardless of domain skew.  Two shuffles, both on bounded
    data; same algebra as a partial-aggregation top-k.

    Output: the kept rows only — ``(<id>, <source>, source_rank)``
    with ``source_rank ∈ [1, cap]``.
    """
    order = [F.col(length_col).desc(), F.col(id_col).asc()]
    salt = F.pmod(F.col(id_col), F.lit(salt_buckets))
    w1 = Window.partitionBy(source_col, salt).orderBy(*order)
    cand = (
        df.select(id_col, source_col, length_col)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)
    )
    w2 = Window.partitionBy(source_col).orderBy(*order)
    return (
        cand.withColumn("source_rank", F.row_number().over(w2))
        .filter(F.col("source_rank") <= cap)
        .select(id_col, source_col, "source_rank")
    )


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL canonicalization — the stage before URL-keyed dedup in a web
    pipeline (two crawls of one page differ only in host case, default
    ports, tracker params, param order, trailing slash, fragment).

    The published spec (independently replicated by the urllib-based
    golden generator):

    1. scheme and host lowercased;
    2. default port stripped (``:80`` for http, ``:443`` for https);
    3. empty path → ``/``; a single trailing slash stripped when the
       path is longer than ``/``;
    4. query split on ``&``; empty params and params whose *name*
       (the part before ``=``) starts with ``utm_`` dropped; the rest
       sorted bytewise-ascending and rejoined;
    5. fragment dropped.

    Entirely JVM built-ins (regexp_extract / array ops) — zero Python,
    zero shuffle; rows that don't parse as ``scheme://authority...``
    pass through with ``url_canon = NULL`` so a 100 TB run surfaces its
    garbage rows instead of mangling them.

    Output: input columns + ``scheme``, ``host``, ``port`` (string,
    empty if none), ``path_canon``, ``query_canon``, ``url_canon``.
    """
    u = F.col(url_col)
    pat = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"
    parsed = F.regexp_extract(u, pat, 0) != ""
    scheme = F.lower(F.regexp_extract(u, pat, 1))
    auth = F.regexp_extract(u, pat, 2)
    host = F.lower(F.regexp_extract(auth, r"^([^:]*)(?::([0-9]+))?$", 1))
    port = F.regexp_extract(auth, r"^([^:]*)(?::([0-9]+))?$", 2)
    port = F.when(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(port)
    raw_path = F.regexp_extract(u, pat, 3)
    qs = F.regexp_extract(u, pat, 4)
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "") & ~F.split(p, "=")[0].startswith("utm_"),
    )
    query = F.array_join(F.array_sort(params), "&")
    out = (
        df.withColumn("scheme", F.when(parsed, scheme))
        .withColumn("host", F.when(parsed, host))
        .withColumn("port", F.when(parsed, port))
        .withColumn("_p", F.when(parsed, F.when(raw_path == "", F.lit("/")).otherwise(raw_path)))
        .withColumn(
            "path_canon",
            F.when(
                (F.length("_p") > 1) & F.col("_p").endswith("/"),
                F.expr("substring(_p, 1, length(_p) - 1)"),
            ).otherwise(F.col("_p")),
        )
        .withColumn("query_canon", F.when(parsed, query))
    )
    url_canon = F.concat(
        F.col("scheme"),
        F.lit("://"),
        F.col("host"),
        F.when(F.col("port") == "", F.lit("")).otherwise(F.concat(F.lit(":"), F.col("port"))),
        F.col("path_canon"),
        F.when(F.col("query_canon") == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.col("query_canon"))
        ),
    )
    return out.withColumn("url_canon", F.when(parsed, url_canon)).drop("_p")


#: planted corpus for the URL-canonicalization gate (documents carry no
#: URL column), mirroring the fix_text/mm_* in-memory-input pattern
def synth_urls_pandas(n: int = 64):
    """Rows cycle eight shapes: already-canonical, uppercase host,
    default port, utm params, unsorted params, trailing slash,
    fragment, and an unparseable garbage row."""
    rows = []
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
        rows.append({"url_id": i, "url": u})
    return pd.DataFrame(rows)


# entity decode table: named entities first, &amp; LAST so a literal
# "&amp;lt;" decodes once (to "&lt;"), not twice — the single-pass
# order every HTML parser documents
HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&mdash;", "—"),
    ("&copy;", "©"),
    ("&amp;", "&"),
]


def html_extract(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "clean_text",
    id_col: str = "doc_id",
) -> DataFrame:
    """HTML → text extraction — the boilerplate-stripping stage every
    web-corpus pipeline runs before quality/dedup (C4 strips markup
    from WET-like text, Raffel et al. 2020 §2.2; RefinedWeb runs
    trafilatura, Penedo et al. 2023 §3.1).  Deterministic regex chain,
    documented so an independent engine reproduces it byte-for-byte:

    1. drop ``<script>``/``<style>`` ELEMENTS (tag + content,
       case-insensitive, dot-matches-newline, lazy) — two separate
       patterns because RE2-class engines have no backreferences;
    2. drop ``<!-- comments -->`` (lazy, spans newlines);
    3. every remaining tag ``<[/!]?[A-Za-z][^>]*>`` → one space; an
       HTML5-lexer-style guard: a ``<`` not followed by a letter,
       ``/`` or ``!`` is TEXT (so ``1 < 2`` survives), and the
       tag-name requirement stops ``< 2 and 3 >`` from being eaten as
       one pseudo-tag;
    4. decode the :data:`HTML_ENTITIES` table (named first, ``&amp;``
       last — single-pass decode order);
    5. collapse ``\\s+`` to one space and trim.

    All pure JVM ``regexp_replace``/``replace`` — zero shuffle, zero
    Python, narrow projection; null html stays null.  Emits the
    cleaned text plus raw/clean lengths (the markup-fraction signal a
    quality gate reads).
    """
    c = F.col(html_col)
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[/!]?[A-Za-z][^>]*>", " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.select(
        id_col,
        F.length(F.col(html_col)).cast("long").alias("n_raw"),
        c.alias(out_col),
        F.length(c).cast("long").alias("n_clean"),
    )


def c4_line_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "page_id",
    min_words_per_line: int = 3,
    min_kept_lines: int = 3,
    blocklist: tuple = ("badword1",),
) -> DataFrame:
    """C4's line- and page-level cleaning rules (Raffel et al. 2020
    §2.2) as one zero-shuffle JVM projection — the stage between HTML
    extraction and quality gating in every C4-style pipeline:

    line KEPT iff it ends in terminal punctuation (``. ! ? "``), has
    ≥ ``min_words_per_line`` whitespace words, and does not mention
    ``javascript`` (case-insensitive);
    page flags: ``has_lorem`` (contains "lorem ipsum"),
    ``has_brace`` (contains ``{`` — code, not prose), ``has_badword``
    (any blocklist word, word-boundary match);
    ``keep`` = no flag raised AND ≥ ``min_kept_lines`` kept lines.

    Word counting is ``size(split(trim(line), '\\s+'))`` — exactly the
    expression the SQL oracle replays, so engines agree on every edge
    (empty line counts 1).  Null text → null outputs, keep = 0.
    """
    lines = F.split(F.col(text_col), "\n")
    is_kept = lambda l: (
        l.rlike('[.!?"]$')
        & (F.size(F.split(F.trim(l), r"\s+")) >= min_words_per_line)
        & ~F.contains(F.lower(l), F.lit("javascript"))
    )
    kept = F.filter(lines, is_kept)
    low = F.lower(F.col(text_col))
    # regex-escape blocklist words (a literal "c++" must not be a
    # dangling quantifier); empty blocklist -> never flagged.  \b is
    # attached only to a word-character edge — next to a symbol it can
    # never match (both neighbors non-word), so "c++" gets \bc\+\+
    bad = F.lit(False) if not blocklist else None
    for w in blocklist:
        pre = r"\b" if re.match(r"\w", w) else ""
        post = r"\b" if re.search(r"\w$", w) else ""
        t = F.regexp_like(low, F.lit(pre + re.escape(w) + post))
        bad = t if bad is None else (bad | t)
    has_lorem = F.contains(low, F.lit("lorem ipsum")).cast("int")
    has_brace = F.contains(F.col(text_col), F.lit("{")).cast("int")
    has_badword = bad.cast("int")
    n_kept = F.size(kept)
    keep = (
        (has_lorem == 0)
        & (has_brace == 0)
        & (has_badword == 0)
        & (n_kept >= min_kept_lines)
    ).cast("int")
    return df.select(
        id_col,
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        F.array_join(kept, "\n").alias("kept_text"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        has_badword.alias("has_badword"),
        F.coalesce(keep, F.lit(0)).alias("keep"),
    )


def spfhp_strategies(hist: dict, budget: int) -> list:
    """Shortest-pack-first histogram packing — the strategy derivation
    of Kosec, Fu & Krell 2021 ("Efficient Sequence Packing without
    Cross-contamination"), re-stated as a precise deterministic spec:

    Process lengths from ``budget`` down to 1 with their histogram
    counts.  Maintain strategy groups ``(lengths, remaining, count)``
    in creation order (the index IS the strategy_id):

    * while docs of length L remain, place one L into the OPEN group
      with the smallest remaining space ≥ L (tie → earliest created):
      ``take = min(n, group.count)`` packs split off into a NEW group
      with L appended (the parent keeps the rest);
    * when no group fits, bulk-open new packs: per-pack multiplicity
      ``m = budget // L`` → ``n // m`` packs of ``(L,)*m`` and one
      group of ``(L,) * (n % m)`` for the remainder.

    Returns ``[(lengths_tuple, count), ...]`` in creation order with
    zero-count (fully split) groups removed but order preserved.
    O(budget²) driver work on a ≤ budget-row histogram — corpus-size
    independent.
    """
    groups: list = []  # [lengths_tuple, remaining, count]
    for L in range(budget, 0, -1):
        n = int(hist.get(L, 0))
        while n > 0:
            cand = [
                i for i, g in enumerate(groups)
                if g[1] >= L and g[2] > 0
            ]
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
                    # the leftover docs form ONE partially-filled pack
                    groups.append([(L,) * rest, budget - rest * L, 1])
                n = 0
    return [(tuple(g[0]), g[2]) for g in groups if g[2] > 0]


def pack_histogram(
    df: DataFrame,
    budget: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sequence packing WITHOUT cross-document attention contamination
    (the alternative to :func:`pack_chunks`' concat-and-split): each
    pack is a multiset of whole documents whose token counts sum to
    ≤ ``budget`` — the shape sample-packed LLM training wants, per
    Kosec, Fu & Krell 2021 (SPFHP).

    Scale shape (100 TB): the corpus collapses to a ≤ ``budget``-row
    length histogram (one map-side-combined aggregate); strategy
    derivation (:func:`spfhp_strategies`) is O(budget²) DRIVER work;
    assignment back is pure rank arithmetic — per length, docs ranked
    by id map into strategy instances via prefix-sum offsets carried
    on a broadcast consumption table (``rank ∈ [offset, offset +
    count·mult)`` → ``instance = (rank-offset) // mult``) — one
    window rank + one broadcast range join, no driver loop over docs.

    Deterministic end-to-end: ranks order by ``id_col``, strategies
    consume ranks in strategy_id order.  Docs longer than ``budget``
    are capped to one-per-pack at length ``budget`` (truncation
    policy is the caller's); empty docs are excluded.

    Output: ``(id, length, strategy_id, pack_id, slot)`` — pack_id
    globally unique, slot = the doc's position among its pack's
    same-length members.
    """
    from collections import Counter

    toks = F.size(F.split(F.trim(F.col(text_col)), TOKEN_SPLIT))
    # null text must become 0, not null: F.least SKIPS nulls, so a
    # null n_tokens would silently pack at length = budget
    n_tokens = F.when(
        F.col(text_col).isNull()
        | (F.length(F.trim(F.col(text_col))) == 0),
        F.lit(0),
    ).otherwise(toks)
    base = df.select(
        id_col, F.least(n_tokens, F.lit(budget)).alias("length")
    ).filter(F.col("length") > 0)
    hist = {r["length"]: r["n"] for r in
            base.groupBy("length").agg(F.count(F.lit(1)).alias("n")).collect()}
    strategies = spfhp_strategies(hist, budget)
    # consumption table: one row per (strategy, distinct length) with
    # the per-length rank window this strategy consumes and the
    # strategy's global pack-id base
    rows, offsets, pack_base = [], {}, 0
    for sid, (lengths, count) in enumerate(strategies):
        for L, mult in sorted(Counter(lengths).items()):
            off = offsets.get(L, 0)
            rows.append((L, sid, mult, off, count, pack_base))
            offsets[L] = off + count * mult
        pack_base += count
    spark = df.sparkSession
    cons = spark.createDataFrame(
        rows or [(0, 0, 1, 0, 0, 0)],
        "length int, strategy_id int, mult int, off long, count long, pack_base long",
    )
    w = Window.partitionBy("length").orderBy(id_col)
    ranked = base.withColumn("rank", F.row_number().over(w).cast("long") - 1)
    j = ranked.join(
        F.broadcast(cons),
        (ranked["length"] == cons["length"])
        & (F.col("rank") >= F.col("off"))
        & (F.col("rank") < F.col("off") + F.col("count") * F.col("mult")),
    )
    inst = (F.col("rank") - F.col("off")) / F.col("mult")
    return j.select(
        id_col,
        ranked["length"],
        "strategy_id",
        (F.col("pack_base") + F.floor(inst)).cast("long").alias("pack_id"),
        ((F.col("rank") - F.col("off")) % F.col("mult")).cast("int").alias("slot"),
    )


def gate_agreement(
    df: DataFrame,
    gate_a: str,
    gate_b: str,
) -> DataFrame:
    """Inter-gate agreement for quality-filter QA: Cohen's kappa and
    keep-set Jaccard between two boolean document gates (e.g. Gopher
    rules vs a stopword/punctuation heuristic).  The pipeline question
    this answers: are two filters redundant (kappa ≈ 1, drop one), or
    complementary (kappa ≈ 0, compose them)?  NULL verdicts count as
    reject (a gate that can't score a document doesn't keep it).

    Scale shape: ONE global aggregate of four integer cells (the 2×2
    confusion matrix) — a handful of longs through one exchange at any
    corpus size; the kappa/Jaccard arithmetic is a fixed expression
    tree over those exact integers (plain IEEE divisions, same doubles
    on any engine), so the whole output is exactly SQL-replayable.
    ``kappa`` is NULL when expected agreement is 1 (a constant gate —
    chance-corrected agreement undefined); ``jaccard_keep`` is NULL
    when both keep-sets are empty.
    """
    a = F.coalesce(F.col(gate_a).cast("boolean"), F.lit(False))
    b = F.coalesce(F.col(gate_b).cast("boolean"), F.lit(False))
    cell = lambda p: F.sum(p.cast("long"))  # noqa: E731
    m = df.agg(
        F.count(F.lit(1)).alias("n"),
        cell(a & b).alias("n11"),
        cell(a & ~b).alias("n10"),
        cell(~a & b).alias("n01"),
        cell(~a & ~b).alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) / n
    pa = (F.col("n11") + F.col("n10")) / n
    pb = (F.col("n11") + F.col("n01")) / n
    pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
    kappa = F.when(pe != 1.0, (po - pe) / (F.lit(1.0) - pe))
    union = F.col("n11") + F.col("n10") + F.col("n01")
    jac = F.when(union > 0, F.col("n11").cast("double") / union)
    return m.select(
        "n", "n11", "n10", "n01", "n00",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round(kappa, 6).alias("kappa"),
        F.round(jac, 6).alias("jaccard_keep"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    query_col: str = "qtext",
    fp_scale: int = 10**6,
) -> DataFrame:
    """BM25 lexical retrieval: top-k documents per query.

    The lexical baseline every RAG / retrieval-training pipeline runs
    next to the dense ANN family (s_knn/s_ann_*): BM25 (Robertson &
    Zaragoza 2009) with the Lucene idf form ``ln(1 + (N−df+0.5)/(df+0.5))``
    (always positive) and ``tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    saturation.  Query term frequency is ignored (distinct query
    terms), the standard short-query setting.

    Determinism: every per-(query,doc,term) contribution is floored to
    fixed point (``floor(idf·tfn·fp_scale)``) BEFORE the sum, so the
    per-pair score is an exact integer sum — bit-identical under any
    partitioning and value-matched by the SQL oracle (the one
    float chain per term is the same op sequence on both engines).
    ``avgdl`` is ``Σdl / N_withterms`` as one explicit division, not
    ``avg()`` (whose accumulation order is engine-internal).

    Scale shape (the 100 TB corpus / small query-set setting):

    * postings = one token-sized explode + one (doc,term) hash agg —
      the classic inverted-index build, map-side combined;
    * df/avgdl/N are term- and single-row aggregates broadcast back;
    * the retrieval join broadcasts the *query* terms (queries ≪
      corpus always holds in retrieval); only postings whose term
      appears in some query survive the join — the scan is pruned by
      the broadcast hash, nothing corpus-sized shuffles;
    * per-query top-k is a window over candidate rows only.

    Returns ``(query_id, doc_id, n_hit, score_fp, rnk)`` — ``score_fp``
    the fixed-point integer score, ``n_hit`` matched query terms.
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT)
    terms = docs.select("doc_id", F.explode(toks).alias("term")).filter(
        F.length("term") > 0
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    docfreq = (
        terms.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "_avgdl"
        ),
        F.count(F.lit(1)).cast("double").alias("_n"),
    )
    qtoks = F.split(F.trim(F.lower(F.col(query_col))), TOKEN_SPLIT)
    qterms = (
        queries.select("query_id", F.explode(qtoks).alias("term"))
        .filter(F.length("term") > 0)
        .distinct()
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl"))
    )
    # df is vocabulary-sized — prune it to the query vocabulary BEFORE
    # broadcasting (query vocab is small by the retrieval premise; the
    # full df table at web scale is billions of terms and must never
    # broadcast)
    docfreq_q = docfreq.join(F.broadcast(qterms.select("term").distinct()), "term")
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(docfreq_q.join(F.broadcast(stats))), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit"),
            F.sum(F.floor(idf * tfn * F.lit(float(fp_scale)))).alias(
                "score_fp"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_fp").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "doc_id", "n_hit", "score_fp", "rnk")
    )


def ngram_overlap_stats(
    df: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    *,
    n_max: int = 4,
) -> DataFrame:
    """BLEU sufficient statistics per (candidate, reference) row pair.

    Distillation / eval pipelines score model outputs against
    references with corpus BLEU (Papineni et al. 2002); the
    distributed form aggregates *clipped n-gram match counts* — the
    sufficient statistics — and derives BLEU driver-side.  This
    operator emits exactly those: for n=1..n_max, ``m{n}`` = Σ_g
    min(count_cand(g), count_ref(g)) (modified precision numerator)
    and ``t{n}`` = max(|cand|−n+1, 0) (denominator), plus both lengths
    for the brevity penalty.  Everything is an exact integer — corpus
    BLEU over any subset is then Σm/Σt per order, no floats stored.

    Zero-shuffle: per-row JVM higher-order functions over the token
    arrays (the repetition_scores precedent — in-row cost is quadratic
    in *document* length via the distinct-gram × count-scan loop,
    linear in corpus size; at 100 TB the operator is a pure map).
    """
    ctoks = F.split(F.trim(F.lower(F.col(cand_col))), TOKEN_SPLIT)
    rtoks = F.split(F.trim(F.lower(F.col(ref_col))), TOKEN_SPLIT)
    base = df.select(
        "*",
        F.explode(
            F.array(
                F.struct(
                    F.filter(ctoks, lambda t: F.length(t) > 0).alias("c"),
                    F.filter(rtoks, lambda t: F.length(t) > 0).alias("r"),
                )
            )
        ).alias("_p"),
    )

    def grams(col, n):
        # n-gram strings joined by \x1f (tokens are whitespace-split,
        # so the separator never collides)
        return F.when(
            F.size(col) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(col) - n),
                lambda i: F.array_join(F.slice(col, i + 1, n), "\x1f"),
            ),
        ).otherwise(F.array().cast("array<string>"))

    out = base
    for n in range(1, n_max + 1):
        cg, rg = grams(F.col("_p.c"), n), grams(F.col("_p.r"), n)
        # one generator barrier per order so the gram arrays evaluate
        # once, not once per referencing expression
        out = out.select(
            "*",
            F.explode(
                F.array(F.struct(cg.alias("cg"), rg.alias("rg")))
            ).alias(f"_g{n}"),
        )
        cgc, rgc = F.col(f"_g{n}.cg"), F.col(f"_g{n}.rg")
        matched = F.aggregate(
            F.array_distinct(cgc),
            F.lit(0).cast("long"),
            lambda acc, g: acc
            + F.least(
                F.size(F.filter(cgc, lambda x: x == g)),
                F.size(F.filter(rgc, lambda x: x == g)),
            ).cast("long"),
        )
        out = out.withColumn(f"m{n}", matched).withColumn(
            f"t{n}", F.size(cgc).cast("long")
        )
    keep = [c for c in df.columns if c not in (cand_col, ref_col)]
    stats = [F.size("_p.c").cast("long").alias("cand_len"),
             F.size("_p.r").cast("long").alias("ref_len")]
    for n in range(1, n_max + 1):
        stats += [F.col(f"m{n}"), F.col(f"t{n}")]
    return out.select(*keep, *stats)


def chi2_drift(
    df: DataFrame, bucket_col: str, split_col: str
) -> DataFrame:
    """Chi-square homogeneity table between corpus snapshots.

    The drift monitor a continuously-ingested training corpus runs
    between refreshes: does the distribution over a categorical
    ``bucket_col`` (language, source domain, tool, error code) differ
    between snapshots (``split_col``)?  Emits the full contingency
    table with expected counts and per-cell chi-square contributions —
    Σ contrib is the test statistic; the largest cells name *where*
    the drift is (the per-bucket attribution PSI users actually read).

    Exactness: observed/row/column/grand totals are integer
    aggregates; ``e = (row_tot · col_tot) / N`` and
    ``contrib = (o − e)² / e`` are a fixed short IEEE chain on exact
    integers — deterministic across engines, value-matched oracle.

    Scale: one map-side-combined groupBy over the corpus produces the
    cell table (≤ buckets × splits rows); everything downstream is
    cell-table-sized with the two marginal tables broadcast back.
    """
    cells = df.groupBy(
        F.col(bucket_col).alias("bucket"), F.col(split_col).alias("split")
    ).agg(F.count(F.lit(1)).alias("o")).persist()
    row_tot = cells.groupBy("bucket").agg(F.sum("o").alias("_rt"))
    col_tot = cells.groupBy("split").agg(F.sum("o").alias("_ct"))
    grand = cells.agg(F.sum("o").cast("double").alias("_n"))
    e = (F.col("_rt") * F.col("_ct")).cast("double") / F.col("_n")
    return (
        cells.join(F.broadcast(row_tot), "bucket")
        .join(F.broadcast(col_tot), "split")
        .crossJoin(F.broadcast(grand))
        .select(
            "bucket",
            "split",
            "o",
            e.alias("e"),
            (
                (F.col("o") - e) * (F.col("o") - e) / e
            ).alias("contrib"),
        )
    )


def doremi_weights(
    df: DataFrame,
    domain_col: str = "domain",
    loss_col: str = "loss_fp",
    *,
    steps: int = 8,
    eta_num: int = 1,
    eta_den: int = 4,
    scale: int = 10**12,
    mu_scale: int = 10**6,
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023), exact form.

    Data-mixture optimization: domains whose (excess) loss is high get
    up-weighted multiplicatively each step; the *averaged* iterate is
    the mixture used for the big run.  DoReMi's exp(η·λ) update is
    replaced by the linearized multiplicative-weights rule
    ``w ← w · (1 + η·μ_d)`` (the classic MW variant — same regret
    bound family), because it is exact in fixed point: with per-doc
    losses as integers in [0, mu_scale] every update, normalization
    (128-bit intermediate) and the running average are integer ops —
    bit-identical under any partitioning and replayable by the SQL
    oracle as unrolled CTEs (the pagerank/k-means determinism
    contract).

    Scale shape: the corpus contributes ONE map-side-combined
    groupBy(domain) — sums and counts; the iteration itself runs on
    the k-domain table driver-side (k is tens-to-thousands; the same
    bounded-driver-state rule as the k-means k×dim collect).

    Input: per-document rows ``(domain_col, loss_col)`` with
    ``loss_col`` an integer loss at ``mu_scale`` fixed point (loss in
    [0, 1]).  Returns ``(domain, mu_fp, w, w_bar)`` — the domain mean
    loss, final weight, and the averaged (output) weight, weights at
    ``scale`` fixed point.
    """
    mu_rows = sorted(
        df.groupBy(F.col(domain_col).alias("domain"))
        .agg(
            F.expr(f"sum({loss_col}) div count(1)").alias("mu_fp")
        )
        .collect()
    )
    k = len(mu_rows)
    mu = {r["domain"]: int(r["mu_fp"]) for r in mu_rows}
    w = {d: scale // k for d in mu}
    acc = {d: 0 for d in mu}
    for _ in range(steps):
        wu = {
            d: (w[d] * (mu_scale + (eta_num * mu[d]) // eta_den)) // mu_scale
            for d in mu
        }
        tot = sum(wu.values())
        w = {d: (wu[d] * scale) // tot for d in mu}  # python bigint = exact
        for d in mu:
            acc[d] += w[d]
    out = [
        (d, mu[d], w[d], acc[d] // steps) for d in sorted(mu)
    ]
    return df.sparkSession.createDataFrame(
        out, "domain string, mu_fp long, w long, w_bar long"
    )


def sample_to_quota(
    df: DataFrame,
    quotas: DataFrame,
    domain_col: str = "domain",
    id_col: str = "doc_id",
    *,
    salt_buckets: int = 16,
) -> DataFrame:
    """Execute a data mixture: deterministic per-domain quota sample.

    The write-side of :func:`doremi_weights` / any mixture table —
    given ``quotas(domain, quota)``, keep exactly ``min(quota, |D|)``
    documents per domain, chosen by the uniform deterministic order
    ``(md5(id), id)`` (a seedless replayable sample, the engine's
    stratified_sample convention).

    Same salted two-phase top-k as :func:`cap_per_source` (a global
    per-domain window would sort a 100M-doc hot domain on one task):
    phase 1 ranks within ``(domain, id % salt_buckets)`` and keeps
    ``quota`` per salted group — any global top-``quota`` row is in
    its salt's top-``quota``, so no survivor is lost; phase 2 re-ranks
    the ≤ ``quota·salt_buckets`` survivors.  The quota table is tiny
    (one row per domain) and broadcast.

    Output: kept rows ``(<id>, <domain>, pick_rank)``,
    ``pick_rank ∈ [1, quota]``.
    """
    ordk = F.md5(F.col(id_col).cast("string"))
    order = [ordk.asc(), F.col(id_col).asc()]
    salt = F.pmod(F.col(id_col), F.lit(salt_buckets))
    base = df.select(id_col, domain_col).join(
        F.broadcast(quotas), domain_col
    )
    w1 = Window.partitionBy(domain_col, salt).orderBy(*order)
    cand = base.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= F.col("quota")
    )
    w2 = Window.partitionBy(domain_col).orderBy(*order)
    return (
        cand.withColumn("pick_rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("pick_rank") <= F.col("quota"))
        .select(id_col, domain_col, "pick_rank")
    )
