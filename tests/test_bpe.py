"""Distributed BPE trainer/encoder tests.

The tiny-corpus expectations below are hand-computed from the
published algorithm (Sennrich et al. 2016 word-histogram BPE with
overlapping pair counts, non-overlapping left-to-right merge
application, ties count-desc then (left, right) asc) — an
implementation-independent check; the sf-corpus golden cross-check
lives in the oracle mirror (test_entry_contract: t_bpe_train).
"""
import pytest

from napalm_logs_spark.operators.bpe import END, bpe_encode, bpe_train

CORPUS = [
    "low low low low low",
    "lower lower",
    "newest newest newest newest newest newest",
    "widest widest widest",
]
# hand-derived merge sequence for CORPUS (histogram: low:5 lower:2
# newest:6 widest:3)
EXPECTED = [
    (1, "e", "s", 9),
    (2, "es", "t", 9),
    (3, "est", END, 9),
    (4, "l", "o", 7),
    (5, "lo", "w", 7),
    (6, "e", "w", 6),
]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)],
                                 "doc_id long, text string")


def test_bpe_train_matches_hand_computation(corpus_df):
    got = [tuple(r) for r in bpe_train(corpus_df, n_merges=6)
           .orderBy("merge_rank")
           .collect()]
    assert got == EXPECTED


def test_bpe_train_partitioning_invariant(corpus_df):
    a = bpe_train(corpus_df, n_merges=6).orderBy("merge_rank").collect()
    b = bpe_train(corpus_df.repartition(7), n_merges=6).orderBy(
        "merge_rank").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_bpe_train_min_freq_stop(spark):
    # every word unique, every pair count 1 < min_freq=2 → zero merges
    df = spark.createDataFrame([(0, "abc defg hij")], "doc_id long, text string")
    assert bpe_train(df, n_merges=5).count() == 0


def test_bpe_encode_greedy_lowest_rank(corpus_df, spark):
    merges = bpe_train(corpus_df, n_merges=6)
    df = spark.createDataFrame([(0, "lowest low")], "doc_id long, text string")
    out = bpe_encode(df, merges).select("bpe_tokens").first()[0]
    # lowest: e+s → es+t → est+</w> → l+o → lo+w  ⇒  ["low", "est</w>"]
    # low:    l+o → lo+w                          ⇒  ["low", "</w>"]
    assert out == ["low", "est" + END, "low", END]


def test_bpe_encode_lossless_segmentation(corpus_df, spark):
    # concatenating a word's subword tokens (modulo the END sentinel)
    # must reproduce the word — BPE is a segmentation, never a rewrite
    merges = bpe_train(corpus_df, n_merges=6)
    df = spark.createDataFrame(
        [(0, "Widest Newest lowlow unseen-word")], "doc_id long, text string"
    )
    toks = bpe_encode(df, merges).select("bpe_tokens").first()[0]
    rebuilt = "".join(toks).replace(END, " ").strip()
    assert rebuilt == "widest newest lowlow unseen-word"


def test_bpe_train_nul_and_odd_symbols(spark):
    # symbols may contain ANY character (struct pair keys, no joined-
    # string separator): a NUL-bearing corpus must train, not crash
    df = spark.createDataFrame(
        [(0, "a\x00b a\x00b a\x00b x\ty")], "doc_id long, text string"
    )
    rows = bpe_train(df, n_merges=3).collect()
    assert rows, "NUL corpus learned no merges"
    assert any("\x00" in r["left"] + r["right"] for r in rows)


def test_bpe_empty_and_whitespace_only(spark):
    df = spark.createDataFrame([(0, "   ")], "doc_id long, text string")
    assert bpe_train(df, n_merges=3).count() == 0
    out = bpe_encode(df, []).select("bpe_tokens").first()[0]
    assert out == []


def _python_bpe(texts, n_merges, min_freq=2):
    """Independent in-test replication of the published algorithm
    (distinct code from operators/bpe.py AND tools/make_goldens.py)."""
    import re
    from collections import Counter

    hist = Counter(
        w for t in texts for w in re.split(r"[ \t\n\r\f\x0B]+", t.lower()) if w
    )
    syms = {w: [*w, END] for w in hist}
    rules = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for w, c in hist.items():
            for pair in zip(syms[w], syms[w][1:]):
                pc[pair] += c
        if not pc:
            break
        (l, r), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_freq:
            break
        rules.append((rank, l, r, n))
        for w in hist:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return rules


def test_bpe_randomized_differential(spark):
    """Random corpora through the Spark trainer must match the
    independent python replication merge-for-merge — catches
    tokenization, tie-break, and merge-application divergence the
    fixed fixtures cannot."""
    import random

    rng = random.Random(1234)
    alphabet = "abcde"
    for trial in range(4):
        texts = [
            " ".join(
                "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(3, 30))
            )
            for _ in range(rng.randint(2, 8))
        ]
        expected = _python_bpe(texts, n_merges=8)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = [tuple(r) for r in bpe_train(df, n_merges=8)
               .orderBy("merge_rank").collect()]
        assert got == expected, f"trial {trial}: {got} != {expected}"
