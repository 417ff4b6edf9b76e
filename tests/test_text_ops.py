"""Text-analysis operators over the documents table."""

import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.operators.text import (
    fingerprint,
    lang_id,
    quality_scores,
    with_tokens,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "one two  three"), (2, ""), (3, "solo")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_tokens, r.n_subwords) for r in with_tokens(df).collect()}
    assert got[1] == (3, 3)
    assert got[2][0] == 0
    assert got[3] == (1, 1)


def test_quality_scores_deterministic(docs):
    a = quality_scores(docs).orderBy("doc_id").collect()
    b = quality_scores(docs).orderBy("doc_id").collect()
    assert a == b
    row = a[0]
    assert 0 <= row.punct_ratio <= 1
    assert 0 <= row.stopword_ratio <= 1
    assert row.n_tokens > 0


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is happy"),
            (2, "der Hund ist nicht mit der Katze und"),
            (3, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang_pred for r in lang_id(df).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "und"


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different text")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.fp_md5, r.fp_rolling) for r in fingerprint(df).collect()}
    assert rows[1] == rows[2]          # case/whitespace-insensitive
    assert rows[1] != rows[3]
    assert isinstance(rows[1][1], int)


def test_text_ops_stay_jvm_side(docs):
    """No Python UDF in the plan — whole-stage codegen throughout."""
    plan = (
        quality_scores(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # codegen span present (printed as "*(n)" in the compact plan form)
    assert "WholeStageCodegen" in plan or "*(1)" in plan


def test_tf_idf_top_terms(spark):
    from napalm_logs_spark.operators.text import tf_idf_top_terms

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry cherry cherry")],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.rnk): r.term for r in tf_idf_top_terms(df, k=1).collect()}
    # 'apple' unique to doc1, 'cherry' dominant in doc3
    assert got[(1, 1)] == "apple"
    assert got[(3, 1)] == "cherry"


def test_winnow_fingerprints_against_reference(spark):
    """Engine output equals a brute-force python winnowing (same
    (md5, pos) lexicographic selection key)."""
    import hashlib
    import re as _re

    from napalm_logs_spark.operators.text import winnow_fingerprints

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
        (2, "the quick brown fox jumps over the lazy dog"),  # dup of 0
        (3, "short"),                                        # below k+w-1 → none
    ]
    k, w = 8, 4

    def brute(doc_id, text):
        norm = _re.sub(r"\s+", " ", text.strip()).lower()
        if len(norm) < k + w - 1:
            return set()
        grams = [
            (hashlib.md5(norm[i:i + k].encode()).hexdigest(), i + 1)
            for i in range(len(norm) - k + 1)
        ]
        out = set()
        for s in range(len(grams) - w + 1):
            window = grams[s:s + w]
            h, p = min((h + str(p).zfill(10), (h, p)) for h, p in window)[1]
            out.add((doc_id, p, h))
        return out

    expected = set().union(*(brute(d, t) for d, t in texts))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.doc_id, r.pos, r.gram_hash)
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    assert got == expected
    assert not any(d == 3 for d, _, _ in got)
    # identical docs share every fingerprint (the winnowing guarantee)
    fp0 = {(p, h) for d, p, h in got if d == 0}
    fp2 = {(p, h) for d, p, h in got if d == 2}
    assert fp0 == fp2 and fp0


def test_winnow_pairs_planted_common_substring(spark):
    from napalm_logs_spark.operators.text import winnow_pairs

    shared = "a long shared passage that both documents contain verbatim"
    texts = [
        (0, f"intro one {shared} outro alpha"),
        (1, f"different beginning {shared} different end"),
        (2, "completely unrelated text with nothing in common at all"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b) for r in winnow_pairs(df, min_shared=2).collect()}
    assert (0, 1) in got
    assert not any(2 in p for p in got)


def test_stratified_sample_deterministic_and_proportional(spark):
    from napalm_logs_spark.operators.text import stratified_sample

    rows = [(i, "t", ["en", "de"][i % 2]) for i in range(4000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    s1 = stratified_sample(docs, {"en": 0.5, "de": 0.125})
    s2 = stratified_sample(docs, {"en": 0.5, "de": 0.125})
    got1 = sorted(r.doc_id for r in s1.collect())
    assert got1 == sorted(r.doc_id for r in s2.collect())  # reproducible
    by_lang = {r["lang"]: r["n"] for r in
               s1.groupBy("lang").agg(__import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n")).collect()}
    assert abs(by_lang["en"] / 2000 - 0.5) < 0.06
    assert abs(by_lang["de"] / 2000 - 0.125) < 0.04
    # default_rate=0 drops unlisted strata entirely
    assert stratified_sample(docs, {"en": 1.0}).filter("lang = 'de'").count() == 0
    # rate 1.0 keeps every row of the stratum
    assert stratified_sample(docs, {"en": 1.0}).filter("lang = 'en'").count() == 2000


def test_pack_chunks_budget_semantics(spark):
    from napalm_logs_spark.operators.text import pack_chunks

    rows = [(i, "w " * 100, "en") for i in range(10)]  # 100 tokens each
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: (r.chunk_id, r.chunk_off, r.n_tokens) for r in
           pack_chunks(docs, budget_tokens=256, key="lang", order_col="doc_id").collect()}
    # cum-before: 0,100,200,...,900 -> chunk floor(cum/256)
    assert got[0] == (0, 0, 100)
    assert got[2] == (0, 200, 100)       # 200 < 256 -> chunk 0, offset 200
    assert got[3] == (1, 300 - 256, 100) # 300 // 256 = 1
    assert got[9] == (3, 900 - 3 * 256, 100)
    # empty text contributes zero tokens
    docs2 = spark.createDataFrame([(0, "   ", "en")], "doc_id long, text string, lang string")
    r0 = pack_chunks(docs2, key="lang", order_col="doc_id").collect()[0]
    assert (r0.n_tokens, r0.chunk_id) == (0, 0)


def test_clean_text_scrubs_urls_and_emails(spark):
    from napalm_logs_spark.operators.text import clean_text

    docs = spark.createDataFrame(
        [
            (0, "visit https://example.com/x?q=1 or mail bob@corp.example.org now"),
            (1, "no noise here"),
            (2, "http://a.b c@d.ee https://e.f/g"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in clean_text(docs).collect()}
    assert (got[0].n_urls, got[0].n_emails) == (1, 1)
    assert got[0].clean_text == "visit or mail now"
    assert (got[1].n_urls, got[1].n_emails, got[1].clean_text) == (0, 0, "no noise here")
    assert (got[2].n_urls, got[2].n_emails) == (2, 1)


def test_repetition_scores(spark):
    from napalm_logs_spark.operators.text import repetition_scores

    docs = spark.createDataFrame(
        [
            (0, "a b c d"),          # no repetition at all
            (1, "a b a b a b"),      # heavy bigram repetition
            (2, "x"),                # single token
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_scores(docs).collect()}
    assert out[0].dup_token_frac == 0.0
    assert out[0].dup_2gram_frac == 0.0
    # doc1: tokens 6, distinct 2 -> 4/6; bigrams [ab,ba,ab,ba,ab]:
    # top "a b" 3/5; all 5 occurrences are of repeated bigrams
    assert out[1].dup_token_frac == round(4 / 6, 6)
    assert out[1].top_2gram_frac == round(3 / 5, 6)
    assert out[1].dup_2gram_frac == 1.0
    # single token: NO bigrams at all — fractions are 0, not the old
    # pseudo-bigram artifact that scored lone tokens as maximally
    # repetitive (round-3 ADVICE fix)
    assert out[2].dup_token_frac == 0.0
    assert out[2].top_2gram_frac == 0.0
    assert out[2].dup_2gram_frac == 0.0


def test_repetition_scores_no_shuffle(spark):
    from napalm_logs_spark.operators.text import repetition_scores

    docs = spark.createDataFrame(
        [(i, "w x y z " * 3) for i in range(8)], "doc_id long, text string"
    )
    plan = repetition_scores(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_repetition_scores_vs_python_reference(spark):
    """Randomized cross-check against an independent pure-python
    implementation (one Spark job for the whole corpus)."""
    import random

    rng = random.Random(123)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(60)
    ]

    def ref(text):
        toks = text.split()
        # sub-bigram docs have no bigrams: fractions are 0 (ADVICE fix)
        bigrams = (
            [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
            if len(toks) >= 2
            else []
        )
        from collections import Counter

        c = Counter(bigrams)
        total = max(len(bigrams), 1)
        dup = sum(v for v in c.values() if v > 1)
        return (
            round(1 - len(set(toks)) / max(len(toks), 1), 6),
            round(max(c.values()) / total, 6) if c else 0.0,
            round(dup / total, 6),
        )

    from napalm_logs_spark.operators.text import repetition_scores

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.dup_token_frac, r.top_2gram_frac, r.dup_2gram_frac)
        for r in repetition_scores(df).collect()
    }
    for i, text in docs:
        assert got[i] == ref(text), (i, text, got[i], ref(text))


def test_temperature_mix_upsamples_tail(spark):
    """tau < 1 must keep a LARGER fraction of small strata than of the
    dominant stratum, and tau=1 must be proportional (uniform rate)."""
    from napalm_logs_spark.operators.text import temperature_mix

    rows = [(i, "en" if i < 800 else "is") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = temperature_mix(df, temperature=0.5, target_frac=0.5).collect()
    rates = {r.lang: r.mix_rate for r in kept}
    assert rates["is"] > rates["en"]
    # kept fraction per stratum tracks its rate within hash resolution
    n_is = sum(1 for r in kept if r.lang == "is")
    assert abs(n_is / 200 - rates["is"]) < 0.1

    uniform = temperature_mix(df, temperature=1.0, target_frac=0.5).collect()
    ur = {r.lang: r.mix_rate for r in uniform}
    assert ur["is"] == ur["en"] == 0.5


def test_pii_scrub_categories_and_order(spark):
    from napalm_logs_spark.operators.text import pii_scrub

    rows = [
        (0, "reach me at jane.doe@corp.example.com or +44 207 9460 thanks"),
        (1, "server 192.168.10.250 logged id 123456789 twice: 987654321012"),
        (2, "no pii in this sentence at all"),
        (3, "a@b.io c@d.org 10.0.0.1 +1 800 5551 4000000000"),
    ]
    got = {
        r.doc_id: r
        for r in pii_scrub(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    r0 = got[0]
    assert (r0.n_email, r0.n_phone) == (1, 1)
    assert "<EMAIL>" in r0.redacted and "<PHONE>" in r0.redacted
    assert "jane" not in r0.redacted and "9460" not in r0.redacted
    r1 = got[1]
    assert (r1.n_ipv4, r1.n_id) == (1, 2)
    assert r1.redacted == "server <IP> logged id <ID> twice: <ID>"
    r2 = got[2]
    assert (r2.n_email, r2.n_ipv4, r2.n_phone, r2.n_id) == (0, 0, 0, 0)
    assert r2.redacted == rows[2][1]
    r3 = got[3]
    assert (r3.n_email, r3.n_ipv4, r3.n_phone, r3.n_id) == (2, 1, 1, 1)
    assert r3.redacted == "<EMAIL> <EMAIL> <IP> <PHONE> <ID>"


def test_unigram_logprob_hand_computed(spark):
    """4-doc corpus with hand-computable unigram surprisal: doc 0 is all
    boilerplate (most common token), doc 3 is all hapaxes — the CCNet
    head/tail ordering must follow."""
    import math

    from napalm_logs_spark.operators.text import unigram_logprob

    rows = [
        (0, "the the the the"),      # cnt(the)=6 across corpus
        (1, "the rare words here"),
        (2, "the other words there"),
        (3, "unique singleton tokens everywhere"),
    ]
    # corpus: the×6, words×2, rest ×1 → N = 16 tokens
    got = {r.doc_id: r for r in unigram_logprob(
        spark.createDataFrame(rows, "doc_id long, text string"), buckets=True
    ).collect()}
    N = 16
    exp0 = round(math.log2(N) - math.log2(6), 6)
    assert got[0].bits_per_token == exp0 and got[0].n_tokens == 4
    exp3 = round(math.log2(N) - math.log2(1), 6)
    assert got[3].bits_per_token == exp3
    # doc1: tokens the(6), rare(1), words(2), here(1)
    exp1 = round(
        math.log2(N)
        - (math.log2(6) + math.log2(1) + math.log2(2) + math.log2(1)) / 4, 6,
    )
    assert got[1].bits_per_token == exp1
    assert got[0].ccnet_bucket == "head" and got[3].ccnet_bucket == "tail"
    # monotone: all-boilerplate scores strictly below all-hapax
    assert got[0].bits_per_token < got[1].bits_per_token < got[3].bits_per_token


def test_bigram_logprob_hand_computed(spark):
    """3-doc corpus with a hand-computable interpolated bigram model:
    the repeated 'a b' pair must score below the one-off 'c d'."""
    import math

    from napalm_logs_spark.operators.text import bigram_logprob

    rows = [
        (0, "a b a b"),   # bigrams: (a,b)x2, (b,a)x1
        (1, "a b"),       # bigram: (a,b)
        (2, "c d"),       # bigram: (c,d)
    ]
    # unigrams: a×3 b×3 c×1 d×1 → N=8, V=4
    # C2: (a,b)=3, (b,a)=1, (c,d)=1
    got = {r.doc_id: r for r in bigram_logprob(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).collect()}
    N, V = 8.0, 4.0

    def p(c2, c1_w1, c1_w2):
        return 0.75 * (c2 + 0.1) / (c1_w1 + 0.1 * V) + 0.25 * c1_w2 / N

    exp1 = round(-math.log2(p(3, 3, 3)), 6)
    assert got[1].bits_per_bigram == exp1 and got[1].n_bigrams == 1
    exp2 = round(-math.log2(p(1, 1, 1)), 6)
    assert got[2].bits_per_bigram == exp2
    exp0 = round(
        -(2 * math.log2(p(3, 3, 3)) + math.log2(p(1, 3, 3))) / 3, 6
    )
    assert got[0].bits_per_bigram == exp0 and got[0].n_bigrams == 3
    # the common pair is less surprising than the hapax pair
    assert got[1].bits_per_bigram < got[2].bits_per_bigram


def test_bigram_logprob_sub_bigram_docs_excluded(spark):
    from napalm_logs_spark.operators.text import bigram_logprob

    df = spark.createDataFrame(
        [(0, "a b"), (1, "solo"), (2, "   "), (3, "")],
        "doc_id long, text string",
    )
    assert sorted(r.doc_id for r in bigram_logprob(df).collect()) == [0]


def test_unigram_logprob_empty_doc_dropped(spark):
    from napalm_logs_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(0, "a b"), (1, "   "), (2, "")], "doc_id long, text string"
    )
    assert sorted(r.doc_id for r in unigram_logprob(df).collect()) == [0]


def test_dsir_importance_vs_python_reference(spark):
    import hashlib
    import math
    from collections import Counter

    from napalm_logs_spark.operators.text import dsir_importance

    texts = {
        1: "the cat sat on the mat",
        2: "dogs chase the cat quickly",
        3: "x",  # one token -> no bigrams -> omitted from output
        4: "spark shuffles data across executors",
        5: "the cat chased the dog",
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    out = {
        r.doc_id: (r.n_grams, r.dsir_logweight)
        for r in dsir_importance(
            df, target_filter=F.col("doc_id").isin(1, 5)
        ).collect()
    }

    hexd = "0123456789abcdef"

    def grams(t):
        w = t.lower().split()
        return [" ".join(w[i : i + 2]) for i in range(len(w) - 1)]

    def bucket(g):
        h = hashlib.md5(g.encode()).hexdigest()
        return hexd.index(h[0]) * 256 + hexd.index(h[1]) * 16 + hexd.index(h[2])

    raw, tgt, per_doc = Counter(), Counter(), {}
    for i, t in texts.items():
        bs = [bucket(g) for g in grams(t)]
        per_doc[i] = bs
        raw.update(bs)
        if i in (1, 5):
            tgt.update(bs)
    nr, nt, B = sum(raw.values()), sum(tgt.values()), 4096
    for i, bs in per_doc.items():
        if not bs:
            assert i not in out
            continue
        lw = sum(
            math.log((tgt.get(b, 0) + 1.0) / (nt + B))
            - math.log((raw.get(b, 0) + 1.0) / (nr + B))
            for b in bs
        )
        ng, got = out[i]
        assert ng == len(bs)
        assert got == pytest.approx(lw, abs=2e-6)
    # in-domain docs must outscore a disjoint-vocabulary doc
    assert out[1][1] > out[4][1]


def test_gopher_keep_cols_collision_raises(spark):
    from napalm_logs_spark.operators.text import gopher_rules

    df = spark.createDataFrame(
        [(1, "some text here", True)], ["doc_id", "text", "keep"]
    )
    with pytest.raises(ValueError, match="shadow input column"):
        gopher_rules(df, keep_cols=True)


def test_fix_text_planted_shapes(spark):
    from napalm_logs_spark.operators.text import fix_text, synth_dirty_text_pandas

    dirty = spark.createDataFrame(
        synth_dirty_text_pandas(10), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in fix_text(dirty).collect()}
    assert not got[0].changed and got[0].n_controls_removed == 0
    assert got[1].was_mojibake and "café" in got[1].fixed_text
    # NFD input comes out precomposed
    assert got[2].changed and got[2].fixed_text.startswith("déjà")
    assert got[3].n_controls_removed == 6
    assert " " not in got[4].fixed_text and got[4].changed


def test_fix_text_preserves_newline_tab_and_nulls(spark):
    from napalm_logs_spark.operators.text import fix_text

    df = spark.createDataFrame(
        [(0, "line1\nline2\tcol"), (1, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in fix_text(df).collect()}
    assert got[0].fixed_text == "line1\nline2\tcol" and not got[0].changed
    assert got[1].fixed_text == "" and got[1].n_controls_removed == 0


def test_fix_text_single_generation_only(spark):
    # double-encoded mojibake is repaired exactly one generation — the
    # documented contract (ftfy applies iteratively; this chain is one
    # deterministic pass)
    from napalm_logs_spark.operators.text import _fix_one_text

    once = "café".encode("utf-8").decode("latin-1")
    twice = once.encode("utf-8").decode("latin-1")
    fixed, _, mj = _fix_one_text(twice)
    assert mj and fixed == once


def test_cap_per_source_matches_brute_force(spark):
    from napalm_logs_spark.operators.text import cap_per_source

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(
        (r.source, r.source_rank, r.doc_id)
        for r in cap_per_source(docs, cap=3).collect()
    )
    import collections
    rows = sorted(
        ((r.source, -r.n_chars, r.doc_id) for r in docs.collect())
    )
    exp, seen = [], collections.Counter()
    for src, neg, did in rows:
        seen[src] += 1
        if seen[src] <= 3:
            exp.append((src, seen[src], did))
    assert got == sorted(exp)
    # every source capped; ranks dense from 1
    per = collections.Counter(s for s, _, _ in got)
    assert all(v <= 3 for v in per.values())


def test_cap_per_source_salt_invariance(spark):
    # the salted two-phase top-k keeps the same survivors under any
    # partitioning (phase-1 locality never loses a global top-cap row)
    from napalm_logs_spark.operators.text import cap_per_source

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, cap_per_source(docs, cap=4).collect()))
    c = sorted(map(tuple, cap_per_source(docs.repartition(7), cap=4).collect()))
    assert a == c and len(a) > 0


def test_canonicalize_urls_shapes(spark):
    from napalm_logs_spark.operators.text import canonicalize_urls, synth_urls_pandas

    urls = spark.createDataFrame(synth_urls_pandas(8), "url_id long, url string")
    got = {r.url_id: r for r in canonicalize_urls(urls).collect()}
    assert got[0].url_canon == "https://example.com/a/b?k=v&x=0"  # already canonical
    assert got[1].url_canon == "http://www.example1.com/Path"      # host lowercased, path case kept
    assert got[2].url_canon == "http://example.com/p2"             # default port stripped
    assert got[3].url_canon == "https://shop.example.com/item?id=3"  # utm_* dropped
    assert got[4].url_canon == "https://example.com/s?a=1&m=4&z=9"   # params sorted
    assert got[5].url_canon == "https://example.com/dir/5"          # trailing slash
    assert got[6].url_canon == "https://example.com/page"           # fragment dropped
    assert got[7].url_canon is None and got[7].host is None         # garbage -> NULLs


def test_canonicalize_urls_edges_and_plan(spark):
    from napalm_logs_spark.operators.text import canonicalize_urls

    df = spark.createDataFrame(
        [
            (0, "https://h.com:8443/x"),          # non-default port kept
            (1, "http://h.com"),                   # empty path -> /
            (2, "https://h.com/?b=2&a=1&utm_x=1&"),  # root path survives, empty param dropped
            (3, "https://h.com/p?a=x%3D1&a=b"),    # duplicate names keep both, sorted
            (4, None),
        ],
        "url_id long, url string",
    )
    out = canonicalize_urls(df)
    got = {r.url_id: r for r in out.collect()}
    assert got[0].url_canon == "https://h.com:8443/x" and got[0].port == "8443"
    assert got[1].url_canon == "http://h.com/" and got[1].path_canon == "/"
    assert got[2].url_canon == "https://h.com/?a=1&b=2"
    assert got[3].url_canon == "https://h.com/p?a=b&a=x%3D1"
    assert got[4].url_canon is None
    # pure JVM per-row expressions: no shuffle, no python stage
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_html_extract_hostile_markup(spark):
    """Script bodies with embedded tags and comparison '<', uppercase
    style, multi-line comments, single-pass entity decode, naked '<'
    passthrough, and null tolerance."""
    from napalm_logs_spark.operators.text import html_extract

    rows = [
        # script contains a quoted "</p>" and a bare 1 < 2 comparison
        (1, '<p>a</p><script>if (1 < 2) { s = "</p>"; }</script><p>b</p>'),
        # uppercase STYLE with attributes, content dropped wholesale
        (2, 'x<STYLE media="all">p > a { color: red }</STYLE>y'),
        # comment spanning lines
        (3, "before<!-- line1\nline2 -->after"),
        # entities: &amp;lt; decodes ONCE (to &lt;), not twice
        (4, "&amp;lt;tag&gt; &quot;q&quot; &#39;s&#39; &copy;&mdash;&nbsp;."),
        # naked '<' with no closing '>' stays literal text
        (5, "1 < 2 and 3 > 2"),
        # plain text untouched (whitespace collapsed)
        (6, "  plain   text  "),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r.doc_id: r for r in html_extract(df).collect()}
    assert got[1].clean_text == "a b"
    assert got[2].clean_text == "x y"
    assert got[3].clean_text == "before after"
    # &nbsp; decodes to a real space, so it survives as a separator
    assert got[4].clean_text == "&lt;tag> \"q\" 's' ©— ."
    assert got[5].clean_text == "1 < 2 and 3 > 2"
    assert got[6].clean_text == "plain text"
    assert got[7].clean_text is None and got[7].n_clean is None
    assert got[1].n_raw == len(rows[0][1])


def test_html_extract_plan_is_narrow(spark):
    """Pure projection: no Exchange, no Python in the plan."""
    from napalm_logs_spark.operators.text import html_extract

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wrapped = df.selectExpr("doc_id", "concat('<p>', text, '</p>') AS html")
    plan = (
        html_extract(wrapped)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_c4_line_rules_verdicts(spark):
    """Hand-checked verdicts: line drops (no terminal punct, short,
    javascript), page flags (lorem/brace/badword), the min-kept-lines
    gate, and null tolerance."""
    from napalm_logs_spark.operators.text import c4_line_rules

    rows = [
        # 3 good lines -> keep
        (1, 'Alpha beta gamma delta.\nSecond proper line here!\nThird one is also fine."'),
        # good lines but a brace page flag
        (2, "Alpha beta gamma delta.\nSecond proper line here!\nx = { 1 }\nThird one is also fine."),
        # javascript LINE dropped but page survives with 3 others
        (3, "Alpha beta gamma delta.\nPlease enable JavaScript now.\nSecond proper line here!\nThird one is also fine."),
        # only 2 kept lines -> dropped by the min-kept gate
        (4, "Alpha beta gamma delta.\nno punct line here\nSecond proper line here!"),
        # badword page flag (word-boundary: 'badword1x' must NOT flag)
        (5, "Alpha badword1 beta gamma.\nSecond proper line here!\nThird one is also fine."),
        (6, "Alpha badword1x beta gamma.\nSecond proper line here!\nThird one is also fine."),
        # lorem ipsum page flag
        (7, "Lorem ipsum dolor sit amet.\nSecond proper line here!\nThird one is also fine."),
        (8, None),
    ]
    df = spark.createDataFrame(rows, "page_id long, text string")
    got = {r.page_id: r for r in c4_line_rules(df).collect()}
    assert got[1].keep == 1 and got[1].n_kept == 3
    assert got[2].keep == 0 and got[2].has_brace == 1
    assert got[3].keep == 1 and got[3].n_kept == 3 and got[3].n_lines == 4
    assert "JavaScript" not in got[3].kept_text
    assert got[4].keep == 0 and got[4].n_kept == 2
    assert got[5].keep == 0 and got[5].has_badword == 1
    assert got[6].keep == 1 and got[6].has_badword == 0
    assert got[7].keep == 0 and got[7].has_lorem == 1
    assert got[8].keep == 0 and got[8].kept_text is None


def test_c4_line_rules_plan_is_narrow(spark):
    from napalm_logs_spark.operators.text import c4_line_rules

    df = spark.range(100).selectExpr(
        "id AS page_id", "concat('Line one is fine.', chr(10), 'x') AS text"
    )
    plan = c4_line_rules(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_c4_blocklist_edge_cases(spark, monkeypatch):
    from napalm_logs_spark.operators import text
    from napalm_logs_spark.operators.text import c4_line_rules

    df = spark.createDataFrame(
        [(1, "We like c++ here a lot.\nSecond proper line here!\nThird one is fine.")],
        "page_id long, text string",
    )
    # empty blocklist: never flagged, no crash
    monkeypatch.setattr(text, "C4_BLOCKLIST", ())
    r = c4_line_rules(df).collect()[0]
    assert r.has_badword == 0 and r.keep == 1
    # regex metacharacters in a blocklist word are matched literally
    monkeypatch.setattr(text, "C4_BLOCKLIST", ("c++",))
    r2 = c4_line_rules(df).collect()[0]
    assert r2.has_badword == 1 and r2.keep == 0


def test_spfhp_strategies_hand_example():
    from napalm_logs_spark.operators.text import spfhp_strategies

    # B=4, lengths {4:1, 3:1, 2:2, 1:1}: the 3-pack absorbs the 1
    # (smallest remaining space), the two 2s co-pack
    assert spfhp_strategies({4: 1, 3: 1, 2: 2, 1: 1}, 4) == [
        ((4,), 1), ((2, 2), 1), ((3, 1), 1)
    ]
    # leftover docs form ONE partial pack, not one pack per doc
    assert spfhp_strategies({1: 7}, 4) == [((1, 1, 1, 1), 1), ((1, 1, 1), 1)]
    assert spfhp_strategies({}, 4) == []


def test_pack_histogram_invariants(spark, docs):
    from napalm_logs_spark.operators.text import pack_histogram

    out = pack_histogram(docs, budget=128).cache()
    n_docs = docs.count()
    assert out.count() == n_docs                       # every doc packed once
    assert out.select("doc_id").distinct().count() == n_docs
    sums = out.groupBy("pack_id").agg(F.sum("length").alias("s"))
    assert sums.filter("s > 128").count() == 0         # capacity respected
    # SPFHP on this corpus packs tightly (>90% fill)
    fill = sums.agg(F.avg("s")).collect()[0][0]
    assert fill > 115, fill
    # deterministic under repartitioning (rank + broadcast arithmetic)
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, pack_histogram(docs.repartition(7), budget=128).collect()))
    assert a == b


def test_pack_histogram_caps_and_empties(spark):
    from napalm_logs_spark.operators.text import pack_histogram

    df = spark.createDataFrame(
        [(1, "w " * 1000), (2, "a b c"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pack_histogram(df, budget=16).collect()}
    assert set(got) == {1, 2}              # empty/null docs excluded
    assert got[1].length == 16             # long doc capped at budget
    assert got[2].length == 3
    assert got[1].pack_id != got[2].pack_id


def test_readability_hand_computed(spark):
    from napalm_logs_spark.operators.text import readability_scores

    df = spark.createDataFrame(
        [
            # "the cat sat." -> 3 words, 1 sentence, syllables:
            # the(1) cat(1) sat.(1) = 3
            (1, "the cat sat."),
            # two sentences, a vowel-less "word" (counts 1 syllable)
            (2, "xyz! go now."),
            (3, ""),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in readability_scores(df).collect()}
    r1 = got[1]
    assert (r1["n_tokens"], r1["n_sentences"], r1["n_syllables"]) == (3, 1, 3)
    wps, spw = 3.0 / 1.0, 3.0 / 3.0
    assert abs(r1["flesch_ease"] - round(206.835 - 1.015 * wps - 84.6 * spw, 6)) < 1e-9
    assert abs(r1["fk_grade"] - round(0.39 * wps + 11.8 * spw - 15.59, 6)) < 1e-9
    r2 = got[2]
    # xyz has no vowel group -> +1; go(1) now(1) -> 3 syllables, 2 sentences
    assert (r2["n_tokens"], r2["n_sentences"], r2["n_syllables"]) == (3, 2, 3)
    # empty/whitespace docs: no fake readability
    for k in (3, 4):
        assert got[k]["flesch_ease"] is None and got[k]["fk_grade"] is None


def test_readability_zero_shuffle(spark):
    from napalm_logs_spark.operators.text import readability_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = readability_scores(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_char_entropy_hand_computed(spark):
    from napalm_logs_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaa"),     # one symbol -> 0 bits
            (2, "abab"),     # two equiprobable -> 1 bit
            (3, "abcd"),     # four equiprobable -> 2 bits
            (4, ""),
            (5, "aab"),      # 2/3,1/3 -> 0.918296 bits
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in char_entropy(df).collect()}
    assert got[1]["char_entropy"] == 0.0 and got[1]["n_distinct_chars"] == 1
    assert abs(got[2]["char_entropy"] - 1.0) < 1e-9
    assert abs(got[3]["char_entropy"] - 2.0) < 1e-9
    assert got[4]["char_entropy"] is None and got[4]["n_distinct_chars"] == 0
    import math

    h = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    assert abs(got[5]["char_entropy"] - round(h, 6)) < 1e-9


def test_char_entropy_zero_shuffle(spark):
    from napalm_logs_spark.operators.text import char_entropy

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = char_entropy(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# gate agreement (Cohen's kappa between two boolean quality gates)


def test_gate_agreement_kappa_known_matrix(spark):
    from napalm_logs_spark.operators.text import gate_agreement

    # confusion matrix n11=4 n10=1 n01=1 n00=4 over n=10:
    # po=0.8, pa=pb=0.5 -> pe=0.5, kappa=0.6, jaccard=4/6
    rows = (
        [(True, True)] * 4 + [(True, False)] + [(False, True)]
        + [(False, False)] * 4
    )
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    r = gate_agreement(df, "a", "b").collect()[0]
    assert (r.n, r.n11, r.n10, r.n01, r.n00) == (10, 4, 1, 1, 4)
    assert r.p_observed == 0.8 and r.p_expected == 0.5
    assert r.kappa == 0.6
    assert r.jaccard_keep == round(4 / 6, 6)


def test_gate_agreement_constant_gate_kappa_null(spark):
    from napalm_logs_spark.operators.text import gate_agreement

    # both gates constant-true: pe=1 -> kappa undefined (NULL), not 0/0
    df = spark.createDataFrame([(True, True)] * 5, "a boolean, b boolean")
    r = gate_agreement(df, "a", "b").collect()[0]
    assert r.kappa is None and r.p_expected == 1.0 and r.jaccard_keep == 1.0


def test_gate_agreement_null_verdict_counts_as_reject(spark):
    from napalm_logs_spark.operators.text import gate_agreement

    df = spark.createDataFrame(
        [(True, None), (None, None), (True, True)], "a boolean, b boolean"
    )
    r = gate_agreement(df, "a", "b").collect()[0]
    assert (r.n11, r.n10, r.n01, r.n00) == (1, 1, 0, 1)


def test_gate_agreement_disjoint_keeps(spark):
    from napalm_logs_spark.operators.text import gate_agreement

    df = spark.createDataFrame(
        [(True, False)] * 3 + [(False, True)] * 3, "a boolean, b boolean"
    )
    r = gate_agreement(df, "a", "b").collect()[0]
    assert r.p_observed == 0.0 and r.jaccard_keep == 0.0
    assert r.kappa == -1.0


# ---- bm25_topk ------------------------------------------------------


def _py_bm25(docs, queries, k1=1.2, b=0.75, fp=10**6):
    """Independent replication: dict-based BM25 with the same
    floor-fixed-point per-term quantization."""
    import math

    toks = lambda t: [w for w in t.strip().lower().split() if w]
    dtoks = {d: toks(t) for d, t in docs}
    dl = {d: len(ts) for d, ts in dtoks.items() if ts}
    n = len(dl)
    avgdl = sum(dl.values()) / float(n)
    df = {}
    for d, ts in dtoks.items():
        for w in set(ts):
            df[w] = df.get(w, 0) + 1
    out = {}
    for qid, qt in queries:
        scores = {}
        for w in set(toks(qt)):
            if w not in df:
                continue
            idf = math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5))
            for d, ts in dtoks.items():
                tf = ts.count(w)
                if not tf:
                    continue
                tfn = (tf * (k1 + 1.0)) / (
                    tf + k1 * ((1.0 - b) + b * dl[d] / avgdl)
                )
                hit, s = scores.get((qid, d), (0, 0))
                scores[(qid, d)] = (hit + 1, s + math.floor(idf * tfn * fp))
        out.update(scores)
    return out


def test_bm25_parity_with_replication(spark):
    from napalm_logs_spark.operators.text import bm25_topk

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick red fox"),
        (2, "lazy dog sleeps all day the dog"),
        (3, "entirely unrelated words here"),
        (4, ""),  # empty doc: no postings, excluded from avgdl
    ]
    queries = [(100, "quick fox"), (101, "lazy dog"), (102, "zzz missing")]
    got = {
        (r.query_id, r.doc_id): (r.n_hit, r.score_fp)
        for r in bm25_topk(
            spark.createDataFrame(docs, "doc_id long, text string"),
            spark.createDataFrame(queries, "query_id long, qtext string"),
            k=10,
        ).collect()
    }
    assert got == _py_bm25(docs, queries)


def test_bm25_topk_rank_and_cap(spark):
    from napalm_logs_spark.operators.text import bm25_topk

    docs = [(i, "common term" + (" rare" if i == 7 else "")) for i in range(20)]
    queries = [(1, "rare common")]
    rows = bm25_topk(
        spark.createDataFrame(docs, "doc_id long, text string"),
        spark.createDataFrame(queries, "query_id long, qtext string"),
        k=5,
    ).collect()
    assert len(rows) == 5
    by_rnk = sorted(rows, key=lambda r: r.rnk)
    assert by_rnk[0].doc_id == 7 and by_rnk[0].n_hit == 2  # rare term wins
    # ties below rank 1 broken by doc_id ascending
    assert [r.doc_id for r in by_rnk[1:]] == [0, 1, 2, 3]


def test_bm25_partitioning_invariance(spark):
    from napalm_logs_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} tok{i % 5} filler") for i in range(60)],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(0, "tok1 tok2"), (1, "tok4 filler")], "query_id long, qtext string"
    )
    a = sorted(map(tuple, bm25_topk(docs.repartition(1), qs, k=8).collect()))
    c = sorted(map(tuple, bm25_topk(docs.repartition(13), qs, k=8).collect()))
    assert a == c


# ---- ngram_overlap_stats (BLEU sufficient statistics) ---------------


def _py_bleu_stats(cand, ref, n_max=4):
    ct = [w for w in cand.strip().lower().split() if w]
    rt = [w for w in ref.strip().lower().split() if w]
    out = [len(ct), len(rt)]
    for n in range(1, n_max + 1):
        cg = [tuple(ct[i:i + n]) for i in range(len(ct) - n + 1)]
        rg = [tuple(rt[i:i + n]) for i in range(len(rt) - n + 1)]
        m = sum(min(cg.count(g), rg.count(g)) for g in set(cg))
        out += [m, len(cg)]
    return tuple(out)


def test_bleu_stats_parity(spark):
    from napalm_logs_spark.operators.text import ngram_overlap_stats

    pairs = [
        (0, "the cat sat on the mat", "the cat sat on the mat"),
        (1, "the the the the", "the cat"),        # clipping matters
        (2, "a b c d e", "e d c b a"),            # unigrams match, bigrams don't
        (3, "", "anything here"),                 # empty candidate
        (4, "short", ""),                         # empty reference
        (5, "x y", "x y z"),                      # cand shorter than ref
    ]
    df = spark.createDataFrame(pairs, "doc_id long, cand string, ref string")
    got = {
        r.doc_id: (r.cand_len, r.ref_len, r.m1, r.t1, r.m2, r.t2,
                   r.m3, r.t3, r.m4, r.t4)
        for r in ngram_overlap_stats(df).collect()
    }
    for i, c, r in pairs:
        assert got[i] == _py_bleu_stats(c, r), (i, got[i], _py_bleu_stats(c, r))


def test_bleu_stats_perfect_match_gives_unit_precision(spark):
    from napalm_logs_spark.operators.text import ngram_overlap_stats

    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta", "alpha beta gamma delta")],
        "doc_id long, cand string, ref string",
    )
    r = ngram_overlap_stats(df).collect()[0]
    assert (r.m1, r.t1, r.m4, r.t4) == (4, 4, 1, 1)


# ---- chi2_drift ------------------------------------------------------


def test_chi2_drift_matches_scipy_free_reference(spark):
    from napalm_logs_spark.operators.text import chi2_drift

    # 2x2 with known chi2: [[10, 20], [30, 40]]
    rows = (
        [("en", "a")] * 10 + [("en", "b")] * 20
        + [("fr", "a")] * 30 + [("fr", "b")] * 40
    )
    df = spark.createDataFrame(rows, "lang string, snap string")
    got = {(r.bucket, r.split): r for r in chi2_drift(df, "lang", "snap").collect()}
    n = 100.0
    exp = {
        ("en", "a"): 30 * 40 / n, ("en", "b"): 30 * 60 / n,
        ("fr", "a"): 70 * 40 / n, ("fr", "b"): 70 * 60 / n,
    }
    obs = {("en", "a"): 10, ("en", "b"): 20, ("fr", "a"): 30, ("fr", "b"): 40}
    assert set(got) == set(exp)
    tot = 0.0
    for k in exp:
        assert got[k].o == obs[k] and got[k].e == exp[k]
        c = (obs[k] - exp[k]) ** 2 / exp[k]
        assert abs(got[k].contrib - c) < 1e-12
        tot += got[k].contrib
    # hand-computed chi2 for this table
    assert abs(tot - (100 * (10 * 40 - 20 * 30) ** 2) / (30 * 70 * 40 * 60)) < 1e-9


def test_chi2_drift_no_drift_zero_statistic(spark):
    from napalm_logs_spark.operators.text import chi2_drift

    rows = [("x", "a")] * 5 + [("x", "b")] * 5 + [("y", "a")] * 3 + [("y", "b")] * 3
    df = spark.createDataFrame(rows, "b string, s string")
    assert all(r.contrib == 0.0 for r in chi2_drift(df, "b", "s").collect())


# ---- doremi_weights --------------------------------------------------


def test_doremi_hand_computed_two_domains(spark):
    from napalm_logs_spark.operators.text import doremi_weights

    # domain a: loss 0.5 (500000 fp), domain b: loss 0.0
    df = spark.createDataFrame(
        [("a", 500000), ("a", 500000), ("b", 0)], "domain string, loss_fp long"
    )
    got = {r.domain: r for r in doremi_weights(df, steps=1).collect()}
    S, M = 10**12, 10**6
    w0 = S // 2
    wu_a = (w0 * (M + 500000 // 4)) // M
    wu_b = (w0 * (M + 0)) // M
    tot = wu_a + wu_b
    wa, wb = (wu_a * S) // tot, (wu_b * S) // tot
    assert got["a"].mu_fp == 500000 and got["b"].mu_fp == 0
    assert (got["a"].w, got["b"].w) == (wa, wb)
    assert (got["a"].w_bar, got["b"].w_bar) == (wa, wb)  # steps=1: avg = last


def test_doremi_upweights_lossy_domain_and_conserves_mass(spark):
    from napalm_logs_spark.operators.text import doremi_weights

    rows = [("hard", (i * 37) % 1000001) for i in range(200)] + [
        ("easy", (i * 3) % 1000) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "domain string, loss_fp long")
    got = {r.domain: r for r in doremi_weights(df, steps=8).collect()}
    assert got["hard"].w_bar > got["easy"].w_bar
    assert got["hard"].w_bar + got["easy"].w_bar <= 10**12
    assert got["hard"].w_bar + got["easy"].w_bar >= 10**12 - 20  # floor loss


def test_doremi_partitioning_invariance(spark):
    from napalm_logs_spark.operators.text import doremi_weights

    rows = [(f"d{i % 5}", (i * 7919) % 1000001) for i in range(500)]
    df = spark.createDataFrame(rows, "domain string, loss_fp long")
    a = sorted(map(tuple, doremi_weights(df.repartition(1)).collect()))
    b = sorted(map(tuple, doremi_weights(df.repartition(17)).collect()))
    assert a == b


# ---- sample_to_quota --------------------------------------------------


def _py_quota_sample(rows, quotas):
    import hashlib

    out = {}
    by_dom = {}
    for i, d in rows:
        by_dom.setdefault(d, []).append(i)
    for d, ids in by_dom.items():
        qt = quotas.get(d)
        if qt is None:
            continue
        ranked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        for r, i in enumerate(ranked[:qt], 1):
            out[(i, d)] = r
    return out


def test_quota_sample_parity_and_exact_counts(spark):
    from napalm_logs_spark.operators.text import sample_to_quota

    rows = [(i, f"d{i % 3}") for i in range(60)]
    quotas = {"d0": 5, "d1": 25, "d2": 0}  # d1 quota > |d1| tests min; d2 dropped
    # |d1| = 20 < 25 -> keep all 20; d2 quota 0 -> none
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    qdf = spark.createDataFrame(list(quotas.items()), "domain string, quota long")
    got = {
        (r.doc_id, r.domain): r.pick_rank
        for r in sample_to_quota(df, qdf).collect()
    }
    assert got == _py_quota_sample(rows, quotas)
    assert sum(1 for (_, d) in got if d == "d0") == 5
    assert sum(1 for (_, d) in got if d == "d1") == 20
    assert not any(d == "d2" for (_, d) in got)


def test_quota_sample_salt_invariance(spark):
    from napalm_logs_spark.operators.text import sample_to_quota

    rows = [(i, "hot") for i in range(200)] + [(i + 1000, "cold") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    qdf = spark.createDataFrame(
        [("hot", 17), ("cold", 3)], "domain string, quota long"
    )
    a = sorted(map(tuple, sample_to_quota(df, qdf).collect()))
    c = sorted(map(tuple, sample_to_quota(df.repartition(13), qdf).collect()))
    assert a == c


# ---------------------------------------------------------------- priority
def _py_priority_sample(rows, k):
    """Independent replication: hashlib md5, pure-int arithmetic."""
    import hashlib

    cand = []
    for doc_id, w in rows:
        if w is None or w <= 0:
            continue
        u1 = int(hashlib.md5(f"ps:{doc_id}".encode()).hexdigest()[:8], 16) + 1
        cand.append((doc_id, w, (w << 32) // u1))
    cand.sort(key=lambda r: (-r[2], r[0]))
    tau = cand[k][2] if len(cand) > k else 0
    return sorted((d, w, q, max(w, tau)) for d, w, q in cand[:k])


def test_priority_sample_matches_replication(spark):
    from napalm_logs_spark.operators.text import priority_sample

    rows = [(i, (i * 37) % 500 + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    got = sorted(map(tuple, priority_sample(df, 25).collect()))
    assert got == _py_priority_sample(rows, 25)


def test_priority_sample_partitioning_invariance(spark):
    from napalm_logs_spark.operators.text import priority_sample

    rows = [(i, i % 91 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    a = sorted(map(tuple, priority_sample(df.repartition(1), 20).collect()))
    b = sorted(map(tuple, priority_sample(df.repartition(17), 20).collect()))
    assert a == b


def test_priority_sample_small_corpus_keeps_all(spark):
    from napalm_logs_spark.operators.text import priority_sample

    rows = [(1, 10), (2, 20), (3, None), (4, 0), (5, -3)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    got = sorted(map(tuple, priority_sample(df, 10).collect()))
    # nonpositive/null weights excluded; survivors all kept, tau=0 -> est=w
    assert [(r[0], r[1], r[3]) for r in got] == [(1, 10, 10), (2, 20, 20)]


def test_priority_sample_weight_bias(spark):
    from napalm_logs_spark.operators.text import priority_sample

    # one heavy row among light ones: q_heavy >= 10^6 * 2^32 / 2^32 = w
    # while every light row has q <= 2 * 2^32; heavy must be sampled
    rows = [(i, 2) for i in range(1000)] + [(5000, 1_000_000)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    got = priority_sample(df, 50).collect()
    assert any(r.doc_id == 5000 for r in got)


def test_priority_sample_plan_no_global_sort(spark):
    from napalm_logs_spark.operators.text import priority_sample

    df = spark.range(10000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("weight")
    )
    plan = priority_sample(df, 100)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_chunk_windows_boundaries(spark):
    from napalm_logs_spark.operators.text import chunk_windows

    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),   # n=10: 0..9
            (2, "a b c"),                                  # n <= size: 1 chunk
            (3, ""),                                       # empty: no chunks
            (4, "   "),                                    # whitespace: no chunks
            (5, " ".join(f"w{i}" for i in range(13))),   # tail 1 past window
        ],
        "doc_id long, text string",
    )
    out = chunk_windows(df, size=4, stride=3)
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_start, r.chunk_len)
        for r in out.collect()
    }
    # n=10, size=4, stride=3 -> 1 + ceil(6/3) = 3 chunks; last covers 6..9
    assert {k for k in got if k[0] == 1} == {(1, 0), (1, 1), (1, 2)}
    assert got[(1, 2)] == (6, 4)
    assert got[(2, 0)] == (0, 3)
    assert not any(k[0] in (3, 4) for k in got)
    # n=13 -> 1 + ceil(9/3) = 4 chunks; last is the single trailing token
    assert got[(5, 3)] == (9, 4)
    assert (5, 4) not in got


def test_chunk_windows_overlap_reconstructs(spark):
    from napalm_logs_spark.operators.text import chunk_windows

    # consecutive windows overlap by size-stride tokens and their union
    # covers the doc exactly: sum of per-chunk NEW tokens == n_tokens
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(257)))], "doc_id long, text string"
    )
    rows = chunk_windows(df, size=64, stride=48).orderBy("chunk_idx").collect()
    new_tokens = rows[0].chunk_len + sum(
        (r.chunk_start + r.chunk_len) - (p.chunk_start + p.chunk_len)
        for p, r in zip(rows, rows[1:])
    )
    assert new_tokens == 257
    assert all(r.chunk_start == i * 48 for i, r in enumerate(rows))


def test_chunk_windows_validates_params(spark):
    from napalm_logs_spark.operators.text import chunk_windows

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_windows(df, size=4, stride=5)
    with pytest.raises(ValueError):
        chunk_windows(df, size=0, stride=0)


def test_length_bucket_plan_hand_computed(spark):
    from napalm_logs_spark.operators.text import length_bucket_plan

    df = spark.createDataFrame(
        [
            (1, "a"),                                   # n=1  -> cap 1
            (2, "a b"),                                 # n=2  -> cap 2
            (3, "a b c"),                               # n=3  -> cap 4
            (4, "a b c d"),                             # n=4  -> cap 4 (exact power)
            (5, ""),                                    # excluded
            (6, " ".join(["x"] * 5)),                  # n=5  -> cap 8
        ],
        "doc_id long, text string",
    )
    got = {r.bucket_cap: r for r in length_bucket_plan(df).collect()}
    assert set(got) == {1, 2, 4, 8}
    assert (got[4].n_docs, got[4].sum_tokens, got[4].padded_tokens) == (2, 7, 8)
    assert got[4].waste_frac == (8 - 7) / 8
    assert got[1].waste_frac == 0.0
    assert got[8].padded_tokens == 8 and got[8].sum_tokens == 5


def test_length_bucket_plan_overflow_floors_waste(spark):
    from napalm_logs_spark.operators.text import length_bucket_plan

    # doc longer than max_cap lands in the max bucket with waste 0-floored
    df = spark.createDataFrame(
        [(1, " ".join(["w"] * 10))], "doc_id long, text string"
    )
    r = length_bucket_plan(df, max_cap=8).collect()[0]
    assert (r.bucket_cap, r.sum_tokens, r.padded_tokens, r.waste_frac) == (8, 10, 10, 0.0)
