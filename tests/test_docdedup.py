"""Document dedup: exact, n-gram Jaccard, MinHash+LSH, SimHash."""

import pytest
from pyspark.sql import functions as F

from napalm_logs_spark.operators.docdedup import (
    exact_dedup,
    exact_duplicate_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash_near_pairs,
)


def _jaccard_naive(df, n=3, threshold=0.8):
    """Brute-force exact Jaccard, the reference for the fast plans:
    shingle self-join → |A∩B| counts."""
    sh = shingles(df, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus with planted exact + near duplicates."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank"  # drop one word
    far = "completely different content about spark shuffles and partitions everywhere"
    rows = [
        (0, base),
        (1, base),                      # exact dup of 0
        (2, "The  Quick brown fox jumps over the lazy dog near the river bank today"),  # normalized dup of 0
        (3, near),                      # near dup
        (4, far),
        (5, "another unrelated document mentioning catalysts and codegen stages"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicate_groups(planted):
    groups = exact_duplicate_groups(planted).collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 3 and groups[0].keep_doc_id == 0


def test_exact_dedup_keeps_lowest(planted):
    kept = sorted(r.doc_id for r in exact_dedup(planted).collect())
    assert kept == [0, 3, 4, 5]


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = sorted(r.shingle for r in shingles(df, n=3).collect())
    assert got == ["a b c", "b c d"]


def test_ngram_jaccard_pairs(planted):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(planted, n=3, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0
    assert (0, 3) in pairs and 0.5 <= pairs[(0, 3)] < 1.0
    assert not any({a, b} & {4, 5} for a, b in pairs)


def test_minhash_lsh_finds_near_dups(planted):
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            planted, num_hashes=32, bands=8, n=3, threshold=0.5
        ).collect()
    }
    assert (0, 1) in got and (0, 2) in got
    # LSH candidates verified by exact jaccard → no false positives
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(planted, n=3, threshold=0.5).collect()
    }
    assert got.issubset(exact)


def test_simhash_near_pairs(planted):
    got = {(r.doc_a, r.doc_b) for r in simhash_near_pairs(planted, max_hamming=6).collect()}
    assert (0, 1) in got and (0, 2) in got
    assert (0, 4) not in got and (4, 5) not in got


def test_real_corpus_no_exact_dups(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert exact_duplicate_groups(docs).count() == 0


def test_duplicate_clusters_connected_components(spark):
    from napalm_logs_spark.operators.docdedup import duplicate_clusters

    # chain 1-2-3, pair 7-9, singleton 5 not in pairs
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (7, 9, 0.9)],
        "doc_a long, doc_b long, jaccard double",
    )
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_prefix_filter_equals_naive(spark, planted):
    """The PPJoin-style prefix-filtered plan (τ≥0.5) returns exactly the
    naive plan's pairs."""
    for tau in (0.5, 0.8):
        fast = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_pairs(planted, n=3, threshold=tau).collect()
        }
        naive = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in _jaccard_naive(planted, n=3, threshold=tau).collect()
        }
        assert fast == naive, tau


def test_capped_jaccard_exact_with_engaged_cap(spark):
    """When the stop-shingle cap engages, pairs found via light shingles
    still get EXACT jaccard (heavy contribution restored from per-doc
    heavy arrays); a pair sharing only heavy shingles is the documented
    miss."""
    from napalm_logs_spark.operators.docdedup import _jaccard_capped

    boiler = "the quick brown fox jumps over dog"     # shared by all docs
    rows = [(i, f"{boiler} unique{i//2} tail{i//2} words{i//2} extra{i}")
            for i in range(10)]
    # docs 2k/2k+1 share their unique/tail/words shingles (light) plus
    # the boilerplate (heavy under cap=3)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = sorted(
        tuple(r) for r in _jaccard_capped(docs, n=3, threshold=0.2, freq_cap=3).collect()
    )
    naive = sorted(
        tuple(r) for r in _jaccard_naive(docs, n=3, threshold=0.2).collect()
    )
    # the paired docs share light shingles -> found, with jaccard equal
    # to brute force (heavy correction exact)
    naive_pairs = {(a, b): j for a, b, j in naive}
    capped_pairs = {(a, b): j for a, b, j in capped}
    for k in [(0, 1), (2, 3), (4, 5), (6, 7), (8, 9)]:
        assert k in capped_pairs, k
        assert capped_pairs[k] == naive_pairs[k]
    # every capped pair matches brute force exactly (no wrong values)
    for k, j in capped_pairs.items():
        assert naive_pairs[k] == j
    # boilerplate-only cross pairs (e.g. 0-2) share ONLY heavy shingles:
    # present in brute force, documented-missing from the capped plan
    assert (0, 2) in naive_pairs and (0, 2) not in capped_pairs


def test_capped_equals_naive_when_cap_disengaged(spark):
    from napalm_logs_spark.operators.docdedup import _jaccard_capped

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} extra{i % 3} more{i % 2}")
         for i in range(12)],
        "doc_id long, text string",
    )
    capped = sorted(tuple(r) for r in _jaccard_capped(docs, 3, 0.1, freq_cap=500).collect())
    naive = sorted(tuple(r) for r in _jaccard_naive(docs, 3, 0.1).collect())
    assert capped == naive and len(capped) > 0


def test_dedup_keep_list(spark):
    from napalm_logs_spark.operators.docdedup import dedup_keep_list

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 3, 0.9), (3, 5, 0.8), (1, 2, 0.85)],
        "doc_a long, doc_b long, jaccard double",
    )
    keep = sorted(r.doc_id for r in dedup_keep_list(docs, pairs).collect())
    # clusters {0,3,5}->0 and {1,2}->1; 4 untouched
    assert keep == [0, 1, 4]


def test_benchmark_contamination(spark):
    from napalm_logs_spark.operators.docdedup import benchmark_contamination

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (0, "totally unrelated text about spark plans and shuffles"),
            # contains one benchmark 5-gram ("quick brown fox jumps over")
            (1, "he said quick brown fox jumps over and left"),
            # contains several benchmark 5-grams (a full copy)
            (2, "prefix the quick brown fox jumps over the lazy dog suffix"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.n_overlap
        for r in benchmark_contamination(docs, bench, n=5).collect()
    }
    assert 0 not in out
    assert out[1] == 1
    # doc 2 contains all 5 distinct 5-grams of the 9-token benchmark doc
    assert out[2] == 5


def test_benchmark_contamination_broadcasts_benchmark(spark):
    from napalm_logs_spark.operators.docdedup import benchmark_contamination

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(20)],
        "doc_id long, text string",
    )
    plan = benchmark_contamination(
        docs, docs.limit(2), n=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_benchmark_contamination_vs_python_reference(spark):
    import random

    rng = random.Random(7)
    vocab = [f"w{j}" for j in range(12)]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25)))

    bench_docs = [(100 + i, doc()) for i in range(5)]
    train_docs = [(i, doc()) for i in range(40)]

    def grams(text, n=3):
        toks = text.split()
        if len(toks) <= n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    bench_set = set().union(*(grams(t) for _, t in bench_docs))
    expected = {
        i: len(grams(t) & bench_set)
        for i, t in train_docs
        if grams(t) & bench_set
    }

    from napalm_logs_spark.operators.docdedup import benchmark_contamination

    got = {
        r.doc_id: r.n_overlap
        for r in benchmark_contamination(
            spark.createDataFrame(train_docs, "doc_id long, text string"),
            spark.createDataFrame(bench_docs, "doc_id long, text string"),
            n=3,
        ).collect()
    }
    assert got == expected and expected  # non-degenerate scenario


def test_split_by_cluster_no_leakage(spark):
    from napalm_logs_spark.operators.docdedup import split_by_cluster

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
    )
    # clusters: {0,3,5}, {1,2}; everything else singleton
    pairs = spark.createDataFrame(
        [(0, 3, 0.9), (3, 5, 0.8), (1, 2, 0.85)],
        "doc_a long, doc_b long, jaccard double",
    )
    out = {r.doc_id: r.split for r in split_by_cluster(docs, pairs).collect()}
    assert len(out) == 200
    # leakage guard: whole cluster shares one split
    assert out[0] == out[3] == out[5]
    assert out[1] == out[2]
    # fractions roughly honored on singletons (16-bit hash resolution)
    from collections import Counter

    c = Counter(out.values())
    assert c["train"] > 150 and 0 < c["val"] + c["test"] < 50


# ---------------------------------------------------------------------------
# duplicated substring spans (Lee et al. substring-level dedup)


def _brute_spans(docs, k):
    """Independent python reference: mark every k-token window whose
    content appears in >=2 distinct docs; merge adjacent marks."""
    import re

    toks = {
        d: re.sub(r"\s+", " ", t.lower()).strip().split()
        for d, t in docs
    }
    owners = {}
    for d, ts in toks.items():
        for i in range(len(ts) - k + 1):
            owners.setdefault(tuple(ts[i : i + k]), set()).add(d)
    spans = []
    for d, ts in toks.items():
        marked = sorted(
            i + 1  # 1-based
            for i in range(len(ts) - k + 1)
            if len(owners[tuple(ts[i : i + k])]) >= 2
        )
        run = []
        for p in marked:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    spans.append((d, run[0], run[-1] + k - 1, len(run)))
                run = [p]
        if run:
            spans.append((d, run[0], run[-1] + k - 1, len(run)))
    return sorted(spans)


def test_duplicate_spans_against_bruteforce(spark):
    from napalm_logs_spark.operators.docdedup import duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (0, f"intro words here {shared} closing remarks now"),
        (1, f"{shared} and then something entirely different follows after"),
        (2, "no overlap in this one at all whatsoever believe me truly"),
        # doc 3 repeats the shared run twice -> two disjoint spans
        (3, f"x y z {shared} q r s {shared} w"),
    ]
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in duplicate_spans(
            spark.createDataFrame(docs, "doc_id long, text string"), k=5
        ).collect()
    )
    assert got == _brute_spans(docs, 5)
    # sanity on the semantics: doc 2 contributes nothing
    assert not any(d == 2 for d, *_ in got)
    # doc 3 carries two disjoint spans
    assert sum(1 for d, *_ in got if d == 3) == 2


def test_duplicate_spans_within_doc_repeat_not_marked(spark):
    """A k-gram repeated only WITHIN one document is not a cross-doc
    duplicate (min_docs counts distinct documents)."""
    from napalm_logs_spark.operators.docdedup import duplicate_spans

    df = spark.createDataFrame(
        [(0, "a b c d e f a b c d e f"), (1, "totally different words here now")],
        "doc_id long, text string",
    )
    assert duplicate_spans(df, k=5).count() == 0


def test_duplicate_clusters_long_chain_converges(spark):
    """A 300-link chain (templated near-dups) must converge within the
    default iteration cap — pointer doubling makes rounds O(log
    diameter); plain propagation would need 300 rounds and previously
    returned partially-merged labels SILENTLY."""
    from napalm_logs_spark.operators.docdedup import duplicate_clusters

    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n)],
        "doc_a long, doc_b long, jaccard double",
    )
    got = duplicate_clusters(pairs)
    assert got.filter("cluster_id != 0").count() == 0
    assert got.count() == n + 1


def test_segment_dedup_removes_corpus_boilerplate(spark):
    from napalm_logs_spark.operators.docdedup import segment_dedup

    boiler = "all rights reserved copyright two"       # one 5-token segment
    rows = [
        (0, boiler + " unique alpha beta gamma delta"),
        (1, boiler + " other words here now then"),
        (2, boiler + " third body text goes here"),
        (3, "entirely original document with no shared chunk"),
        (4, boiler),                                   # becomes empty
    ]
    got = {
        r.doc_id: r
        for r in segment_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"), k=5, max_df=2
        ).collect()
    }
    assert len(got) == 5
    # the boilerplate segment appears in 4 > max_df docs -> removed everywhere
    assert got[0].clean_text == "unique alpha beta gamma delta"
    assert got[0].n_segments == 2 and got[0].n_removed == 1
    assert got[3].clean_text.startswith("entirely original")
    assert got[3].n_removed == 0
    assert got[4].clean_text == "" and got[4].n_removed == 1


def test_segment_dedup_preserves_order_and_tail_segment(spark):
    from napalm_logs_spark.operators.docdedup import segment_dedup

    # 7 tokens -> segments of 5 + 2 (ragged tail kept as its own segment)
    rows = [(0, "a b c d e f g"), (1, "h i j k l m n")]
    got = {
        r.doc_id: r
        for r in segment_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"), k=5, max_df=2
        ).collect()
    }
    assert got[0].clean_text == "a b c d e f g"
    assert got[0].n_segments == 2 and got[0].n_removed == 0


# ---------------------------------------------------------------------------
# memorization_spans (verbatim extraction probe)


def _mem(spark, samples, corpus, **kw):
    from napalm_logs_spark.operators.docdedup import memorization_spans

    s = spark.createDataFrame(samples, "doc_id long, text string")
    c = spark.createDataFrame(corpus, "doc_id long, text string")
    return memorization_spans(s, c, **kw)


def _py_mem(samples, corpus, n=8, min_run=2):
    import hashlib
    import re

    def toks(t):
        return re.sub(r"\s+", " ", t.lower()).strip().split(" ")

    cg = set()
    for _, t in corpus:
        w = toks(t)
        for i in range(max(len(w) - n + 1, 0)):
            cg.add(hashlib.md5(" ".join(w[i:i + n]).encode()).hexdigest())
    out = {}
    for sid, t in samples:
        w = toks(t)
        hits = [
            hashlib.md5(" ".join(w[i:i + n]).encode()).hexdigest() in cg
            for i in range(max(len(w) - n + 1, 0))
        ]
        runs, cur = [], 0
        for h in hits:
            cur = cur + 1 if h else 0
            runs.append(cur)
        mr = max(runs, default=0)
        out[sid] = (len(hits), sum(hits), mr,
                    mr + n - 1 if mr else 0, mr >= min_run)
    return out


def test_memorization_spans_hand_case(spark):
    quote = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks
    corpus = [(100, f"prefix words here {quote} and trailing filler text")]
    samples = [
        # contains the quote verbatim -> with n=4: 7 matched grams in a row
        (1, f"model output says {quote} then diverges completely afterwards"),
        # scattered single hits only (two disjoint 4-gram fragments)
        (2, "the quick brown fox sleeps while over the lazy dog xx"),
        # nothing from the corpus
        (3, "completely novel text with no overlap at all whatsoever"),
        # shorter than n -> zero grams
        (4, "too short"),
    ]
    got = {r["doc_id"]: r for r in _mem(spark, samples, corpus, n=4).collect()}
    want = _py_mem(samples, corpus, n=4)
    for sid, (ng, nm, mr, st, mem) in want.items():
        r = got[sid]
        assert (r["n_grams"], r["n_matched"], r["max_run"],
                r["span_tokens"], r["memorized"]) == (ng, nm, mr, st, mem), sid
    assert got[1]["max_run"] == 7 and got[1]["span_tokens"] == 10
    assert got[1]["memorized"]
    assert got[2]["max_run"] == 1 and not got[2]["memorized"]
    assert got[3]["n_matched"] == 0
    assert got[4]["n_grams"] == 0 and not got[4]["memorized"]


def test_memorization_spans_invariance(spark):
    corpus = [(i, f"shared span alpha beta gamma delta {i} unique tail") for i in range(10)]
    samples = [
        (i, f"gen {i} shared span alpha beta gamma delta {i % 10} more")
        for i in range(30)
    ]
    from napalm_logs_spark.operators.docdedup import memorization_spans

    s = spark.createDataFrame(samples, "doc_id long, text string")
    c = spark.createDataFrame(corpus, "doc_id long, text string")
    a = sorted(map(tuple, memorization_spans(s.repartition(1), c, n=4).collect()))
    b = sorted(map(tuple, memorization_spans(s.repartition(7), c, n=4).collect()))
    assert a == b
    want = _py_mem(samples, corpus, n=4)
    got = {t[0]: t[1:] for t in a}
    for sid, w in want.items():
        assert got[sid] == w


# ---------------------------------------------------------------------------
# edit-distance near-dup (Ed-Join prefix filter + levenshtein verify)


def _py_lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute_pairs(rows, k):
    import re

    norm = {i: re.sub(r"\s+", " ", t.lower()).strip() for i, t in rows}
    out = set()
    ids = sorted(norm)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if abs(len(norm[a]) - len(norm[b])) > k:
                continue
            d = _py_lev(norm[a], norm[b])
            if d <= k:
                out.add((a, b, d))
    return out


def test_editdist_matches_bruteforce(spark):
    from napalm_logs_spark.operators.docdedup import editdist_near_pairs

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (0, base),
        (1, base.replace("quick", "quack")),          # 1 substitution
        (2, base.replace(" lazy", "")),               # 5 deletions (> k)
        (3, base + "!"),                              # 1 insertion
        (4, "The  QUICK brown fox jumps over the lazy dog near the river"),  # normalized dup
        (5, "completely unrelated text about catalyst optimizer rules"),
        (6, base[:-1] + "s"),                         # 1 substitution at end
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.dist)
        for r in editdist_near_pairs(df, k=2, q=3).collect()
    }
    assert got == _brute_pairs(rows, 2)


def test_editdist_short_doc_band_complete(spark):
    # docs below the (k+1)*q gram bound go through the length-band join
    # and must still be found, including length-0/1 edge strings
    from napalm_logs_spark.operators.docdedup import editdist_near_pairs

    rows = [
        (0, "ab"),
        (1, "ac"),       # dist 1
        (2, "abxy"),     # dist 2 from 0
        (3, ""),
        (4, "a"),        # dist 1 from 3 and 0... (vs "ab": 1)
        (5, "zzzzzzzzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.dist)
        for r in editdist_near_pairs(df, k=2, q=3).collect()
    }
    assert got == _brute_pairs(rows, 2)


def test_editdist_short_long_boundary_seam(spark):
    # r4 advice (high): a doc with len < (k+1)*q can be within edit
    # distance k of a doc with len >= (k+1)*q — the prefix join never
    # sees short docs, so the band join's b side must include the long
    # fringe.  k=2, q=3 → boundary at len 9; rows straddle it at
    # distances 1 and 2 in both directions.
    from napalm_logs_spark.operators.docdedup import editdist_near_pairs

    rows = [
        (0, "abcdefgh"),     # len 8 (short) — the reproduced miss
        (1, "abcdefghi"),    # len 9 (long), dist 1 from 0
        (2, "abcdefghij"),   # len 10 (long), dist 2 from 0, 1 from 1
        (3, "abcdefgx"),     # len 8 (short), dist 1 from 0, 2 from 1
        (4, "abcdefghijk"),  # len 11 (long), dist 3 from 0 (excluded)
        (5, "qrstuvwx"),     # len 8 (short), unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.dist)
        for r in editdist_near_pairs(df, k=2, q=3).collect()
    }
    expect = _brute_pairs(rows, 2)
    assert (0, 1, 1) in expect  # the advice's reproduced cross-boundary pair
    assert got == expect


def test_editdist_boundary_no_duplicate_pairs(spark):
    # the fringe extension must not double-emit: candidates from the
    # band path (short anchor) and the prefix path (both long) are
    # disjoint, and the result carries each pair exactly once
    from napalm_logs_spark.operators.docdedup import editdist_near_pairs

    rows = [
        (0, "abcdefgh"),    # short
        (1, "abcdefghi"),   # fringe long
        (2, "abcdefghix"),  # fringe long, dist 1 from 1 (both long: prefix path)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [tuple(r) for r in editdist_near_pairs(df, k=2, q=3).collect()]
    assert len(out) == len(set(out))
    assert set(out) == _brute_pairs(rows, 2)


def test_editdist_partition_invariant(spark):
    from napalm_logs_spark.operators.docdedup import editdist_near_pairs

    rows = [(i, f"document number {i} with mostly shared boilerplate text") for i in range(40)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").repartition(1)
    df7 = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    a = sorted(map(tuple, editdist_near_pairs(df1, k=2).collect()))
    b = sorted(map(tuple, editdist_near_pairs(df7, k=2).collect()))
    assert a == b == sorted(_brute_pairs(rows, 2))
