"""Quality-gate, repetition, BM25, and dup-cluster operator unit tests.

Hand-computed expectations on tiny frames; the sf0.01 DuckDB oracle queries
(doc_quality_rules / doc_repetition / doc_bm25 / doc_dup_clusters) cover the
full-corpus contract.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from biggraphite_spark.operators.dedup import dup_clusters
from biggraphite_spark.operators.text import (
    bm25_scores,
    quality_rules,
    repetition_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_quality_rules_flags(spark):
    good = "the quick brown fox jumps over the lazy dog and then runs far away home again to rest now ok done"
    short = "tiny doc of words"
    out = {
        r["doc_id"]: r
        for r in quality_rules(_docs(spark, [(1, good), (2, short)])).collect()
    }
    assert out[1]["rule_word_count"] and out[1]["rule_stopwords"]
    assert out[1]["keep"]
    assert not out[2]["rule_word_count"]  # 4 words < min 20
    assert not out[2]["keep"]
    assert out[1]["n_words"] == 21


def test_quality_rules_max_token_and_alpha(spark):
    doc = " ".join(["word"] * 19 + ["x" * 25])
    row = quality_rules(_docs(spark, [(1, doc)])).collect()[0]
    assert row["max_token_len"] == 25
    assert not row["rule_max_token_len"]
    nums = " ".join(["123"] * 20)
    row = quality_rules(_docs(spark, [(1, nums)])).collect()[0]
    assert row["alpha_ratio"] == 0.0
    assert not row["rule_alpha_ratio"]


def test_repetition_stats_hand_computed(spark):
    # tokens: a a a b  -> top token 3/4; dup tokens 3/4
    # bigrams: "a a","a a","a b" -> top 2/3, dup 2/3
    row = repetition_stats(_docs(spark, [(1, "a a a b")])).collect()[0]
    assert row["top_token_frac"] == pytest.approx(0.75)
    assert row["dup_token_frac"] == pytest.approx(0.75)
    assert row["top_bigram_frac"] == pytest.approx(round(2 / 3, 6))
    assert row["dup_bigram_frac"] == pytest.approx(round(2 / 3, 6))


def test_repetition_no_repeats(spark):
    row = repetition_stats(_docs(spark, [(1, "a b c d")])).collect()[0]
    assert row["top_token_frac"] == pytest.approx(0.25)
    assert row["dup_token_frac"] == 0.0
    assert row["dup_bigram_frac"] == 0.0


def test_bm25_matches_reference_formula(spark):
    rows = [(1, "spark join spark x"), (2, "x y z w"), (3, "join a b c")]
    out = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(_docs(spark, rows), terms=("spark", "join")).collect()
    }
    # independent plain-Python recompute
    docs = {i: t.split(" ") for i, t in rows}
    N = 3
    avgdl = sum(len(t) for t in docs.values()) / N
    df = {tm: sum(tm in t for t in docs.values()) for tm in ("spark", "join")}

    def score(toks):
        s = 0.0
        for tm in ("spark", "join"):
            tf = toks.count(tm)
            idf = math.log(1 + (N - df[tm] + 0.5) / (df[tm] + 0.5))
            s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(toks) / avgdl))
        return round(s, 6)

    for i, toks in docs.items():
        assert out[i] == pytest.approx(score(toks), abs=1e-6)
    assert out[2] == 0.0


def test_dup_clusters_chain_and_singleton(spark):
    docs = _docs(spark, [(i, f"doc {i}") for i in range(1, 6)])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    ).withColumn("jaccard", F.lit(1.0))
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dup_clusters(docs, pairs=pairs).collect()
    }
    # chain 1-2-3 collapses transitively; pair 4-5; every doc labelled
    assert out == {1: (1, 3), 2: (1, 3), 3: (1, 3), 4: (4, 2), 5: (4, 2)}


def test_dup_clusters_long_chain_converges(spark):
    n = 9
    docs = _docs(spark, [(i, f"doc {i}") for i in range(n)])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = dup_clusters(docs, pairs=pairs).collect()
    assert all(r["cluster_id"] == 0 and r["cluster_size"] == n for r in out)


def test_dup_clusters_distributed_path_matches_driver_path(spark):
    docs = _docs(spark, [(i, f"doc {i}") for i in range(12)])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (7, 8), (8, 9), (9, 10)], "doc_a long, doc_b long"
    )
    driver = dup_clusters(docs, pairs=pairs).collect()
    dist = dup_clusters(docs, pairs=pairs, driver_max_edges=0).collect()
    key = lambda r: (r["doc_id"], r["cluster_id"], r["cluster_size"])  # noqa: E731
    assert sorted(map(key, driver)) == sorted(map(key, dist))


def test_dup_clusters_star_matches_driver_on_random_graph(spark):
    import random

    rnd = random.Random(7)
    n = 60
    docs = _docs(spark, [(i, f"doc {i}") for i in range(n)])
    edges = [(a, b) for a, b in
             ((rnd.randrange(n), rnd.randrange(n)) for _ in range(70)) if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    key = lambda r: (r["doc_id"], r["cluster_id"], r["cluster_size"])  # noqa: E731
    want = sorted(
        map(key, dup_clusters(docs, pairs=pairs, cc_method="driver").collect())
    )
    got = sorted(
        map(key, dup_clusters(docs, pairs=pairs, cc_method="star").collect())
    )
    assert got == want
    with pytest.raises(ValueError, match="unknown cc_method"):
        dup_clusters(docs, pairs=pairs, cc_method="propagate")


def test_star_cc_long_chain_in_logarithmic_rounds(spark):
    """64-node chain, diameter 63: large-star/small-star must label it in
    ~log rounds (min-label propagation would need 63) — the property that
    makes it the extreme-scale path."""
    from biggraphite_spark.operators.dedup import _cc_star_labels

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    lab = {
        r["doc_id"]: r["label"]
        for r in _cc_star_labels(pairs, max_iters=12).collect()
    }
    assert lab == {i: 0 for i in range(n)}


def test_cross_source_dedup_priority(spark):
    from biggraphite_spark.operators.dedup import cross_source_dedup

    docs = spark.createDataFrame(
        [
            (1, "same text", "web"),
            (2, "same text", "books"),
            (3, "same text", "curated"),
            (4, "unique", "web"),
        ],
        "doc_id long, text string, source string",
    )
    # explicit priority: curated wins over the lexicographically-earlier books
    out = {
        r["doc_id"]: (r["kept_doc_id"], r["keep"])
        for r in cross_source_dedup(docs, priority=("curated", "web")).collect()
    }
    assert out == {1: (3, False), 2: (3, False), 3: (3, True), 4: (4, True)}
    # default: pure lexicographic source order -> books wins
    out = {
        r["doc_id"]: r["keep"] for r in cross_source_dedup(docs).collect()
    }
    assert out == {1: False, 2: True, 3: False, 4: True}


def test_ngram_novelty_toy_golden(spark):
    from biggraphite_spark.operators.curation import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # grams: abc, bcd  -> both first here
            (2, "a b c e"),        # grams: abc (seen), bce (new)
            (3, "x"),              # short doc -> whole-text gram, new
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
        for r in ngram_novelty(docs, n=3).collect()
    }
    assert out == {1: (2, 2, 1.0), 2: (2, 1, 0.5), 3: (1, 1, 1.0)}


def test_rake_keywords_toy_golden(spark):
    from biggraphite_spark.operators.text import rake_keywords

    # "deep learning" phrase: deg(deep)=2, freq=1 -> 2; same for learning;
    # phrase score 4.  "models" alone scores 1.
    docs = spark.createDataFrame(
        [(1, "deep learning and the models of deep learning")],
        "doc_id long, text string",
    )
    out = {
        r["phrase"]: (r["score"], r["rank"])
        for r in rake_keywords(docs, top_k=3).collect()
    }
    # phrases: "deep learning" (x2), "models", "deep learning"
    # deg(deep)=2+2=4 freq=2 -> 2.0; learning same; phrase = 4.0
    assert out["deep learning"] == (4.0, 1) or out["deep learning"] == (4.0, 2)
    assert out["models"][0] == 1.0


# -- collocations (PMI phrase mining) ---------------------------------------

def test_collocations_tiny_golden(spark):
    """Hand-checked PMI on a 2-doc corpus: unigrams a:3 b:4 c:2 (N=9),
    bigram positions 7, pair counts (a,b):2 (b,a):2 (b,c):2 (c,b):1."""
    import math

    from biggraphite_spark.operators.text import collocations

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "b c b a")], ["doc_id", "text"]
    )
    rows = collocations(docs, min_count=2, top_k=10).collect()
    got = {(r.w1, r.w2): (r.pair_count, r.pmi) for r in rows}

    def pmi(c12, c1, c2):
        return round(math.log((c12 * 9.0 * 9.0) / (7.0 * c1 * c2)), 6)

    assert got == {
        ("a", "b"): (2, pmi(2, 3, 4)),
        ("b", "a"): (2, pmi(2, 4, 3)),
        ("b", "c"): (2, pmi(2, 4, 2)),
    }
    # (c,b) fell below min_count; ordering is pmi desc then lexicographic
    assert [(r.w1, r.w2) for r in rows] == [("b", "c"), ("a", "b"), ("b", "a")]


def test_collocations_topk_cut(spark):
    from biggraphite_spark.operators.text import collocations

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "b c b a")], ["doc_id", "text"]
    )
    rows = collocations(docs, min_count=1, top_k=2).collect()
    assert len(rows) == 2
    assert rows[0].pmi >= rows[1].pmi


# -- interpolated bigram LM --------------------------------------------------

def test_bigram_logprob_matches_python_reference(spark):
    import math
    from collections import Counter

    from biggraphite_spark.operators.curation import bigram_logprob

    corpus = [(0, "a b a b c"), (1, "b c b a"), (2, "c c c a b")]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    rows = {r.doc_id: r for r in bigram_logprob(docs, lam=0.9).collect()}

    uni = Counter(t for _, s in corpus for t in s.split(" "))
    n = sum(uni.values())
    pairs = Counter(
        (ts[i], ts[i + 1])
        for _, s in corpus
        for ts in [s.split(" ")]
        for i in range(len(ts) - 1)
    )
    for doc_id, s in corpus:
        ts = s.split(" ")
        logs = []
        for i in range(len(ts) - 1):
            w1, w2 = ts[i], ts[i + 1]
            p = 0.9 * (pairs[(w1, w2)] / uni[w1]) + (1.0 - 0.9) * (uni[w2] / n)
            logs.append(-math.log2(p))
        h = sum(logs) / len(logs)
        got = rows[doc_id]
        assert got.n_bigrams == len(ts) - 1
        assert abs(got.cross_entropy - h) < 1e-5
        assert abs(got.perplexity - 2.0 ** h) < 1e-4


# -- normalization / PII masking / HTML strip --------------------------------

def test_normalize_text_goldens(spark):
    from biggraphite_spark.operators.text import normalize_text

    cases = [
        ("  Hello\t\tWORLD \n", "hello world"),
        ("a\x00b\x07c", "abc"),                  # control chars stripped
        ("keep\tone  space\r\nhere", "keep one space here"),
        ("", ""),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)], ["i", "t"])
    from pyspark.sql import functions as F
    got = {r.i: r.out for r in df.select("i", normalize_text(F.col("t")).alias("out")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_pii_mask_goldens(spark):
    from pyspark.sql import functions as F

    from biggraphite_spark.operators.text import pii_mask

    cases = [
        ("mail me at jo.smith+x@sub.example.org now", "mail me at <email> now"),
        ("server 10.0.255.3 down", "server <ip> down"),
        ("call +1 (555) 123-4567 ok", "call <phone> ok"),
        ("id 42 is fine", "id 42 is fine"),      # short digit runs untouched
        ("a@b.co and 1.2.3.4", "<email> and <ip>"),
        # phone shapes that must mask
        ("dial 555-123-4567 or 1-800-555-0199", "dial <phone> or <phone>"),
        ("fr mobile 06 12 34 56 78 ok", "fr mobile <phone> ok"),
        ("intl +33 6 12 34 56 78 ok", "intl <phone> ok"),
        ("raw 0612345678 run", "raw <phone> run"),
        # non-PII numeric runs the old greedy pattern damaged (ADVICE r3)
        ("seen 2026-08-14 10:22 utc", "seen 2026-08-14 10:22 utc"),
        ("row 12 34 56 78 end", "row 12 34 56 78 end"),
        ("version 12.34.56 shipped", "version 12.34.56 shipped"),
        ("range 100-200 items", "range 100-200 items"),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)], ["i", "t"])
    got = {r.i: r.out for r in df.select("i", pii_mask(F.col("t")).alias("out")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_html_strip_goldens(spark):
    from pyspark.sql import functions as F

    from biggraphite_spark.operators.text import html_strip, normalize_text

    cases = [
        ("<p>Hi <b>there</b></p>", "hi there"),
        ("a<script type='x'>var x = '<b>'</script>b", "a b"),
        ("one<STYLE>p { color: red }</STYLE>two", "one two"),
        ("x &amp;lt; y &lt; z &quot;q&quot;", 'x &lt; y < z "q"'),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)], ["i", "t"])
    expr = normalize_text(html_strip(F.col("t"))).alias("out")
    got = {r.i: r.out for r in df.select("i", expr).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


# -- Naive Bayes classifier --------------------------------------------------

def test_nb_classifier_matches_python_reference(spark):
    import math
    from collections import Counter, defaultdict

    from biggraphite_spark.operators.text import nb_classifier

    corpus = [
        (0, "en", "the cat sat"),
        (1, "en", "the dog ran"),
        (2, "de", "der hund lief"),
        (3, "de", "der der katze"),
        (4, "en", "a cat and dog"),
    ]
    docs = spark.createDataFrame(corpus, ["doc_id", "lang", "text"])
    got = {r.doc_id: r for r in nb_classifier(docs).collect()}

    counts = defaultdict(Counter)
    nd = Counter()
    for _, y, s in corpus:
        nd[y] += 1
        counts[y].update(s.split(" "))
    vocab = {t for c in counts.values() for t in c}
    V, n = len(vocab), len(corpus)
    for doc_id, y_true, s in corpus:
        scores = {}
        for y in counts:
            t = sum(counts[y].values())
            sc = math.log(nd[y] / n)
            for tok in s.split(" "):
                sc += math.log((counts[y][tok] + 1.0) / (t + 1.0 * V))
            scores[y] = sc
        pred = min(scores, key=lambda y: (-scores[y], y))
        r = got[doc_id]
        assert r.lang == y_true
        assert r.pred == pred, (doc_id, r.pred, pred, scores)
        assert abs(r.score - scores[pred]) < 1e-5
    # sanity: the obviously-German docs classify de, English ones en
    assert got[2].pred == "de" and got[0].pred == "en"


def test_normalize_and_pii_idempotent(spark):
    """Cleanup passes must be stable under re-application: running the
    pipeline twice (a re-crawled doc, a re-ingested shard) cannot keep
    mutating text."""
    from pyspark.sql import functions as F

    from biggraphite_spark.operators.text import normalize_text, pii_mask

    adversarial = [
        "  a\t\tb\x00c  \r\n d ",
        "UPPER lower MiXeD",
        "x jo@ex.org y 1.2.3.4 z +1 (555) 123-4567",
        "a@b.co1.2.3.4",                     # email backtrack then IP
        "<EMAIL> <IP> <PHONE> already masked",
        "e\x07\x1f\x7f f",
        "", " ", "\t\n",
        "123456789012345678",                # long digit run
        "dots..only...here",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(adversarial)], ["i", "t"])
    once_n = normalize_text(F.col("t"))
    once_p = pii_mask(F.col("t"))
    pipe = pii_mask(normalize_text(F.col("t")))
    rows = df.select(
        "i",
        once_n.alias("n1"), normalize_text(once_n).alias("n2"),
        once_p.alias("p1"), pii_mask(once_p).alias("p2"),
        pipe.alias("c1"), pii_mask(normalize_text(pipe)).alias("c2"),
    ).collect()
    for r in rows:
        assert r.n1 == r.n2, ("normalize not idempotent", r.i, r.n1, r.n2)
        assert r.p1 == r.p2, ("pii_mask not idempotent", r.i, r.p1, r.p2)
        assert r.c1 == r.c2, ("pipeline not idempotent", r.i, r.c1, r.c2)


def test_leakage_free_split_keeps_clusters_together(spark):
    from biggraphite_spark.operators.curation import leakage_free_split

    docs = _docs(spark, [(i, f"doc {i}") for i in range(40)])
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    out = leakage_free_split(docs, pairs=pairs).collect()
    assert len(out) == 40
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    # the invariant: one split per cluster — no near-dup pair straddles
    assert all(len(s) == 1 for s in by_cluster.values())
    assert {r["split"] for r in out} <= {"train", "val", "test"}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        leakage_free_split(docs, weights=(0.5, 0.5), names=("a",), pairs=pairs)
    with _pytest.raises(ValueError):
        leakage_free_split(docs, weights=(0.5, 0.2), names=("a", "b"), pairs=pairs)
