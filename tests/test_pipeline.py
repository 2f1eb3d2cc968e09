"""Known-answer tests for the training-data pipeline operators."""

import math

import pytest
from pyspark.sql import functions as F

from biggraphite_spark.operators.dedup import (
    exact_dedup,
    lsh_near_dups,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
    with_shingles,
)
from biggraphite_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    random_hyperplanes,
)
from biggraphite_spark.operators.text import fingerprint, lang_id, text_stats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat", "en", "s1", 22),
        (1, "the cat sat on the mat", "en", "s2", 22),  # exact dup of 0
        (2, "the cat sat on the hat", "en", "s1", 22),  # near dup of 0
        (3, "der hund und die katze", "de", "s1", 22),
        (4, "completely different words entirely here now", "en", "s1", 44),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_groups(docs):
    rows = {r["rep_doc_id"]: r["n_docs"] for r in exact_dedup(docs).collect()}
    assert rows[0] == 2  # docs 0 and 1 collapse
    assert sum(rows.values()) == 5


def test_shingles(docs):
    row = with_shingles(docs).filter(F.col("doc_id") == 0).first()
    assert "the cat sat" in row["shingles"]
    assert len(row["shingles"]) == 4


def test_shingles_and_signatures_null_text_parity(spark):
    """Null text must not kill the Arrow kernels (AttributeError on
    .split) — each agrees with its pure-Column reference: shingles [NULL]
    (the shingles_col sub-n branch fires on size(NULL)=-1), signatures
    all-NULL."""
    from biggraphite_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_arrow,
        shingles_col,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, "x y")], "doc_id long, text string"
    )
    arrow = sorted((r.doc_id, r.shingles) for r in with_shingles(df).collect())
    ref = sorted(
        (r.doc_id, r.shingles)
        for r in df.select("doc_id", shingles_col(F.col("text")).alias("shingles"))
        .collect()
    )
    assert arrow == ref
    assert dict(arrow)[2] == [None]
    sig_a = sorted(
        tuple(r) for r in minhash_signatures_arrow(df, k=8).collect()
    )
    sig_r = sorted(tuple(r) for r in minhash_signatures(df, k=8).collect())
    assert sig_a == sig_r
    assert [h for r in sig_a if r[0] == 2 for h in r[1:]] == [None] * 8


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, 0.3).collect()}
    assert pairs[(0, 1)] == 1.0  # identical
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert not any(3 in p or 4 in p for p in pairs)


def test_lsh_near_dups_subset_of_exact(docs):
    """LSH candidates, once verified, are a subset of the exact pairs; pairs
    above the band threshold (~0.7 for 4x4) are found with near-certainty.
    The J=0.6 pair (0,2) may legitimately be missed — that's the LSH recall
    trade-off, not a bug."""
    exact = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(docs, 0.5).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in lsh_near_dups(docs, 0.5).collect()}
    assert lsh <= exact
    assert (0, 1) in lsh  # identical docs (J=1) always collide in every band


def test_simhash_similar_docs_close(docs):
    h = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert h[0] == h[1]  # identical text -> identical hash
    ham_near = bin(h[0] ^ h[2]).count("1")
    ham_far = bin(h[0] ^ h[4]).count("1")
    assert ham_near <= ham_far
    assert all(0 <= v < 2**16 for v in h.values())


def test_simhash_near_pairs_pigeonhole_exact(docs):
    """The banded join must find EVERY pair within the radius: brute-force
    hamming over the hashes is the golden answer, and the identical pair
    (0,1) is hamming 0."""
    h = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    for radius, bands in ((1, 2), (3, 4)):
        golden = {
            (a, b): bin(h[a] ^ h[b]).count("1")
            for a in h
            for b in h
            if a < b and bin(h[a] ^ h[b]).count("1") <= radius
        }
        got = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_near_pairs(docs, max_hamming=radius, bands=bands).collect()
        }
        assert got == golden
    assert (0, 1) in {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_pairs(docs, max_hamming=1, bands=2).collect()
    }


def test_simhash_near_pairs_validation(docs):
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, max_hamming=4, bands=4)  # pigeonhole broken
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, bands=5)  # 16 bits not divisible


def test_text_stats_values(docs):
    row = text_stats(docs).filter(F.col("doc_id") == 0).first()
    assert row["n_tokens"] == 6 and row["n_types"] == 5
    assert row["stopword_ratio"] == pytest.approx(2 / 6, abs=1e-6)
    assert row["avg_word_len"] == pytest.approx((22 - 5) / 6, abs=1e-6)


def test_lang_id_markers(docs):
    rows = {r["doc_id"]: r["predicted_lang"] for r in lang_id(docs).collect()}
    assert rows[0] == "en" and rows[3] == "de" and rows[4] == "und"


def test_lang_id_custom_marker_table(spark):
    """The marker table is a parameter, not a constant: an arbitrary
    ordered {lang: words} map drives scores, schema and priority."""
    df = spark.createDataFrame(
        [(0, "le chat et le chien", "fr", "s", 19),
         (1, "il gatto e il cane", "it", "s", 18),
         (2, "x y z", "xx", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    table = {"fr": ("le", "et", "la"), "it": ("il", "e", "lo")}
    out = {r["doc_id"]: r for r in lang_id(df, markers=table).collect()}
    assert set(out[0].asDict()) == {
        "doc_id", "score_fr", "score_it", "predicted_lang", "labeled_lang"
    }
    assert out[0]["predicted_lang"] == "fr" and out[0]["score_fr"] == 3
    assert out[1]["predicted_lang"] == "it"
    assert out[2]["predicted_lang"] == "und"


def test_fingerprint_permutation_invariant(spark):
    df = spark.createDataFrame(
        [(0, "a b c", "en", "s", 5), (1, "c b a", "en", "s", 5), (2, "a b d", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert fps[0] == fps[1] != fps[2]


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.0, 0.95, 0.05], 1),
        (4, [-1.0, 0.0, 0.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_ranking(emb):
    res = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=4).collect()
    order = [r["neighbor_id"] for r in sorted(res, key=lambda r: r["rank"])]
    assert order[0] == 1  # most similar
    assert order[-1] == 4  # opposite vector ranks last
    assert res[0]["sim"] <= 1.0


def test_ann_lsh_same_bucket_recall(emb):
    planes = random_hyperplanes(4, 3, seed=7)
    res = ann_lsh_topk(emb, emb.filter(F.col("vec_id") == 0), planes, k=4).collect()
    got = {r["neighbor_id"] for r in res}
    # vector 1 is nearly collinear with the query: same bucket guaranteed
    assert 1 in got
    # opposite vector lands in the complementary bucket: pruned
    assert 4 not in got
