"""Stratified sampling, sequence packing, and int8 quantization unit tests."""

from __future__ import annotations

import hashlib

import pytest

from biggraphite_spark.operators.sampling import (
    pack_sequences,
    rate_to_hex_threshold,
    stratified_sample,
)
from biggraphite_spark.operators.similarity import pq_quantize, quantize_int8


def test_rate_to_hex_threshold_bounds():
    assert rate_to_hex_threshold(0.0) == "00000000"
    assert rate_to_hex_threshold(1.0) == "ffffffff"
    assert rate_to_hex_threshold(0.5) == f"{int(0.5 * 0xFFFFFFFF):08x}"
    with pytest.raises(ValueError):
        rate_to_hex_threshold(1.5)


def test_stratified_sample_matches_python_twin(spark):
    rows = [(i, "w", "en" if i % 2 == 0 else "de") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    rates = {"en": 0.5, "de": 1.0}
    kept = {r["doc_id"] for r in stratified_sample(docs, rates).collect()}
    expected = {
        i
        for i, _, lang in rows
        if hashlib.md5(str(i).encode()).hexdigest()[:8]
        < rate_to_hex_threshold(rates[lang])
    }
    assert kept == expected
    # de rate 1.0 keeps every de doc; en rate 0.5 keeps a strict subset
    assert all(i in kept for i in range(1, 200, 2))
    assert 0 < sum(1 for i in range(0, 200, 2) if i in kept) < 100


def test_stratified_sample_drops_unlisted_strata(spark):
    docs = spark.createDataFrame(
        [(1, "x", "fr")], "doc_id long, text string, lang string"
    )
    assert stratified_sample(docs, {"en": 1.0}).count() == 0


def test_pack_sequences_offsets(spark):
    # stream a: 60, 50, 30 tokens with budget 100:
    #   doc 1 offset 0 (seq 0), doc 2 offset 60 (seq 0), doc 3 offset 110 -> seq 1 off 10
    rows = [
        (1, " ".join(["t"] * 60), "a"),
        (2, " ".join(["t"] * 50), "a"),
        (3, " ".join(["t"] * 30), "a"),
        (4, " ".join(["t"] * 10), "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["doc_id"]: (r["stream"], r["n_tokens"], r["seq_id"], r["seq_offset"])
        for r in pack_sequences(docs, 100).collect()
    }
    assert out[1] == ("a", 60, 0, 0)
    assert out[2] == ("a", 50, 0, 60)
    assert out[3] == ("a", 30, 1, 10)
    assert out[4] == ("b", 10, 0, 0)


def test_quantize_int8_roundtrip(spark):
    emb = spark.createDataFrame(
        [(1, [0.0, 1.0, 5.0]), (2, [1.0, 1.0, -5.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_int8(emb).collect()}
    # dim1 range [0,1]: codes 0 and 255; dim2 flat -> code 0 both;
    # dim3 range [-5,5]: codes 255 and 0
    assert out[1]["codes"] == "0,0,255"
    assert out[2]["codes"] == "255,0,0"
    # reconstruction of extreme points is exact -> cosine 1.0
    assert out[1]["recon_cosine"] == pytest.approx(1.0)
    assert out[2]["recon_cosine"] == pytest.approx(1.0)


def test_pq_quantize_codes_and_exact_recon_for_centroids(spark):
    import random

    rng = random.Random(3)
    rows = [
        (i, [round(rng.uniform(-1, 1), 4) for _ in range(64)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in pq_quantize(emb).collect()}
    assert len(out) == 40
    # a codebook vector reconstructs to itself exactly in every subspace:
    # its codes must be its own index and its recon cosine 1.0
    for cid in (0, 7, 15):
        assert out[cid]["pq_codes"] == ",".join([str(cid)] * 8)
        assert out[cid]["recon_cosine"] == pytest.approx(1.0)
    # codes are within [0, 16)
    for r in out.values():
        assert all(0 <= int(c) < 16 for c in r["pq_codes"].split(","))


def test_pq_quantize_explicit_codebook(spark):
    emb = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    # m=2 subspaces of 1 dim, 2 centroids
    cb = [[0.0, 0.0], [1.0, 1.0]]
    out = {
        r["vec_id"]: r["pq_codes"]
        for r in pq_quantize(emb, codebook=cb, m=2, k=2).collect()
    }
    assert out == {100: "1,0", 101: "0,1"}


def _docs_df(spark, n=300):
    rows = [
        (i, ["en", "de", "es"][i % 3], 50 + (i * 37) % 400) for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, n_chars int")


def test_quota_sample_exact_sizes_and_determinism(spark):
    from biggraphite_spark.operators.sampling import quota_sample

    df = _docs_df(spark)
    got = quota_sample(df, {"en": 10, "de": 5}).collect()
    by = {}
    for r in got:
        by.setdefault(r["lang"], []).append(r["doc_id"])
    assert len(by["en"]) == 10 and len(by["de"]) == 5
    assert "es" not in by  # unlisted stratum dropped
    # python twin: n smallest md5 keys per stratum, doc_id tie-break
    want = {}
    for r in df.collect():
        key = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8]
        want.setdefault(r["lang"], []).append((key, r["doc_id"]))
    for lang, n in (("en", 10), ("de", 5)):
        ids = [d for _, d in sorted(want[lang])[:n]]
        assert sorted(by[lang]) == sorted(ids)
    # quota above stratum size keeps the whole stratum
    small = quota_sample(df.filter("lang = 'de'"), {"de": 10**6}).count()
    assert small == df.filter("lang = 'de'").count()


def test_weighted_sample_reproducible_and_weight_biased(spark):
    from biggraphite_spark.operators.sampling import weighted_sample

    df = _docs_df(spark, 400)
    a = {r["doc_id"] for r in weighted_sample(df, "n_chars", 60).collect()}
    b = {r["doc_id"] for r in weighted_sample(df, "n_chars", 60).collect()}
    assert a == b and len(a) == 60  # same corpus -> same sample, exact n
    # weight bias: the sampled mean weight exceeds the population mean
    pop = df.agg({"n_chars": "avg"}).first()[0]
    samp = df.filter(df.doc_id.isin(a)).agg({"n_chars": "avg"}).first()[0]
    assert samp > pop


def test_pq_quantize_arrow_equals_expr(spark):
    """pq_codes_arrow (the encode pq_quantize runs) is a bit-exact twin of
    the expression form pq_code_expr (same fold order, no rounding in the
    distances, first-index argmin): identical codes on a random corpus
    and on ties — a duplicated codebook centroid and a subvector
    equidistant from two centroids both code to the lower index — and
    pq_quantize's output equals the expression-form reference."""
    import random

    from pyspark.sql import functions as F

    from biggraphite_spark.operators.similarity import (
        dot_expr,
        norm_expr,
        pq_code_expr,
        pq_codebook,
        pq_codes_arrow,
        pq_recon_expr,
    )

    def codes(df, cb, m):
        arrow = sorted(
            (r["vec_id"], tuple(r["code_arr"]))
            for r in pq_codes_arrow(df, cb, m, "v", keep=("vec_id",)).collect()
        )
        ref = sorted(
            (r["vec_id"], tuple(r["code_arr"]))
            for r in df.select(
                "vec_id", pq_code_expr(F.col("v"), cb, m).alias("code_arr")
            ).collect()
        )
        assert arrow == ref
        return dict(ref)

    rng = random.Random(17)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    cb = pq_codebook(emb, m=4, k=8)
    codes(emb.select("vec_id", F.col("embedding").alias("v")), cb, 4)

    tie_cb = [
        [0.0, 0.0, 0.0, 0.0],
        [2.0, 0.0, 2.0, 0.0],
        [2.0, 0.0, 2.0, 0.0],
        [0.0, 0.0, 4.0, 0.0],
    ]
    ties = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0, 0.0]), (2, [0.0, 0.0, 3.0, 0.0])],
        "vec_id long, v array<double>",
    )
    assert codes(ties, tie_cb, 2) == {1: (0, 1), 2: (0, 1)}

    v = F.col("embedding")
    recon = pq_recon_expr(pq_code_expr(v, cb, 4), cb, 4)
    ref = sorted(
        tuple(r)
        for r in emb.select(
            "vec_id",
            F.array_join(
                F.transform(pq_code_expr(v, cb, 4), lambda c: c.cast("string")),
                ",",
            ).alias("pq_codes"),
            F.round(
                dot_expr(v, recon) / (norm_expr(v) * norm_expr(recon)), 5
            ).alias("recon_cosine"),
        ).collect()
    )
    got = sorted(tuple(r) for r in pq_quantize(emb, cb, m=4).collect())
    assert got == ref

