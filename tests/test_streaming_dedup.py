"""Streaming near-dup dedup against a historical corpus index.

Pins three contracts:
- the Arrow MinHash kernel and the Arrow shingle pass are BIT-IDENTICAL
  to their pure-Column references (same salted digests, same minima, same
  shingle arrays) — the property that lets the stream and the batch
  corpus share one keying;
- the batch core drops exactly the docs whose banding collides with the
  index (near-dups of corpus docs go, novel docs stay);
- the foreachBatch streaming query reproduces the batch answer across
  multiple micro-batches.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from biggraphite_spark.operators.dedup import (
    minhash_signatures,
    minhash_signatures_arrow,
    shingles_col,
    with_shingles,
)
from biggraphite_spark.streaming.dedup import (
    corpus_band_index,
    near_dup_filter,
    stream_near_dup_dedup,
)

DOC_SCHEMA = "doc_id long, text string"

CORPUS = [
    (100, "the quick brown fox jumps over the lazy dog near the river bank"),
    (101, "pack my box with five dozen liquor jugs before the morning train"),
]

STREAM_ROWS = [
    # near-dup of corpus doc 100 (one token changed) -> must be dropped
    (1, "the quick brown fox jumps over the lazy cat near the river bank"),
    # exact dup of corpus doc 101 -> must be dropped
    (2, "pack my box with five dozen liquor jugs before the morning train"),
    # novel -> must survive
    (3, "completely unrelated sentence about distributed query engines today"),
    (4, "another novel document mentioning winnowing fingerprints and spark"),
]


@pytest.fixture()
def dirs():
    d = tempfile.mkdtemp(prefix="bgspark-stream-dedup-")
    yield {k: os.path.join(d, k) for k in ("in", "out", "ckpt")}
    shutil.rmtree(d, ignore_errors=True)


# edge inputs every text kernel must reproduce: fewer than n tokens, empty
# text, empty tokens (runs of spaces, leading/trailing), repeated tokens
# and shingles, non-ASCII, and null text
EDGE_ROWS = [
    (900001, "one two"),
    (900002, ""),
    (900003, "a  b   c d"),
    (900004, " leading and trailing "),
    (900005, "uni çödé tøkens reppeat uni çödé tøkens"),
    (900006, "a  b   c d a  b   c d"),
    (900007, "x x x x x"),
    (900008, None),
]


def _kernel_inputs(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(60)
    return (
        docs.select("doc_id", "text"),
        spark.createDataFrame(EDGE_ROWS, DOC_SCHEMA),
    )


def test_arrow_signatures_match_aggregation_form(spark):
    """The Arrow kernel reproduces the split/md5/min pipeline of the
    explode+groupBy reference exactly, including the degenerate short-text
    branch, empty-token behaviour of split-on-space and null text."""
    for df in _kernel_inputs(spark):
        ref = {r["doc_id"]: r.asDict() for r in minhash_signatures(df).collect()}
        arrow = {
            r["doc_id"]: r.asDict()
            for r in minhash_signatures_arrow(df).collect()
        }
        assert ref == arrow


def test_near_dup_filter_batch_semantics(spark):
    corpus = spark.createDataFrame(CORPUS, DOC_SCHEMA)
    stream_docs = spark.createDataFrame(STREAM_ROWS, DOC_SCHEMA)
    index = corpus_band_index(corpus)
    kept = sorted(
        r["doc_id"] for r in near_dup_filter(stream_docs, index).collect()
    )
    assert kept == [3, 4]
    # the broadcast probe strategy is a physical-only rewrite
    kept_bc = sorted(
        r["doc_id"]
        for r in near_dup_filter(stream_docs, index, probe="broadcast").collect()
    )
    assert kept_bc == kept


def test_stream_matches_batch_across_microbatches(spark, dirs):
    corpus = spark.createDataFrame(CORPUS, DOC_SCHEMA)
    index = corpus_band_index(corpus)
    # two micro-batches: files land before each run of the availableNow query
    spark.createDataFrame(STREAM_ROWS[:2], DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["in"])
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(dirs["in"])
    q = stream_near_dup_dedup(stream, index, dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    spark.createDataFrame(STREAM_ROWS[2:], DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["in"])
    stream2 = spark.readStream.schema(DOC_SCHEMA).parquet(dirs["in"])
    q2 = stream_near_dup_dedup(stream2, index, dirs["out"], dirs["ckpt"])
    q2.awaitTermination(120)
    survivors = sorted(
        r["doc_id"] for r in spark.read.parquet(dirs["out"]).collect()
    )
    assert survivors == [3, 4]


def test_persisted_band_index_probe_is_exchange_free_on_index_side(spark, dirs):
    """The bucketed band index hands the probe join HashPartitioning(bkey),
    which IS the join key: the index-side subtree must contain NO Exchange
    (the stream side, tiny, is the only thing that moves) — the 100 TB
    probe shape."""
    from biggraphite_spark.operators.dedup import band_keys
    from biggraphite_spark.streaming.dedup import _bkey, write_band_index

    corpus = spark.createDataFrame(CORPUS, DOC_SCHEMA)
    table = "bgspark_test_band_index"
    try:
        write_band_index(corpus, os.path.join(dirs["out"], "idx"), table, n_buckets=4)
        index = spark.table(table)
        incoming = spark.createDataFrame(STREAM_ROWS, DOC_SCHEMA)
        probe = _bkey(band_keys(minhash_signatures_arrow(incoming))).join(
            index.hint("merge"), "bkey"
        )
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = probe._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)
        assert "Bucketed: true" in plan
        # exactly one Exchange: the stream side; the bucketed index scan
        # satisfies the join's distribution without one
        assert plan.count("Exchange") == 1
        # the colliding doc set is unchanged by the layout
        got = sorted(r["doc_id"] for r in probe.select("doc_id").distinct().collect())
        assert got == [1, 2]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_arrow_shingles_match_expression_form(spark):
    """with_shingles (the Arrow pass) equals the shingles_col expression
    element for element, order included."""
    for df in _kernel_inputs(spark):
        ref = {
            r["doc_id"]: r["shingles"]
            for r in df.select(
                "doc_id", shingles_col(F.col("text")).alias("shingles")
            ).collect()
        }
        arrow = {
            r["doc_id"]: r["shingles"] for r in with_shingles(df).collect()
        }
        assert ref == arrow  # arrays equal INCLUDING order
