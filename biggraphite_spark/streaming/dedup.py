"""Streaming near-dup filtering: ingest-time MinHash/LSH against a
historical corpus index.

The production dedup question at ingest is not "which stream docs duplicate
each other" (``dropDuplicatesWithinWatermark`` handles the exact case) but
"which incoming docs near-duplicate the CORPUS WE ALREADY HAVE".  The shape
that answers it at scale:

- signatures are stateless per-row (no aggregation state or watermark):
  :func:`minhash_signatures_arrow` for the index build and the probe alike
  (``foreachBatch`` hands the sink a plain batch DataFrame, so
  ``mapInPandas`` is legal there);
- the corpus side is a (band, key) index built ONCE from the historical
  signatures (``band_keys``) and written partitioned/bucketed by key, so
  each micro-batch's probe is an equi-join that prunes to the touched
  buckets;
- the drop decision runs inside ``foreachBatch`` (batch semantics per
  micro-batch): collide -> anti-join -> append survivors.  A doc is dropped
  when ANY of its bands matches the index — the same candidate rule as the
  batch self-join, sharing ``band_keys`` so the two paths can never key
  differently.

False positives (band collision without true similarity) are the LSH
trade-off tuned by (k, bands) exactly as in the batch path; a verify join
against stored shingles slots in before the anti-join if exactness is
required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_K,
    band_keys,
    minhash_signatures_arrow,
)


def _bkey(banded: DataFrame) -> DataFrame:
    """Fold (band, key) into ONE join column: bucketed-scan reuse requires
    the bucket spec to exactly match the join keys, so a single ``bkey``
    (band prefix keeps bands from colliding) is what lets the persisted
    index join without an exchange."""
    return banded.select(
        "doc_id",
        F.concat_ws(":", F.col("band").cast("string"), F.col("key")).alias("bkey"),
    )


def corpus_band_index(corpus_docs: DataFrame, k: int = DEFAULT_K,
                      bands: int = DEFAULT_BANDS, n: int = 3) -> DataFrame:
    """``bkey`` index of the historical corpus — build once; persist with
    :func:`write_band_index` so stream probes hit the bucketed layout."""
    return _bkey(
        band_keys(minhash_signatures_arrow(corpus_docs, k=k, n=n), k=k, bands=bands)
    ).select("bkey").distinct()


def write_band_index(corpus_docs: DataFrame, path: str, table: str,
                     k: int = DEFAULT_K, bands: int = DEFAULT_BANDS,
                     n: int = 3, n_buckets: int = 32) -> str:
    """Persist the corpus band index hash-bucketed by ``bkey``: the layout
    that makes every probe join exchange-free on the index side.

    The bucketed scan hands the join ``HashPartitioning(bkey)``, which IS
    the probe's join key — so the 100 TB-index side never shuffles per
    micro-batch; only the (small) stream side moves.  Same locality
    argument as ``PointStore.write_bucketed`` (storage.py), plan-asserted
    in tests/test_streaming_dedup.py.  Returns the table name for
    ``spark.table``."""
    spark = corpus_docs.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        corpus_band_index(corpus_docs, k=k, bands=bands, n=n)
        .write.format("parquet")
        .bucketBy(n_buckets, "bkey")
        .sortBy("bkey")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )
    return table


def near_dup_filter(docs: DataFrame, corpus_index: DataFrame,
                    k: int = DEFAULT_K, bands: int = DEFAULT_BANDS,
                    n: int = 3, probe: str = "bucketed") -> DataFrame:
    """Batch core (also the per-micro-batch body): drop every doc whose
    LSH banding collides with the corpus index.

    ``probe`` picks the index-join strategy:

    - ``"bucketed"`` (default, the 100 TB shape): equi-join against the
      bkey-bucketed index — the index side never shuffles (bucketed scan
      hands the join its HashPartitioning), the micro-batch side pays one
      repartition-to-buckets exchange per batch.
    - ``"broadcast"``: the index IS a distinct-bkey set (one string
      column), so below a few tens of millions of keys it broadcasts —
      the stream side then pays NO exchange at all and the probe is a
      map-side hash lookup, the same effect a Bloom front-filter would
      buy but exact.  Valid whenever the driver can hold the key set;
      above that, fall back to "bucketed".  The saturation bench
      (scripts/bench_streaming_dedup.py) measures both.
    """
    sigs = minhash_signatures_arrow(docs, k=k, n=n)
    keyed = _bkey(band_keys(sigs, k=k, bands=bands))
    index = (
        F.broadcast(corpus_index) if probe == "broadcast" else corpus_index
    )
    colliding = keyed.join(index, "bkey").select("doc_id").distinct()
    return docs.join(colliding, "doc_id", "left_anti")


def stream_near_dup_dedup(doc_stream: DataFrame, corpus_index: DataFrame,
                          out_path: str, checkpoint: str,
                          k: int = DEFAULT_K, bands: int = DEFAULT_BANDS,
                          n: int = 3):
    """Start a streaming query appending corpus-novel documents to
    ``out_path``.  ``corpus_index`` is a static DataFrame (stream-static
    joins are stateless); refresh it by restarting the query — the
    checkpoint carries only source offsets, no operator state."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # the anti-join references the micro-batch twice (all docs + the
        # colliding subset); persisted, the source offsets are scanned once
        # per batch instead of twice — measured 2x on numInputRows by
        # scripts/bench_streaming_dedup.py
        batch_df.persist()
        try:
            (
                near_dup_filter(batch_df, corpus_index, k=k, bands=bands, n=n)
                .write.mode("append")
                .parquet(out_path)
            )
        finally:
            batch_df.unpersist()

    return (
        doc_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
