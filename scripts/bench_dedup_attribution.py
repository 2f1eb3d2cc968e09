#!/usr/bin/env python
"""Attribute the streaming ingest-dedup ceiling (round-9 record: ~23.5k
docs/s/box at the sf1 index) to its pipeline stages.

The per-micro-batch body is: signature (Arrow md5) -> band keys -> probe
join against the bkey-bucketed index -> anti-join -> parquet append.  This
script times CUMULATIVE prefixes of that pipeline on one static batch with
the stream generator's exact shape (1-in-4 corpus replays, 3-in-4 novel
12-token synthetics), so stage cost = adjacent difference.  The probe join
is measured under both strategies (bucketed merge vs broadcast hash — see
``near_dup_filter(probe=...)``).

Prints ONE JSON line: {"metric": "dedup_attribution", "stages": {...}}.

Env: SPARK_GRAFT_CORPUS_DIR (default /root/repo/testdata_sf1),
     SPARK_GRAFT_BATCH_DOCS (default 200000), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS_DIR = os.environ.get("SPARK_GRAFT_CORPUS_DIR", "/root/repo/testdata_sf1")
BATCH_DOCS = int(os.environ.get("SPARK_GRAFT_BATCH_DOCS", "200000"))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PASSES = 3


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .appName("bench_dedup_attribution")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from biggraphite_spark.operators.dedup import (
        band_keys,
        minhash_signatures_arrow,
    )
    from biggraphite_spark.streaming.dedup import (
        _bkey,
        near_dup_filter,
        write_band_index,
    )

    workdir = tempfile.mkdtemp(prefix="bgspark_dedup_attr_")
    table = "bgspark_attr_band_index"
    corpus = spark.read.parquet(f"{CORPUS_DIR}/documents.parquet")
    write_band_index(corpus, os.path.join(workdir, "idx"), table,
                     n_buckets=int(CPUS))
    index = spark.table(table)

    sample_texts = [
        r["text"]
        for r in corpus.orderBy("doc_id").limit(256).collect()
        if r["text"]
    ]
    lit_sample = F.array(*[F.lit(t) for t in sample_texts])
    novel = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit(f"nv{j}x"),
                ((F.col("value") * 131 + j * 7919) % 999983).cast("string"),
            )
            for j in range(12)
        ],
    )
    batch = (
        spark.range(BATCH_DOCS)
        .withColumnRenamed("id", "value")
        .repartition(8)  # the rate source's numPartitions
        .select(
            F.col("value").alias("doc_id"),
            F.when(
                F.col("value") % 4 == 0,
                F.element_at(
                    lit_sample,
                    (F.col("value") % len(sample_texts) + 1).cast("int"),
                ),
            )
            .otherwise(novel)
            .alias("text"),
        )
        .localCheckpoint()  # the generator is not what we are timing
    )

    def timed(df) -> float:
        best = float("inf")
        for _ in range(PASSES):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return round(best, 3)

    sigs = minhash_signatures_arrow(batch, k=16, n=3)
    keyed = _bkey(band_keys(sigs))
    stages = {
        "batch_scan": timed(batch),
        "signatures": timed(sigs),
        "band_keys": timed(keyed),
        "probe_bucketed": timed(
            keyed.join(index.hint("merge"), "bkey").select("doc_id").distinct()
        ),
        "probe_broadcast": timed(
            keyed.join(F.broadcast(index), "bkey").select("doc_id").distinct()
        ),
        "filter_bucketed": timed(near_dup_filter(batch, index)),
        "filter_broadcast": timed(
            near_dup_filter(batch, index, probe="broadcast")
        ),
    }
    out_path = os.path.join(workdir, "append")
    t0 = time.time()
    near_dup_filter(batch, index, probe="broadcast").write.mode(
        "append"
    ).parquet(out_path)
    stages["filter_broadcast_plus_append"] = round(time.time() - t0, 3)

    print(
        json.dumps(
            {
                "metric": "dedup_attribution",
                "unit": "sec (best of 3, noop sink unless stated)",
                "batch_docs": BATCH_DOCS,
                "index_rows": index.count(),
                "corpus": CORPUS_DIR.rsplit("/", 1)[-1],
                "stages": stages,
            }
        ),
        flush=True,
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
