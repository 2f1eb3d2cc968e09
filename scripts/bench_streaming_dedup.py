#!/usr/bin/env python
"""Streaming INGEST-DEDUP bench against a real corpus-scale band index.

tests/test_streaming_dedup.py pins the semantics and the exchange-free
probe plan at toy scale; this measures the same wiring at the sf1 corpus:

- the (band, key) index is built from the sf1 documents table with
  ``write_band_index`` (bucketed by bkey) — the one-time build cost is
  timed separately;
- a rate-source document stream (1-in-4 docs replay a corpus text and must
  be dropped; the rest are novel synthetics and must survive) runs through
  ``stream_near_dup_dedup``'s per-batch body: signature projection ->
  band keys -> probe join against the bucketed index -> anti-join ->
  append survivors;
- the index-side exchange-freedom is re-asserted on the ACTUAL sf1-sized
  plan (not the toy one) and recorded in the output.

Prints ONE JSON line per offered rate:
  {"metric": "streaming_dedup", "value": docs/s sustained, ...,
   "batch_s_median"/"batch_s_max": per-micro-batch probe latency,
   "dropped_frac": observed collision rate,
   "index_side_exchange_free": true}

Env: SPARK_GRAFT_STREAM_SECONDS (default 45), SPARK_GRAFT_DEDUP_RATES
(default "20000,60000" docs/s), SPARK_GRAFT_CORPUS_DIR (default
/root/repo/testdata_sf1), SPARK_GRAFT_CPUS, SPARK_GRAFT_DEDUP_PROBE
("bucketed" default | "broadcast" — see near_dup_filter(probe=...)).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUN_S = int(os.environ.get("SPARK_GRAFT_STREAM_SECONDS", "45"))
RATES = [
    int(r)
    for r in os.environ.get("SPARK_GRAFT_DEDUP_RATES", "20000,60000").split(",")
]
CORPUS_DIR = os.environ.get("SPARK_GRAFT_CORPUS_DIR", "/root/repo/testdata_sf1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PROBE = os.environ.get("SPARK_GRAFT_DEDUP_PROBE", "bucketed")
N_SAMPLE = 256  # corpus texts replayed into the stream as known dups


def _ts(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .appName("bench_streaming_dedup")
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

    workdir = tempfile.mkdtemp(prefix="bgspark_dedup_bench_")
    table = "bgspark_bench_band_index"
    corpus = spark.read.parquet(f"{CORPUS_DIR}/documents.parquet")

    t0 = time.time()
    write_band_index(
        corpus, os.path.join(workdir, "idx"), table, n_buckets=int(CPUS)
    )
    index = spark.table(table)
    index_rows = index.count()
    build_s = round(time.time() - t0, 2)

    # known-dup replay set: texts sampled deterministically from the corpus
    sample_texts = [
        r["text"]
        for r in corpus.orderBy("doc_id").limit(N_SAMPLE).collect()
        if r["text"]
    ]
    lit_sample = F.array(*[F.lit(t) for t in sample_texts])

    # the sf1-sized probe plan must keep the index side exchange-free
    # (bucketed scan hands the join HashPartitioning(bkey)); asserted on
    # the real index, recorded in the output.  The probe batch is a plain
    # narrow projection (like a micro-batch) so the ONLY exchange in the
    # plan is the stream side's repartition-to-buckets.
    probe_docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("probe text number "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    probe = _bkey(band_keys(minhash_signatures_arrow(probe_docs))).join(
        index.hint("merge"), "bkey"
    )
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    exchange_free = "Bucketed: true" in plan and plan.count("Exchange") == 1

    for rate in RATES:
        out_path = os.path.join(workdir, f"novel_{rate}")
        stream = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rate)
            .option("numPartitions", 8)
            .load()
        )
        # 1-in-4 rows replay a corpus text (a true near-dup that must
        # drop); the rest synthesize novel token runs that share no
        # 3-gram with the corpus
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
        docs = stream.select(
            F.col("value").alias("doc_id"),
            F.when(
                F.col("value") % 4 == 0,
                F.element_at(
                    lit_sample, (F.col("value") % len(sample_texts) + 1).cast("int")
                ),
            )
            .otherwise(novel)
            .alias("text"),
        )

        def sink(batch_df, epoch_id):
            # the anti-join references the micro-batch twice (docs +
            # colliding subset); persisted, the source is scanned once —
            # halving batch cost AND keeping numInputRows honest (the
            # double-scan inflated it 2x, which overstated docs/s)
            batch_df.persist()
            try:
                (
                    near_dup_filter(batch_df, index, probe=PROBE)
                    .write.mode("append")
                    .parquet(out_path)
                )
            finally:
                batch_df.unpersist()

        q = (
            docs.writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(workdir, f"ckpt_{rate}"))
            .start()
        )
        try:
            time.sleep(RUN_S)
        finally:
            q.stop()
            q.awaitTermination()

        progress = [json.loads(p.json) for p in q.recentProgress]
        # one entry per committed batch: recentProgress can surface the
        # same batchId more than once (idle re-emissions), which would
        # double rows_in and overstate docs/s
        by_batch = {p["batchId"]: p for p in progress}
        batches = [
            p for p in by_batch.values() if p.get("numInputRows", 0) > 0
        ]
        rows_in = sum(p["numInputRows"] for p in batches)
        if batches:
            first = min(batches, key=lambda p: p["timestamp"])
            last = max(batches, key=lambda p: p["timestamp"])
            wall = _ts(last["timestamp"]) + last["batchDuration"] / 1000.0 - _ts(
                first["timestamp"]
            )
        else:
            wall = float("nan")
        durations = sorted(p["batchDuration"] / 1000.0 for p in batches)
        survivors = spark.read.parquet(out_path).count() if batches else 0
        out = {
            "metric": "streaming_dedup",
            "value": int(rows_in / wall) if batches else 0,
            "unit": "docs/s",
            "sf": f"rate={rate}/s corpus={CORPUS_DIR.rsplit('/', 1)[-1]}",
            "rows_ingested": rows_in,
            "survivors": survivors,
            "dropped_frac": round(1 - survivors / rows_in, 4) if rows_in else None,
            "wall_s": round(wall, 2),
            "batches": len(batches),
            "batch_s_median": round(durations[len(durations) // 2], 2)
            if durations
            else None,
            "batch_s_max": round(durations[-1], 2) if durations else None,
            "index_rows": index_rows,
            "index_build_s": build_s,
            "index_side_exchange_free": exchange_free,
            "probe": PROBE,
        }
        print(json.dumps(out), flush=True)

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
