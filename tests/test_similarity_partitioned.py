"""IVF scale path: corpus written partitionBy(cell), probes read only the
probed cells' partitions (dynamic partition pruning over the cell equi-join).
"""

import os

from pyspark.sql import functions as F

from biggraphite_spark.operators.similarity import (
    ann_ivf_topk_partitioned,
    assign_cells,
    probe_cells,
    write_ivf_corpus,
)

# two well-separated 4-dim centroids
CODEBOOK = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])]


def _corpus(spark, n=40):
    rows = []
    for i in range(n):
        if i % 2 == 0:
            rows.append((i, [1.0, 0.01 * i, 0.0, 0.0]))
        else:
            rows.append((i, [0.0, 0.0, 1.0, 0.01 * i]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_partitioned_prunes_and_matches(spark, tmpdir):
    path = os.path.join(str(tmpdir), "ivf")
    corpus = _corpus(spark)
    write_ivf_corpus(corpus, path, CODEBOOK)

    # layout: one directory per cell
    assert sorted(d for d in os.listdir(path) if d.startswith("cell=")) == [
        "cell=0",
        "cell=1",
    ]

    # queries live in cell 0 only (nprobe=1)
    queries = corpus.filter(F.col("vec_id").isin(0, 2))
    out = ann_ivf_topk_partitioned(spark, path, queries, CODEBOOK, nprobe=1, k=3)
    rows = out.collect()

    # the probe equi-join on the partition column plans dynamic partition
    # pruning on the corpus scan: only probed cells' directories are read
    joined = spark.read.parquet(path).join(
        F.broadcast(probe_cells(queries, CODEBOOK, nprobe=1)), "cell"
    )
    plan = joined._jdf.queryExecution().toString()
    assert "dynamicpruning" in plan.lower()
    # and the surviving rows all come from cell=0 files (input_file_name
    # survives the broadcast join but not the top-k shuffle)
    touched = {
        f[0].split("cell=")[1].split("/")[0]
        for f in joined.select(F.input_file_name()).distinct().collect()
        if "cell=" in f[0]
    }
    assert touched == {"0"}

    # same results as the in-memory assign+probe plan
    expected = (
        assign_cells(corpus, CODEBOOK)
        .join(F.broadcast(probe_cells(queries, CODEBOOK, nprobe=1)), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .count()
    )
    assert expected > 0
    got = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows}
    assert len(got) == 2 * 3  # k=3 per query
    # every neighbor is an even id (cell-0 resident)
    assert all(n % 2 == 0 for _, n, _ in got)


def test_ivfpq_recall_against_exact(spark):
    """IVF-PQ over the synthetic embeddings: ranks are contiguous per query,
    results are deterministic, and asymmetric-distance top-5 overlaps the
    exact cosine top-5.  The bar is deliberately low: the codebook is the
    16-lowest-id sampled vectors (chosen for cross-engine reproducibility,
    not quality — measured recall ~0.2 here); a k-means-trained codebook
    plugs into the same operator for real recall.  Exactness of the
    quantize/decode/score arithmetic is pinned by the emb_ann_ivfpq
    DuckDB oracle, not this test."""
    from biggraphite_spark.operators.similarity import ann_ivfpq_topk, cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    approx = ann_ivfpq_topk(emb, q, nprobe=2, k=5).collect()
    per_q = {}
    for r in approx:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    assert set(per_q) == {0, 1, 2, 3, 4}
    for ranks in per_q.values():
        assert sorted(rk for rk, _ in ranks) == [1, 2, 3, 4, 5]
    # determinism
    again = ann_ivfpq_topk(emb, q, nprobe=2, k=5).collect()
    assert {tuple(r) for r in approx} == {tuple(r) for r in again}
    # recall@5 vs exact brute force
    exact = cosine_topk(emb, q, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(
        len(exact_sets[qid] & {n for _, n in per_q[qid]}) for qid in exact_sets
    )
    assert hits / (5 * len(exact_sets)) >= 0.1


def test_filtered_ann_pre_filter_semantics(spark):
    """Filtered vector search returns exactly the filtered top-k: every
    neighbor satisfies the predicate and the count stays k even when the
    unfiltered top-k would have been dominated by excluded vectors."""
    from biggraphite_spark.operators.similarity import ann_ivf_topk_filtered

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    out = ann_ivf_topk_filtered(
        emb, queries, corpus_filter=F.col("vec_id") % 2 == 0, nprobe=2, k=5
    ).collect()
    assert len(out) == 3 * 5
    assert all(r["neighbor_id"] % 2 == 0 for r in out)
    # post-filtering the unfiltered result would differ: odd neighbors
    # occupy top-k slots there
    from biggraphite_spark.operators.similarity import ann_ivf_topk

    unfiltered = ann_ivf_topk(emb, queries, nprobe=2, k=5).collect()
    assert any(r["neighbor_id"] % 2 == 1 for r in unfiltered)


def test_refresh_ivf_appends_equal_full_rebuild(spark, tmpdir):
    """refresh_ivf_corpus: appending the delta under the frozen codebook
    produces the exact probe results of a full rebuild over the union —
    and only the delta is assigned (the incremental-index contract)."""
    from biggraphite_spark.operators.similarity import refresh_ivf_corpus

    base = _corpus(spark, n=30)
    delta_rows = [(100, [1.0, 0.5, 0.0, 0.0]), (101, [0.0, 0.0, 1.0, 0.5])]
    delta = spark.createDataFrame(
        delta_rows, "vec_id long, embedding array<double>"
    )

    inc_path = os.path.join(str(tmpdir), "ivf_inc")
    write_ivf_corpus(base, inc_path, CODEBOOK)
    refresh_ivf_corpus(delta, inc_path, CODEBOOK)

    full_path = os.path.join(str(tmpdir), "ivf_full")
    write_ivf_corpus(base.unionByName(delta), full_path, CODEBOOK)

    queries = spark.createDataFrame(
        [(0, [1.0, 0.4, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.4])],
        "vec_id long, embedding array<double>",
    )

    def ranked(path):
        return sorted(
            tuple(r)
            for r in ann_ivf_topk_partitioned(
                spark, path, queries, CODEBOOK, nprobe=1, k=5
            ).collect()
        )

    assert ranked(inc_path) == ranked(full_path)
    # the new vectors are actually reachable
    got_ids = {t[1] for t in ranked(inc_path)}
    assert 100 in got_ids and 101 in got_ids


def test_ivf_and_ivfpq_arrow_equals_expr(spark):
    """The Arrow probe kernels the IVF family runs are bit-exact against
    their Column references: assign_cells_arrow == assign_cells row for
    row (ties included: equal rounded cosines go to the smallest label),
    and paired_cosine_arrow == _paired_cosine on both pair shapes — the
    IVF probe (query x corpus vector) and the IVF-PQ probe (query x PQ
    reconstruction)."""
    import random

    from biggraphite_spark.operators.similarity import (
        _paired_cosine,
        assign_cells_arrow,
        centroid_vectors,
        norm_expr,
        paired_cosine_arrow,
        pq_code_expr,
        pq_codebook,
        pq_recon_expr,
    )

    rng = random.Random(42)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
        for i in range(120)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    q = emb.filter(F.col("vec_id") < 4)
    codebook = [
        (r["label"], list(r["cv"])) for r in centroid_vectors(emb).collect()
    ]

    def cells(fn, df, cb):
        return sorted(
            (r["neighbor_id"], r["cell"], r["cn"], tuple(r["cv"]))
            for r in fn(df, cb).collect()
        )

    assert cells(assign_cells_arrow, emb, codebook) == cells(
        assign_cells, emb, codebook
    )
    ties = _corpus(spark, n=6).union(
        spark.createDataFrame(
            [(90, [1.0, 0.0, 1.0, 0.0]), (91, [2.0, 0.0, 2.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
    )
    for cb in (CODEBOOK, CODEBOOK[::-1]):
        want = cells(assign_cells, ties, cb)
        assert cells(assign_cells_arrow, ties, cb) == want
        assert {i: c for i, c, _, _ in want}[90] == 0
        assert {i: c for i, c, _, _ in want}[91] == 0

    def sims(pairs, b_vec, b_norm):
        arrow = sorted(
            tuple(r)
            for r in paired_cosine_arrow(pairs, "qv", "qn", b_vec, b_norm).collect()
        )
        ref = sorted(
            tuple(r)
            for r in pairs.select(
                "query_id",
                "neighbor_id",
                "qv",
                "qn",
                F.col(b_vec).alias("cv"),
                F.col(b_norm).alias("cn"),
            )
            .select("query_id", "neighbor_id", _paired_cosine().alias("sim"))
            .collect()
        )
        assert arrow == ref
        return arrow

    probed = probe_cells(q, codebook, nprobe=2)
    corpus = assign_cells(emb, codebook)
    assert sims(corpus.join(probed, "cell"), "cv", "cn")

    pq_cb = pq_codebook(emb, m=4, k=8)
    recon = corpus.select(
        "neighbor_id",
        "cell",
        pq_recon_expr(pq_code_expr(F.col("cv"), pq_cb, 4), pq_cb, 4).alias("rv"),
    ).withColumn("rn", norm_expr(F.col("rv")))
    assert sims(recon.join(probed, "cell"), "rv", "rn")
