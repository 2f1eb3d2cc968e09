"""Similarity search over embedding columns: brute-force cosine top-k and a
random-hyperplane LSH-bucketed variant.

Beyond-reference operators.  The embeddings table carries
``array<float>`` vectors; all math is done after an elementwise cast to
double, with explicit left-to-right summation so the DuckDB oracle computes
bit-compatible values (both engines then round before ranking, making the
top-k fully deterministic).

Scale shape:
- brute force = broadcast(queries) x corpus — linear scan, the correctness
  baseline and still the right plan for <= millions of vectors per query
  batch;
- LSH buckets = sign-pattern of dots with fixed hyperplanes -> 2^H buckets;
  the join is then bucket-equi + local top-k, cutting the scan by ~2^H at
  recall cost.  Hyperplanes are deterministic (seeded) Python constants
  embedded into the plan, so plans are reproducible across runs/engines.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def random_hyperplanes(n: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, rounded so their decimal
    literals parse to identical doubles everywhere."""
    rng = random.Random(seed)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n)
    ]


def as_double_array(col: Column) -> Column:
    return col.cast("array<double>")


def dot_expr(a: Column, b: Column) -> Column:
    """Left-to-right sequential dot product (matches list_sum order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _paired_cosine() -> Column:
    """Rounded cosine from pre-computed per-side norms — each side's norm is
    evaluated once per ROW before the join instead of once per PAIR after
    it, which is a ~3x compute cut on the pair stage (dot = d mults; the two
    norms would add 2d more per pair)."""
    return F.round(
        dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 5
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query batch against the corpus.

    Output: query_id, neighbor_id, sim (rounded), rank — ranked by rounded
    similarity with id tie-break, so the result set is exactly reproducible.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm_expr(F.col("qv")))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm_expr(F.col("cv")))
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _paired_cosine().alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def lsh_bucket_expr(vec: Column, hyperplanes: list[list[float]]) -> Column:
    """Bucket id = sign pattern of the vector against each hyperplane."""
    bucket = None
    for h, plane in enumerate(hyperplanes):
        lit = F.array(*[F.lit(v) for v in plane])
        term = F.when(dot_expr(vec, lit) >= 0, F.lit(1 << h)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("long")


def ann_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    hyperplanes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates share the query's bucket.

    The bucket equi-join replaces the full cross product — at scale the
    corpus is pre-bucketed (partitioned/bucketed by ``bucket``) so each query
    touches one partition.
    """
    c = (
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("cv")
        )
        .withColumn("bucket", lsh_bucket_expr(F.col("cv"), hyperplanes))
        .withColumn("cn", norm_expr(F.col("cv")))
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double_array(F.col(vec_col)).alias("qv")
        )
        .withColumn("bucket", lsh_bucket_expr(F.col("qv"), hyperplanes))
        .withColumn("qn", norm_expr(F.col("qv")))
    )
    sims = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _paired_cosine().alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dups(
    embeddings: DataFrame,
    hyperplanes: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse_exact: bool | str = "auto",
    collapse_ratio: float = 0.8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked.

    The training-data dedup shape: candidate pairs must share a sign-pattern
    bucket (self equi-join on ``bucket`` — at scale the corpus is written
    ``partitionBy(bucket)`` so the join is partition-local), then the exact
    rounded cosine verifies ``>= threshold``.  Emits each pair once
    (``id_a < id_b``).  Recall is tuned by the hyperplane count exactly like
    :func:`ann_lsh_topk`; a multi-table OR-amplified variant is the same plan
    unioned over several hyperplane sets.

    ``collapse_exact``: the pair COSINES are computed once per
    distinct-vector pair, not once per member pair — the PERF.md finding-37
    move applied to a pair-emitting operator.  A crawl corpus's exact
    duplicates (identical vectors) share a bucket by construction, and a
    member pair's cosine depends only on the two vectors, so within each
    bucket the rows collapse to a min-id representative per distinct
    vector, the quadratic cosine stage runs rep x rep, and qualifying rep
    pairs expand back to member pairs through two cheap id joins (plus the
    within-group pairs, whose self-cosine is computed once per group).
    The output relation is IDENTICAL — same pairs, and bit-identical sims
    because the same expression runs on the same vectors — but the 64-dim
    fold count drops from sum of member-pair counts to sum of
    distinct-pair counts (~10,000x fewer on a 100-way-replicated corpus).
    ``collapse_exact=False`` keeps the direct member-pair join.

    ``collapse_exact="auto"`` (default) decides from the data: one cheap
    aggregate probes ``approx_count_distinct(hash(vector)) / count`` and
    collapses only when the ratio is below ``collapse_ratio`` — on a corpus
    with few exact duplicates (distinct ~= total, the small-scale shape)
    the rep mapping is pure overhead (measured 2.6x at sf0.1), while on the
    clone-heavy sf10 shape the collapse is the difference between timeout
    and ~6 s.  Either path emits the IDENTICAL relation, so the choice is
    physical only.
    """
    if collapse_exact == "auto":
        probe = embeddings.agg(
            F.count("*").alias("total"),
            F.approx_count_distinct(F.xxhash64(F.col(vec_col))).alias("distinct"),
        ).collect()[0]
        collapse_exact = (
            probe.total > 0 and probe.distinct / probe.total < collapse_ratio
        )
    sig = (
        embeddings.select(
            F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
        )
        .withColumn("bucket", lsh_bucket_expr(F.col("v"), hyperplanes))
        .withColumn("n", norm_expr(F.col("v")))
    )
    sim = F.round(
        dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 5
    )
    if not collapse_exact:
        a = sig.select(
            F.col("id").alias("id_a"), F.col("v").alias("va"),
            F.col("n").alias("na"), "bucket",
        )
        b = sig.select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"),
            F.col("n").alias("nb"), "bucket",
        )
        return (
            a.join(b, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", sim.alias("sim"))
            .filter(F.col("sim") >= threshold)
        )

    from pyspark.sql import Window

    w = Window.partitionBy("bucket", "v")
    mem = (
        sig.withColumn("rid", F.min("id").over(w))
        .withColumn("m", F.count("*").over(w))
        # lazy: materializes once at the caller's first action (feeds reps +
        # two expansion sides) without running a job at plan-construction time
        .localCheckpoint(eager=False)
    )
    reps = mem.filter(F.col("id") == F.col("rid")).select("rid", "v", "n", "bucket", "m")

    ra = reps.select(
        F.col("rid").alias("ra"), F.col("v").alias("va"), F.col("n").alias("na"), "bucket"
    )
    rb = reps.select(
        F.col("rid").alias("rb"), F.col("v").alias("vb"), F.col("n").alias("nb"), "bucket"
    )
    cross_reps = (
        ra.join(rb, "bucket")
        .filter(F.col("ra") < F.col("rb"))
        .select("ra", "rb", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    ma = mem.select(F.col("rid").alias("ra"), F.col("id").alias("ia"))
    mb = mem.select(F.col("rid").alias("rb"), F.col("id").alias("ib"))
    cross_pairs = (
        cross_reps.join(ma, "ra")
        .join(mb, "rb")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "sim",
        )
    )
    self_sim = F.round(
        dot_expr(F.col("v"), F.col("v")) / (F.col("n") * F.col("n")), 5
    )
    intra_reps = (
        reps.filter(F.col("m") >= 2)
        .select("rid", self_sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    intra_pairs = (
        intra_reps.join(mem.select("rid", F.col("id").alias("id_a")), "rid")
        .join(mem.select("rid", F.col("id").alias("id_b")), "rid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim")
    )
    return cross_pairs.unionByName(intra_pairs)


def centroid_vectors(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Coarse-quantizer codebook: one centroid per ``label`` as the
    per-dimension mean vector, rounded so both engines (and successive runs)
    assign cells from bit-identical centroids.  Output: (label, cv)."""
    exploded = embeddings.select(
        "label", F.posexplode(as_double_array(F.col(vec_col))).alias("pos", "val")
    )
    means = exploded.groupBy("label", "pos").agg(
        F.round(F.avg("val"), 6).alias("mean_val")
    )
    return means.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s.getField("mean_val"),
        ).alias("cv")
    )


def _cell_rank_structs(
    vec: Column, vec_norm: Column, codebook: list[tuple[int, list[float]]]
) -> Column:
    """Array of (csim, -label) structs, one per centroid — struct max/sort
    gives the argmax with smallest-label tie-break, all inside codegen.

    The codebook is embedded as ONE literal array-of-structs and looped with
    ``transform`` instead of unrolling a cosine expression per centroid:
    unrolled, cells x dim literals per call site blow up the generated
    method past the JIT's compilable size and the projection runs
    interpreted; as a runtime loop over literal data the generated code is
    tiny and independent of the codebook size.  Centroid norms are computed
    driver-side and embedded as literals (same sequential sum as the SQL
    oracle's list_sum, so the doubles are bit-identical), and the vector's
    own norm is evaluated once per row, not once per centroid."""
    cb = F.array(
        *[
            F.struct(
                F.lit(label).alias("label"),
                F.array(*[F.lit(v) for v in cv]).alias("cv"),
                F.lit(math.sqrt(sum(v * v for v in cv))).alias("cn"),
            )
            for label, cv in codebook
        ]
    )
    return F.transform(
        cb,
        lambda c: F.struct(
            F.round(
                dot_expr(vec, c.getField("cv")) / (vec_norm * c.getField("cn")), 5
            ).alias("csim"),
            (-c.getField("label")).alias("neg"),
        ),
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: assign every corpus vector to its nearest
    centroid cell, probe each query's ``nprobe`` closest cells, brute-force
    only inside them.

    The codebook is tiny (cells x dim doubles), so it is **collected once
    and embedded as plan literals** — cell assignment is then a pure
    projection (argmax over per-centroid expressions, whole-stage codegen,
    zero shuffle of the corpus), and the candidate join broadcasts the probe
    list.  At 100 TB the corpus is written ``partitionBy(cell)`` once and
    each query batch reads ``nprobe`` partitions — the IVF promise,
    expressed as partition pruning; the only shuffle left is the per-query
    top-k over candidate similarities.

    The two HOF-interpretation-bound loops — corpus cell assignment (rows
    x cells cosines) and candidate scoring (one cosine per joined pair) —
    run through the bit-exact numpy twins :func:`assign_cells_arrow` and
    :func:`paired_cosine_arrow`.
    """
    codebook = [
        (r["label"], list(r["cv"]))
        for r in centroid_vectors(embeddings, id_col, vec_col).collect()
    ]
    assigned = assign_cells_arrow(embeddings, codebook, id_col, vec_col)
    probed = probe_cells(queries, codebook, nprobe, id_col, vec_col)
    return _probe_topk(assigned, probed, k)


def assign_cells(
    embeddings: DataFrame,
    codebook: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus side of IVF: nearest-centroid cell per vector, as a pure
    projection (no shuffle).  Output: neighbor_id, cv, cn, cell."""
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm_expr(F.col("cv")))
    return corpus.select(
        "neighbor_id",
        "cv",
        "cn",
        (
            -F.array_max(
                _cell_rank_structs(F.col("cv"), F.col("cn"), codebook)
            ).getField("neg")
        ).alias("cell"),
    )


def assign_cells_arrow(
    embeddings: DataFrame,
    codebook: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bit-exact Arrow twin of :func:`assign_cells` (finding 36's template
    applied to the IVF corpus side): the same per-centroid rounded cosines
    — dim-sequential dot, norms-multiplied-first denominator, HALF_UP
    5-digit round, centroid norms from the SAME driver-side python fold
    the expr form embeds as literals — and the same argmax with
    smallest-label tie-break (``array_max`` over (csim, -label) structs ==
    "strictly greater, or equal and lower label", order-independent).
    Output: neighbor_id, cv, cn, cell."""
    import numpy as np
    from pyspark.sql import types as T

    labels = [label for label, _ in codebook]
    C = np.asarray([cv for _, cv in codebook], dtype=np.float64)
    # the expr form embeds lit(math.sqrt(sum(...))) — reuse those doubles
    cns = np.asarray(
        [math.sqrt(sum(v * v for v in cv)) for _, cv in codebook],
        dtype=np.float64,
    )
    src = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col(vec_col)).alias("cv"),
    )
    out_schema = T.StructType(
        [
            src.schema["neighbor_id"],
            T.StructField("cv", T.ArrayType(T.DoubleType())),
            T.StructField("cn", T.DoubleType()),
            T.StructField("cell", T.IntegerType()),
        ]
    )

    def assign(batches):
        import pandas as pd

        from biggraphite_spark.operators.vectorized import (
            round_half_up,
            seq_dot_vec,
            seq_norm,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf["cv"].tolist(), dtype=np.float64)
            vn = seq_norm(V)
            best_s = np.full(len(pdf), -np.inf)
            best_l = np.zeros(len(pdf), dtype=np.int64)
            for pos, label in enumerate(labels):
                csim = round_half_up(
                    seq_dot_vec(V, C[pos]) / (vn * cns[pos]), 5
                )
                better = (csim > best_s) | ((csim == best_s) & (label < best_l))
                best_s = np.where(better, csim, best_s)
                best_l = np.where(better, label, best_l)
            out = pdf[["neighbor_id", "cv"]].copy()
            out["cn"] = vn
            out["cell"] = best_l.astype(np.int32)
            yield out

    return src.mapInPandas(assign, out_schema)


def probe_cells(
    queries: DataFrame,
    codebook: list[tuple[int, list[float]]],
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query side of IVF: each query exploded to its ``nprobe`` closest
    cells.  Output: query_id, qv, qn, cell."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm_expr(F.col("qv")))
    return q.select(
        "query_id",
        "qv",
        "qn",
        F.explode(
            F.slice(
                F.sort_array(
                    _cell_rank_structs(F.col("qv"), F.col("qn"), codebook), asc=False
                ),
                1,
                nprobe,
            )
        ).alias("probe"),
    ).select("query_id", "qv", "qn", (-F.col("probe.neg")).alias("cell"))


def _probe_topk(assigned: DataFrame, probed: DataFrame, k: int) -> DataFrame:
    pairs = assigned.join(F.broadcast(probed), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    sims = paired_cosine_arrow(pairs, "qv", "qn", "cv", "cn")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def paired_cosine_arrow(
    pairs: DataFrame,
    a_vec: str,
    a_norm: str,
    b_vec: str,
    b_norm: str,
) -> DataFrame:
    """Bit-exact Arrow twin of the ``_paired_cosine`` projection on a
    joined pair relation: per row, the same dim-sequential dot fold
    (:func:`.vectorized.seq_dot_rows`), the same norms-multiplied-first
    denominator, the same HALF_UP 5-digit round — one ``mapInPandas``
    pass instead of an interpreted zip_with+aggregate per pair (the
    probe-side hot loop of the IVF family, PERF.md finding 39).
    Output: (query_id, neighbor_id, sim)."""
    from pyspark.sql import types as T

    src = pairs.select("query_id", "neighbor_id", a_vec, a_norm, b_vec, b_norm)
    out_schema = T.StructType(
        [
            src.schema["query_id"],
            src.schema["neighbor_id"],
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        from biggraphite_spark.operators.vectorized import (
            round_half_up,
            seq_dot_rows,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.asarray(pdf[a_vec].tolist(), dtype=np.float64)
            B = np.asarray(pdf[b_vec].tolist(), dtype=np.float64)
            denom = pdf[a_norm].to_numpy() * pdf[b_norm].to_numpy()
            sim = round_half_up(seq_dot_rows(A, B) / denom, 5)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "sim": sim,
                }
            )

    return src.mapInPandas(score, out_schema)


def ann_ivf_topk_filtered(
    embeddings: DataFrame,
    queries: DataFrame,
    corpus_filter: Column,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Filtered vector search: IVF top-k restricted to corpus vectors
    satisfying a metadata predicate — the "WHERE lang='en'" every vector
    store bolts onto ANN.

    Pre-filtering semantics: the codebook comes from the FULL corpus (the
    index is built once, filters vary per request) and the predicate is
    applied to the corpus side BEFORE the probe join, so results are
    exactly the filtered top-k — post-filtering a k-list can silently
    return fewer than k rows.  At scale the predicate prunes row groups
    inside each probed ``partitionBy(cell)`` partition, composing with the
    IVF partition pruning; selectivity only shrinks the candidate set.
    """
    codebook = [
        (r["label"], list(r["cv"]))
        for r in centroid_vectors(embeddings, id_col, vec_col).collect()
    ]
    assigned = assign_cells_arrow(
        embeddings.filter(corpus_filter), codebook, id_col, vec_col
    )
    probed = probe_cells(queries, codebook, nprobe, id_col, vec_col)
    return _probe_topk(assigned, probed, k)


def write_ivf_corpus(
    embeddings: DataFrame,
    path: str,
    codebook: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: the assigned corpus written
    ``partitionBy(cell)`` — the one-time cost that turns every later probe
    into a partition-pruned read."""
    assign_cells(embeddings, codebook, id_col, vec_col).write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(path)


def refresh_ivf_corpus(
    new_embeddings: DataFrame,
    path: str,
    codebook: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance: assign ONLY the new vectors to the
    existing (frozen) codebook and APPEND them into their cell
    partitions — the vector-index analogue of ``PointStore.
    refresh_rollup`` (touch what changed, never rebuild).  Because cell
    assignment is a pure function of the codebook, append-after-assign is
    exactly equal to a full rebuild over the union corpus — pinned by
    ``test_similarity_partitioned``.  At 100 TB this is the difference
    between a daily index job that costs one day of vectors and one that
    costs the corpus."""
    assign_cells(new_embeddings, codebook, id_col, vec_col).write.partitionBy(
        "cell"
    ).mode("append").parquet(path)


def ann_ivf_topk_partitioned(
    spark,
    path: str,
    queries: DataFrame,
    codebook: list[tuple[int, list[float]]],
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe against a :func:`write_ivf_corpus` index — the 100 TB read
    path.  ``cell`` is a partition column, and the broadcast equi-join on it
    triggers dynamic partition pruning: only the probed cells' directories
    are scanned (asserted by test_similarity_partitioned via
    ``input_file_name``), so probe cost scales with nprobe/cells of the
    corpus, not its size."""
    assigned = spark.read.parquet(path)
    probed = probe_cells(queries, codebook, nprobe, id_col, vec_col)
    return _probe_topk(assigned, probed, k)


def ann_ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    m: int = 8,
    pq_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: coarse cells prune the corpus, PQ codes compress what's left,
    queries score candidates by ASYMMETRIC distance — full-precision query
    against each candidate's PQ reconstruction (Jégou et al. 2011, the
    billion-scale ANN layout).

    Composition of the two existing quantizers, both as literal-codebook
    projections: the corpus side carries only (id, cell, code word) — at
    100 TB that is the index you persist (``partitionBy(cell)``, dim/m
    bytes a vector, originals cold); probes read nprobe partitions and the
    only shuffle is the per-query top-k.  The reconstruction is decoded
    inside the scan projection, never materialized corpus-wide.
    """
    ivf_cb = [
        (r["label"], list(r["cv"]))
        for r in centroid_vectors(embeddings, id_col, vec_col).collect()
    ]
    pq_cb = pq_codebook(embeddings, m=m, k=pq_k, vec_col=vec_col, id_col=id_col)
    assigned = assign_cells_arrow(embeddings, ivf_cb, id_col, vec_col)
    # the encode is the HOF-bound stage (PERF.md finding 29); the Arrow
    # twin emits the identical codes (pq_codes_arrow docstring)
    corpus = pq_codes_arrow(
        assigned.select("neighbor_id", "cell", "cv"), pq_cb, m, "cv",
        keep=("neighbor_id", "cell"),
    )
    # Exchange barrier between encode and decode: without it CollapseProject
    # inlines the full per-subspace distance computation into every one of
    # the reconstruction's 64 element lookups (codes re-derived ~65x per
    # row — measured 16s vs 1s at sf0.1).  The repartition ships only
    # (id, cell, m int8 codes) — the persisted-index row — and clusters by
    # cell, which IS the partitionBy(cell) layout the index is written in
    # at scale, so the barrier costs nothing the design didn't already pay.
    corpus = corpus.repartition(F.col("cell"))
    # decode + norm in the candidate projection: the index itself stays codes
    recon = pq_recon_expr(F.col("code_arr"), pq_cb, m)
    candidates = corpus.select(
        "neighbor_id", "cell", recon.alias("rv")
    ).withColumn("rn", norm_expr(F.col("rv")))
    probed = probe_cells(queries, ivf_cb, nprobe, id_col, vec_col)
    pairs = candidates.join(F.broadcast(probed), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # the asymmetric-distance loop (full-precision query x PQ
    # reconstruction) through the same bit-exact pair scorer
    sims = paired_cosine_arrow(pairs, "qv", "qn", "rv", "rn")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def label_centroids(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid statistics via posexplode -> two-level aggregation
    (the IVF-style cell summary): label, n_vectors, centroid_norm."""
    exploded = embeddings.select(
        "label", id_col, F.posexplode(as_double_array(F.col(vec_col))).alias("pos", "val")
    )
    cell = exploded.groupBy("label", "pos").agg(
        F.avg("val").alias("mean_val"), F.count_distinct(F.col(id_col)).alias("n_vectors")
    )
    return (
        cell.groupBy("label")
        .agg(
            F.first("n_vectors").alias("n_vectors"),
            F.round(F.sqrt(F.sum(F.col("mean_val") * F.col("mean_val"))), 5).alias("centroid_norm"),
        )
    )


def dimension_ranges(emb: DataFrame, vec_col: str = "embedding") -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus, computed distributed
    (posexplode + one agg) and collected — the quantization codebook is a
    handful of doubles, the same codebook-as-literal move as IVF.  min/max
    return exact input values (no summation), so any engine recomputing
    them over the same data gets bit-identical literals."""
    ranged = (
        emb.select(F.posexplode(as_double_array(F.col(vec_col))).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    return [(r["mn"], r["mx"]) for r in ranged]


def quantize_int8(
    emb: DataFrame,
    ranges: list[tuple[float, float]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> DataFrame:
    """Scalar int8 quantization of an embedding column: per-dimension affine
    map onto [0, levels], plus the reconstruction's cosine against the
    original as a quality column.

    ``code_i = round(levels * (x_i - min_i) / (max_i - min_i))`` with the
    per-dimension ranges embedded as plan literals (compute them once with
    :func:`dimension_ranges`).  Quantization is then a pure projection —
    zero shuffle, runs at scan speed, and cuts vector storage 4x (the
    standard memory lever for billion-scale ANN corpora).  A flat dimension
    (min == max) maps to code 0 and reconstructs the constant exactly.
    """
    if ranges is None:
        ranges = dimension_ranges(emb, vec_col)
    rng_lit = F.array(
        *[
            F.struct(
                F.lit(float(mn)).alias("mn"),
                F.lit(float(mx)).alias("mx"),
            )
            for mn, mx in ranges
        ]
    )
    v = as_double_array(F.col(vec_col))
    idx = F.sequence(F.lit(1), F.lit(len(ranges)))

    def code_at(vv: Column, i: Column) -> Column:
        x = F.element_at(vv, i)
        r = F.element_at(rng_lit, i)
        mn, mx = r.getField("mn"), r.getField("mx")
        span = mx - mn
        return F.when(
            span != 0, F.round(F.lit(levels) * (x - mn) / span).cast("int")
        ).otherwise(F.lit(0))

    from .text import bind_col

    # bind the cast vector once: element_at against the raw cast expression
    # would re-cast the whole array per dimension (bind_col docstring)
    codes = bind_col(v, lambda vv: F.transform(idx, lambda i: code_at(vv, i)))

    def recon_at(i: Column) -> Column:
        r = F.element_at(rng_lit, i)
        mn, mx = r.getField("mn"), r.getField("mx")
        c = F.element_at(F.col("code_arr"), i).cast("double")
        return mn + c * (mx - mn) / F.lit(levels)

    with_codes = emb.select(id_col, v.alias("v"), codes.alias("code_arr"))
    recon = F.transform(idx, recon_at)
    scored = with_codes.select(
        id_col,
        "code_arr",
        F.round(
            dot_expr(F.col("v"), recon)
            / (norm_expr(F.col("v")) * norm_expr(recon)),
            5,
        ).alias("recon_cosine"),
    )
    # codes ride out as a comma-joined string: a portable, engine-neutral
    # encoding (array cell formatting differs between pandas/duckdb)
    code_str = F.array_join(
        F.transform(F.col("code_arr"), lambda c: c.cast("string")), ","
    )
    return scored.select(id_col, code_str.alias("codes"), "recon_cosine")


def pq_codebook(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic sampled PQ codebook: the ``k`` lowest-id corpus vectors
    become the centroids (their j-th subvector is subspace j's centroid
    set).  A k-means-trained codebook plugs into the same quantizer — the
    sampled one keeps the whole operator reproducible across engines with
    zero iterative state.  Returns the k full vectors, ordered by id."""
    rows = (
        emb.orderBy(id_col)
        .limit(k)
        .select(id_col, as_double_array(F.col(vec_col)).alias("v"))
        .collect()
    )
    return [list(r["v"]) for r in sorted(rows, key=lambda r: r[id_col])]


def _pq_cents_lit(codebook: list[list[float]]) -> Column:
    return F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in codebook])


def pq_code_expr(v: Column, codebook: list[list[float]], m: int) -> Column:
    """PQ code word for one vector column: per-subspace argmin-L2 centroid
    index (first-index tie-break), codebook as plan literals.

    All distance sums are explicit left-to-right folds, squared via
    multiplication NOT pow() — Math.pow(x, 2) is not guaranteed bit-equal
    to x*x and the SQL oracle replays x*x."""
    dim = len(codebook[0])
    d_sub = dim // m
    cents_lit = _pq_cents_lit(codebook)

    from .text import bind_col

    def codes_of(vv: Column) -> Column:
        # vv is a bound lambda variable: element_at(vv, ·) is a lookup.
        # Referencing the raw `v` expression (usually a cast) per element
        # would re-materialize the whole array once per subspace step.
        def sub_dist(j: int, cent: Column) -> Column:
            def step(acc: Column, i: Column) -> Column:
                diff = F.element_at(vv, i + j * d_sub) - F.element_at(cent, i + j * d_sub)
                return acc + diff * diff

            return F.aggregate(
                F.sequence(F.lit(1), F.lit(d_sub)), F.lit(0.0), step
            )

        def code_for(j: int) -> Column:
            dists = F.transform(cents_lit, lambda c: sub_dist(j, c))
            # array_position finds the FIRST match -> lowest-index tie-break;
            # dists bound so min + position don't each re-fold the distances
            return bind_col(
                dists,
                lambda dd: (F.array_position(dd, F.array_min(dd)) - 1).cast("int"),
            )

        return F.array(*[code_for(j) for j in range(m)])

    return bind_col(v, codes_of)


def pq_codes_arrow(
    df: DataFrame,
    codebook: list[list[float]],
    m: int,
    vec_col: str,
    keep: tuple[str, ...],
) -> DataFrame:
    """Bit-exact Arrow twin of :func:`pq_code_expr` (PERF.md findings
    29/36): the encode is HOF-interpretation-bound (~2 ms/row at m=8,
    k=16, 64 dims), and the distance folds carry no rounding, so the
    numpy mirror — the same dim-sequential ``acc + diff*diff`` per
    subspace, first-occurrence argmin — reproduces the codes exactly
    (pinned by a kernel-level equality test and the shared oracles).
    Input ``df`` must carry ``keep`` columns plus ``vec_col`` as
    array<double>; output is ``keep`` + ``code_arr`` (array<int>).
    Precondition: no null/NaN vectors (the corpus contract)."""
    import numpy as np
    from pyspark.sql import types as T

    C = np.asarray(codebook, dtype=np.float64)
    dim = C.shape[1]
    d_sub = dim // m
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField("code_arr", T.ArrayType(T.IntegerType()))]
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                dists = np.zeros((len(pdf), C.shape[0]), dtype=np.float64)
                for i in range(d_sub):
                    col = j * d_sub + i
                    diff = V[:, col][:, None] - C[:, col][None, :]
                    dists += diff * diff
                codes[:, j] = np.argmin(dists, axis=1)
            out = pdf[list(keep)].copy()
            out["code_arr"] = list(codes)
            yield out

    return df.mapInPandas(enc, out_schema)


def pq_recon_expr(code_arr: Column, codebook: list[list[float]], m: int) -> Column:
    """Decode a PQ code word back to its reconstruction vector (each
    subspace's dims copied from the coded centroid) — the asymmetric-distance
    lookup table, expressed as a literal-array projection."""
    dim = len(codebook[0])
    d_sub = dim // m
    cents_lit = _pq_cents_lit(codebook)
    return F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: F.element_at(
            F.element_at(
                cents_lit,
                F.element_at(code_arr, F.floor((i - 1) / d_sub).cast("int") + 1) + 1,
            ),
            i,
        ),
    )


def pq_quantize(
    emb: DataFrame,
    codebook: list[list[float]] | None = None,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product quantization: split each vector into ``m`` subspaces, assign
    every subvector to its nearest codebook centroid (L2, first-index
    tie-break), emit the m-code word plus the reconstruction's cosine
    against the original.

    The codebook rides as plan literals (the IVF codebook-as-literal move):
    quantization is a pure projection — zero shuffle, scan-speed, and the
    compressed corpus is dim/m bytes per vector, the standard memory layout
    for billion-scale ANN (Jégou et al. 2011).  All distance sums are
    explicit left-to-right folds so any engine replaying them gets
    bit-identical codes.  The encode runs through :func:`pq_codes_arrow`,
    the bit-exact twin of :func:`pq_code_expr`.
    """
    if codebook is None:
        codebook = pq_codebook(emb, m=m, k=k, vec_col=vec_col, id_col=id_col)
    v = as_double_array(F.col(vec_col))
    with_codes = pq_codes_arrow(
        emb.select(id_col, v.alias("v")), codebook, m, "v",
        keep=(id_col, "v"),
    )
    recon = pq_recon_expr(F.col("code_arr"), codebook, m)
    scored = with_codes.select(
        id_col,
        "code_arr",
        F.round(
            dot_expr(F.col("v"), recon)
            / (norm_expr(F.col("v")) * norm_expr(recon)),
            5,
        ).alias("recon_cosine"),
    )
    code_str = F.array_join(
        F.transform(F.col("code_arr"), lambda c: c.cast("string")), ","
    )
    return scored.select(id_col, code_str.alias("pq_codes"), "recon_cosine")


def truncate_dims(
    embeddings: DataFrame, d: int, vec_col: str = "embedding"
) -> DataFrame:
    """Keep only the first ``d`` dimensions of the embedding column — the
    Matryoshka-representation trick (Kusupati et al. 2022): models trained
    with MRL pack the most informative directions first, so a d/4 prefix
    retrieves nearly as well at a quarter of the dot-product cost and
    memory.  A pure slice projection; compose with :func:`cosine_topk` /
    the IVF paths for the cheap first-pass retrieval tier."""
    return embeddings.withColumn(vec_col, F.slice(F.col(vec_col), 1, d))


def rp_signs(d_in: int, d_out: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix (d_out × d_in) for
    :func:`random_projection`: sign = parity of the first hex digit of
    md5("rp:<j>:<i>").  Computed ONCE in Python and embedded as plan
    literals — the runtime never hashes; any engine (and the DuckDB
    oracle) can regenerate the identical matrix from this recipe."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[0], 16) < 8 else -1
            for i in range(d_in)
        ]
        for j in range(d_out)
    ]


def random_projection(
    embeddings: DataFrame,
    d_out: int,
    d_in: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss sign-matrix dimensionality reduction
    (Achlioptas 2003's database-friendly ±1 variant): each output dim is a
    literal-coefficient signed sum over ALL input dims.  Unlike
    :func:`truncate_dims` the JL distance guarantee is distribution-free —
    truncation needs the energy front-loaded (MRL training) while RP works
    on any embedding; on isotropic vectors the two are statistically
    equivalent random-subspace projections.

    A pure projection (d_out literal-weighted sums inside codegen), zero
    shuffle, composing with any retrieval path as the cheap first tier.
    """
    signs = rp_signs(d_in, d_out)
    v = as_double_array(F.col(vec_col))

    from .text import bind_col

    # each sign row as ONE ArrayType literal + a zip_with/aggregate fold:
    # bit-identical to summing ±v[i] left-to-right (0.0+a==a, x*±1.0 is an
    # exact sign flip), but the expression tree is ~6 nodes per output dim
    # instead of 64 — the unrolled form's one-time codegen alone cost ~10s
    def project(vv: Column) -> Column:
        dims = []
        for j in range(d_out):
            row = F.lit([float(x) for x in signs[j]])
            prods = F.zip_with(vv, row, lambda x, sg: x * sg)
            dims.append(F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x))
        return F.array(*dims)

    return embeddings.withColumn(vec_col, bind_col(v, project))
