"""Lloyd's k-means over an embedding column — the iterative-algorithm shape
on DataFrames.

The IVF / PQ codebooks in :mod:`similarity` use one-shot sampled centroids;
this module supplies the proper refinement loop (the MLlib / faiss training
shape) while keeping every arithmetic step portable so a DuckDB oracle can
replay the iterations bit-for-bit:

- **Broadcast centroids, never shuffle the corpus.** Each iteration embeds
  the k x dim centroid table as plan literals (the codebook idiom of
  ``similarity._cell_rank_structs``), assigns every vector in one scan with
  a runtime ``transform`` loop, and reduces per-(cluster, dimension) means
  with map-side partial aggregation.  Driver traffic per iteration is the
  k x dim mean table — constant in corpus size, which is what makes the
  loop viable at 100 TB (MLlib's KMeans does exactly this dance).
- **Deterministic everywhere.** Init = the k lowest-id vectors; distance =
  left-to-right sequential fold (matches DuckDB ``list_sum``), rounded to 6
  digits BEFORE the argmin so both engines break ties identically (then by
  lowest cluster index); new centroids rounded to 6 digits so iteration
  i+1 starts from bit-identical doubles in both engines.
- **Empty clusters keep their previous centroid** (the standard Lloyd
  fallback), mirrored in the oracle with a left join + coalesce.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import as_double_array


def _sqdist_expr(vec: Column, cv: Column) -> Column:
    """Sequential-fold squared euclidean distance (list_sum order)."""
    return F.aggregate(
        F.zip_with(vec, cv, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One assignment pass: nearest centroid per vector, ties to the lowest
    cluster index.  Centroids ride as ONE literal array-of-structs looped
    with ``transform`` (not an unrolled per-centroid expression — unrolled,
    k x dim literals blow the generated method past the JIT's compilable
    size; as runtime data the code is tiny and k-independent)."""
    cb = F.array(
        *[
            F.struct(
                F.lit(cidx).alias("cidx"),
                F.array(*[F.lit(v) for v in cv]).alias("cv"),
            )
            for cidx, cv in centroids
        ]
    )
    best = F.array_min(
        F.transform(
            cb,
            lambda c: F.struct(
                F.round(_sqdist_expr(F.col("v"), c.getField("cv")), 6).alias("d"),
                c.getField("cidx").alias("cidx"),
            ),
        )
    )
    return embeddings.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
    ).select(
        id_col,
        "v",
        best.getField("cidx").alias("cluster"),
        best.getField("d").alias("dist"),
    )


def assign_clusters_arrow(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bit-exact Arrow twin of :func:`assign_clusters` (see
    :mod:`.vectorized` for the exactness argument): the same dim-sequential
    squared distances, the same HALF_UP 6-digit rounding, the same
    lowest-index tie — vectorized over rows in one ``mapInPandas`` pass
    instead of an interpreted HOF loop per row x centroid.  Measured at the
    sf10 stretch point: the k=800 fit's assignment passes drop from ~340s
    (interpreted transform over 800 plan-literal centroids) to seconds.
    Precondition: no null/ragged vectors (the corpus contract)."""
    from pyspark.sql import types as T

    ordered = sorted(centroids)
    import numpy as np

    C = np.asarray([cv for _, cv in ordered], dtype=np.float64)
    cidxs = [cidx for cidx, _ in ordered]
    src = embeddings.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
    )
    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("v", T.ArrayType(T.DoubleType())),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("dist", T.DoubleType()),
        ]
    )

    def assign(batches):
        import numpy as np

        from biggraphite_spark.operators.vectorized import (
            round_half_up,
            seq_sqdist,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            best_d = np.full(len(pdf), np.inf)
            best_c = np.zeros(len(pdf), dtype=np.int32)
            for pos in range(C.shape[0]):
                d6 = round_half_up(seq_sqdist(V, C[pos]), 6)
                better = d6 < best_d  # strict: ties keep the lower cidx
                best_d = np.where(better, d6, best_d)
                best_c = np.where(better, np.int32(cidxs[pos]), best_c)
            out = pdf[[id_col, "v"]].copy()
            out["cluster"] = best_c
            out["dist"] = best_d
            yield out

    return src.mapInPandas(assign, out_schema)


def kmeans(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means: ``iters`` refinement rounds from the k lowest-id
    vectors, returning the final assignment (id, cluster, dist).

    Per iteration: one corpus scan (assignment with literal centroids) +
    one (cluster, dimension)-keyed aggregation whose result — k x dim
    rounded means — is collected to the driver and becomes the next
    iteration's literals.  Nothing corpus-sized ever shuffles or collects.

    Assignments run through :func:`assign_clusters_arrow`, the bit-exact
    vectorized twin of :func:`assign_clusters` (pinned by
    ``test_clustering.py`` and the shared DuckDB oracle).
    """
    centroids = _fit_centroids(
        embeddings, k, iters, id_col, vec_col, assign_clusters_arrow
    )
    return assign_clusters_arrow(embeddings, centroids, id_col, vec_col).drop("v")


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the corpus, then inside each
    cluster drop every vector whose cosine to a LOWER-id cluster-mate
    reaches ``threshold`` — the lowest id in each semantic group survives.

    Output: (id, cluster, keep).

    Scale shape: the only quadratic stage is the within-cluster pair join,
    and the clusters bound it — that is the entire point of SemDeDup's
    design (pairs never cross cells, so fan-out is sum of cell^2 sizes,
    tuned by k).  Cosines are rounded to 5 digits before the threshold
    compare so the keep decision is engine-portable.

    ``blocks`` block-salts the pair join: with a bare ``cluster`` key the
    shuffle has only k distinct keys, so at small k the quadratic stage
    runs on ≤k cores no matter how wide the cluster is (measured at the
    sf10 stretch point: loadavg pinned at ~7 with k=8 on 32 cores) — and
    AQE's skew splitter can't help because the blowup is in join OUTPUT
    cardinality, which it never sees.  Salting keys the join on
    (cluster, id-hash block): the probe side keeps one block per row, the
    build side replicates each row to all ``blocks`` sub-blocks, so every
    qualifying pair still meets exactly once while the pair work spreads
    over k x blocks partitions.  Cost: one extra ``blocks``-way fan-out of
    the build side's rows — linear, corpus-sized — for full-cluster
    parallelism of the quadratic stage.  Default: enough blocks to fill
    ``defaultParallelism`` when k alone would not.

    Both hot loops run through the bit-exact vectorized twins
    (:mod:`.vectorized`): assignment via :func:`assign_clusters_arrow`,
    and the within-cell pair stage as ``applyInPandas`` tasks keyed on
    the (cluster, block) salt — see :func:`_semantic_dedup_arrow`.  The
    keep-set is identical to the pure join+Column reference
    :func:`_semantic_dedup_join` (pinned by test and the shared DuckDB
    oracle); the Arrow pair stage measured ~50x less per-pair cost than
    the interpreted HOF filter.
    """
    return _semantic_dedup_arrow(
        embeddings, k, iters, threshold, id_col, vec_col, blocks
    )


def _semantic_dedup_join(
    embeddings: DataFrame,
    k: int,
    iters: int,
    threshold: float,
    id_col: str,
    vec_col: str,
    blocks: int | None = None,
) -> DataFrame:
    """Pure join+Column reference for :func:`semantic_dedup` (tests only):
    Column-expression assignment, then the block-salted within-cluster
    self-join with the rounded cosine as a filter — the brute-force
    semantics the Arrow pair stage is pinned to."""
    from .similarity import dot_expr, norm_expr

    # norms precomputed per ROW before the self-join (the _paired_cosine
    # pattern): cosine_expr per PAIR would fold both 64-dim norms for each
    # of the ~sum(cell^2) candidate pairs — 3x the arithmetic — and inline
    # a generated method big enough to hit the JIT's huge-method ceiling,
    # which ran the pair filter interpreted on some runs (4s -> 43s swings).
    # The assignment subtree feeds both join sides and the final keep join;
    # cached, it runs once.
    assigned = (
        assign_clusters(embeddings, _fit_centroids(
            embeddings, k, iters, id_col, vec_col), id_col, vec_col)
        .withColumn("nrm", norm_expr(F.col("v")))
        .cache()
    )
    if blocks is None:
        par = embeddings.sparkSession.sparkContext.defaultParallelism
        blocks = max(1, (2 * par + k - 1) // k)
    a = assigned.withColumn(
        "blk", F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(blocks))
    ).alias("a")
    b = assigned.withColumn(
        "blk", F.explode(F.array(*[F.lit(i) for i in range(blocks)]))
    ).alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}")),
        )
        .filter(
            F.round(
                dot_expr(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                5,
            )
            >= threshold
        )
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
        )
    )


def _semantic_dedup_arrow(
    embeddings: DataFrame,
    k: int,
    iters: int,
    threshold: float,
    id_col: str,
    vec_col: str,
    blocks: int | None = None,
) -> DataFrame:
    """Arrow form of :func:`semantic_dedup`'s pair stage, BLOCK-SALTED like
    the :func:`_semantic_dedup_join` reference: pair cosines evaluated in
    blocked numpy with the fold-order dot products and HALF_UP rounding of
    :mod:`.vectorized` — bit-identical keep decisions to the join+filter
    form at ~50x less per-pair cost.

    A bare ``groupBy("cluster")`` gives one ``applyInPandas`` task per
    cell, so at small k the quadratic stage runs on ≤k cores (sf10
    stretch table: k=8 at 421.9s vs k=80 at 38.0s on 32 cores).  The salt
    algebra mirrors the reference join: the PROBE side keeps one id-hash
    block per row, the BUILD side replicates every row to all ``blocks``
    sub-blocks, and the grouping key becomes (cluster, blk) — k x blocks
    tasks.  Each probe row still meets every lower-id cluster-mate
    (exactly once per probe), and "dropped = any(cos >= thr over lower
    ids)" is idempotent under replication, so no distinct pass is needed.
    Per-pair cosines are computed by the same fold-order kernels whichever
    block a pair lands in, so the keep set is bit-identical to the
    unsalted and reference forms (pinned by tests).  ``blocks=1`` skips
    the union entirely (the k >= cores regime — zero salting overhead).

    Before the pair stage, EXACT-DUPLICATE vectors are collapsed to their
    min-id representative per (cluster, vector) group.  This is a pure
    optimization, not an approximation: an identical lower-id twin always
    yields ``round(dot(v,v)/(|v|·|v|), 5) = 1.0 >= threshold`` (the FP
    quotient is within a few ulp of 1, eight orders below the rounding
    lattice), so every non-representative is dropped by the brute-force
    semantics too; and any member of group H below rep(G) implies
    ``min(H) < rep(G)`` with the identical cosine, so comparing
    representatives decides exactly the brute-force predicate.  The pair
    work falls from Σ cell² to Σ distinct-cell² — the difference between
    feasible and not on clone-heavy corpora (boilerplate cliques; the sf10
    generator's 100x replication), where the bandwidth-bound pair kernel
    cannot be salted out of the quadratic total.  Applied only when
    ``threshold <= 1.0`` (above 1.0 identical twins would NOT drop, and
    the collapse would be wrong — degenerate but gated)."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    assigned = assign_clusters_arrow(
        embeddings,
        _fit_centroids(
            embeddings, k, iters, id_col, vec_col, assign_clusters_arrow
        ),
        id_col,
        vec_col,
    ).select(id_col, "v", "cluster")
    out_schema = T.StructType(
        [
            assigned.schema[id_col],
            T.StructField("cluster", T.IntegerType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )
    thr = float(threshold)
    collapse = thr <= 1.0
    if collapse:
        w = Window.partitionBy("cluster", "v")
        # cached: the rep relation feeds the pair stage AND the expand
        # join — uncached, the assignment corpus pass would run twice
        withrep = assigned.withColumn(
            "rep_id", F.min(id_col).over(w)
        ).cache()
        pair_input = (
            withrep.filter(F.col(id_col) == F.col("rep_id"))
            .select(id_col, "v", "cluster")
        )
    else:
        pair_input = assigned
    if blocks is None:
        par = embeddings.sparkSession.sparkContext.defaultParallelism
        blocks = max(1, (2 * par + k - 1) // k)

    if blocks == 1:

        def cell(pdf):
            import numpy as np
            import pandas as pd

            from biggraphite_spark.operators.vectorized import (
                round_half_up,
                seq_dot_block,
                seq_norm,
            )

            pdf = pdf.sort_values(
                id_col, kind="mergesort"
            ).reset_index(drop=True)
            n = len(pdf)
            V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            dropped = np.zeros(n, dtype=bool)
            if n > 1:
                nrm = seq_norm(V)
                # block rows so the pair matrices stay ~64 MB however wide
                # the cell is; ids are unique, so ascending-id position
                # order makes "strictly lower id" a triangular mask
                blk = max(1, 8_000_000 // n)
                for i0 in range(1, n, blk):
                    i1 = min(i0 + blk, n)
                    dots = seq_dot_block(V[i0:i1], V[:i1])
                    denom = np.multiply(
                        nrm[i0:i1][:, None], nrm[:i1][None, :]
                    )
                    cos = round_half_up(dots / denom, 5)
                    tri = (
                        np.arange(i1)[None, :]
                        < np.arange(i0, i1)[:, None]
                    )
                    dropped[i0:i1] = ((cos >= thr) & tri).any(axis=1)
            return pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": pdf["cluster"],
                    "keep": ~dropped,
                }
            )

        rep_out = pair_input.groupBy("cluster").applyInPandas(
            cell, out_schema
        )
        return _expand_reps(withrep, rep_out, id_col) if collapse else rep_out

    # salted: the pair-input subtree feeds both union branches — cached so
    # the corpus scan + assignment runs once (the reference does the same)
    pair_input = pair_input.cache()
    probe = pair_input.withColumn(
        "blk", F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(blocks))
    ).withColumn("is_probe", F.lit(True))
    build = pair_input.withColumn(
        "blk", F.explode(F.array(*[F.lit(i) for i in range(blocks)]))
    ).withColumn("is_probe", F.lit(False))

    def salted_cell(pdf):
        import numpy as np
        import pandas as pd

        from biggraphite_spark.operators.vectorized import (
            round_half_up,
            seq_dot_block,
            seq_norm,
        )

        p = pdf[pdf["is_probe"]].sort_values(
            id_col, kind="mergesort"
        ).reset_index(drop=True)
        b = pdf[~pdf["is_probe"]]
        n = len(p)
        dropped = np.zeros(n, dtype=bool)
        if n and len(b):
            P = np.asarray(p["v"].tolist(), dtype=np.float64)
            B = np.asarray(b["v"].tolist(), dtype=np.float64)
            ids_p = p[id_col].to_numpy()
            ids_b = b[id_col].to_numpy()
            nrm_p = seq_norm(P)
            nrm_b = seq_norm(B)
            blk = max(1, 8_000_000 // max(1, len(b)))
            for i0 in range(0, n, blk):
                i1 = min(i0 + blk, n)
                dots = seq_dot_block(P[i0:i1], B)
                denom = np.multiply(
                    nrm_p[i0:i1][:, None], nrm_b[None, :]
                )
                cos = round_half_up(dots / denom, 5)
                lower = ids_b[None, :] < ids_p[i0:i1][:, None]
                dropped[i0:i1] = ((cos >= thr) & lower).any(axis=1)
        return pd.DataFrame(
            {
                id_col: p[id_col],
                "cluster": p["cluster"],
                "keep": ~dropped,
            }
        )

    rep_out = (
        probe.unionByName(build)
        .groupBy("cluster", "blk")
        .applyInPandas(salted_cell, out_schema)
    )
    return _expand_reps(withrep, rep_out, id_col) if collapse else rep_out


def _expand_reps(withrep: DataFrame, rep_out: DataFrame, id_col: str) -> DataFrame:
    """Fan the representative keep decisions back out to all members of
    each identical-vector group: non-representatives are dropped (their
    lower-id identical twin forces cos 1.0 >= threshold under the
    brute-force semantics), the representative inherits its pair-stage
    verdict."""
    verdicts = rep_out.select(
        F.col(id_col).alias("rep_id"), F.col("keep").alias("rep_keep")
    )
    return withrep.join(verdicts, "rep_id").select(
        id_col,
        "cluster",
        ((F.col(id_col) == F.col("rep_id")) & F.col("rep_keep")).alias("keep"),
    )


def _fit_centroids(
    embeddings: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign=assign_clusters,
) -> list[tuple[int, list[float]]]:
    """The centroid-refinement loop of :func:`kmeans`, returned as the
    literal table (shared by kmeans and semantic_dedup).  ``assign`` picks
    the assignment implementation (expression form or its bit-exact Arrow
    twin); the mean aggregation is shared and identical either way."""
    init_rows = (
        embeddings.select(id_col, as_double_array(F.col(vec_col)).alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    centroids = [(i, list(r["v"])) for i, r in enumerate(init_rows)]
    for _ in range(iters):
        assigned = assign(embeddings, centroids, id_col, vec_col)
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("val"), 6).alias("mv"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                    lambda s: s.getField("mv"),
                ).alias("cv")
            )
            .collect()
        )
        new = {r["cluster"]: list(r["cv"]) for r in means}
        centroids = [(cidx, new.get(cidx, cv)) for cidx, cv in centroids]
    return centroids
