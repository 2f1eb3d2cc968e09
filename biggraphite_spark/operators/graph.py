"""Iterative graph algorithms over pair graphs the dedup pipeline builds.

PageRank here serves the curation use the near-dup graph motivates:
scoring documents by duplication centrality, so cluster representatives
can be chosen by importance instead of by arbitrary min-id (the CCNet /
web-corpus practice of weighting pages by link centrality, applied to
the similarity graph).  Reference scope note: biggraphite has no graph
operators — this is part of the beyond-reference training-data-pipeline
family, like the dedup and ANN modules it composes with
(``operators/dedup.py``).

Execution shape (the one that holds at 100 TB): the edge list is tiny
relative to the corpus (near-dup pairs ≪ docs by design, same argument
as ``DRIVER_CC_MAX_EDGES``), each iteration is one join + one hash
aggregation keyed on the node id, and lineage is truncated with
``localCheckpoint`` every few rounds exactly like the star-CC loop —
without it the plan, not the data, becomes the bottleneck.
"""

from __future__ import annotations

from typing import Literal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _twin_quotient(
    edges: DataFrame, collapse: bool | str, collapse_ratio: float
):
    """TWIN-CLASS QUOTIENT of a simple undirected graph given as SYMMETRIC
    unweighted ``edges(a, b)`` (both directions present, no self-loops):
    partition the nodes into *twin classes* and return ``(membership,
    class_pairs)``, or ``None`` when the distinct-neighborhood probe says
    the graph has too few twins to pay for the build.

    A **closed twin class** is a set of nodes with identical closed
    neighborhoods N[u] (u itself included) — such nodes are provably
    mutually adjacent (u ∈ N[u] = N[v] ⇒ u ~ v), i.e. a clique sharing
    one external neighborhood.  An **open twin class** is a set of
    non-adjacent nodes with identical open neighborhoods N(u).  Two facts
    make the quotient lossless for degree-local algorithms (PageRank,
    triangles/clustering coefficient, k-core, connected components):

    1. **Symmetry.** Swapping two twins is a graph automorphism, so any
       node function determined by the graph (rank, triangle count,
       surviving-degree trajectory, component) takes ONE value per class.
    2. **All-or-nothing class adjacency.** If any member of class c is
       adjacent to any member of class c', then every member of c is
       adjacent to every member of c' (both classes share their external
       neighborhoods), so the class graph + per-class multiplicity ``m``
       + the ``closed`` flag reconstruct the original graph exactly.

    This is the graph-side sibling of the dedup family's distinct-text
    collapse: the near-dup pair graph of a clone-replicated corpus is the
    *blow-up* of its distinct-text quotient (each text group a closed twin
    class), and the degree-capped variant's core/spoke structure falls out
    as closed-twin cores + open-twin spokes — both collapse without any
    corpus-specific assumption.  Twin (modular) reduction is a standard
    kernelization move in the graph-algorithms literature.

    Classes are keyed by ``md5(to_json(sorted neighbor array))`` — an
    INJECTIVE encoding of the id array, then a 128-bit hash — exactly the
    scalar key ``_collapsed_sets`` uses for shingle sets.  Partitioning
    the windows by the raw arrays (the r10 state) shuffles AND
    sort-compares multi-KB neighbor arrays as the key: the measured-17x
    defect class of dedup's interim array-keyed collapse (e526b4d), hit
    here on every hub-heavy graph.  The arrays stay as payload only; the
    probe hashes only feed ``approx_count_distinct``.

    Cost: one edge-keyed aggregation (adjacency arrays), two windows over
    the node relation, and one edges↦classes double join for the class
    pairs — all linear in |E|; nothing iterates.
    """
    from pyspark.sql import Window

    edges = edges.select("a", "b").filter(F.col("a") != F.col("b"))
    adj = (
        edges.groupBy("a")
        .agg(F.sort_array(F.collect_set("b")).alias("nbrs"))
        .withColumn("cnbrs", F.array_sort(F.array_union("nbrs", F.array("a"))))
        .localCheckpoint(eager=False)
    )
    if collapse == "auto":
        # one-pass heuristic: closed-key cardinality catches clique-style
        # (blow-up) twins, open-key cardinality catches spoke-style twins;
        # either signal below the ratio justifies the class build
        p = adj.agg(
            F.count("*").alias("n"),
            F.approx_count_distinct(F.xxhash64("nbrs")).alias("d_open"),
            F.approx_count_distinct(F.xxhash64("cnbrs")).alias("d_closed"),
        ).collect()[0]
        if p.n == 0 or min(p.d_open, p.d_closed) / p.n >= collapse_ratio:
            return None

    wc = Window.partitionBy(F.md5(F.to_json("cnbrs")))
    keyed = adj.withColumn("cls", F.min("a").over(wc)).withColumn(
        "cm", F.count("*").over(wc)
    )
    closed_part = keyed.filter(F.col("cm") >= 2).select(
        F.col("a").alias("node"),
        "cls",
        F.col("cm").alias("m"),
        F.lit(True).alias("closed"),
    )
    wo = Window.partitionBy(F.md5(F.to_json("nbrs")))
    open_part = (
        keyed.filter(F.col("cm") == 1)
        .withColumn("ocls", F.min("a").over(wo))
        .withColumn("om", F.count("*").over(wo))
        .select(
            F.col("a").alias("node"),
            F.col("ocls").alias("cls"),
            F.col("om").alias("m"),
            F.lit(False).alias("closed"),
        )
    )
    membership = closed_part.unionByName(open_part).localCheckpoint(eager=False)
    ma = membership.select(F.col("node").alias("a"), F.col("cls").alias("ca"))
    mb = membership.select(F.col("node").alias("b"), F.col("cls").alias("cb"))
    class_pairs = (
        edges.join(ma, "a")
        .join(mb, "b")
        .filter(F.col("ca") != F.col("cb"))
        .select(
            F.least("ca", "cb").alias("a"), F.greatest("ca", "cb").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    return membership, class_pairs


def _twin_classes(membership: DataFrame) -> DataFrame:
    """(cls, m, closed) — one row per twin class."""
    return membership.select("cls", "m", "closed").distinct()


def _cc_from_twin_quotient(
    docs: DataFrame,
    pair_ids: DataFrame | None,
    cc_method: Literal["auto", "driver", "star"],
    driver_max_edges: int,
    max_iters: int,
    collapse: bool | str,
    collapse_ratio: float,
    quotient=None,
) -> DataFrame | None:
    """Connected-component labels over the twin quotient, for
    ``dedup.dup_clusters``: twins share their component, class ids are min
    member ids, so the quotient components carry the exact min-doc_id
    labels (component min = min over its classes of the class min).
    Returns ``(doc_id, label)`` for every doc, or ``None`` when the twin
    probe declines.  ``cc_method="auto"`` tries the driver union-find on
    the (usually tiny) class-pair list first; ``"star"`` keeps the
    distributed large-star/small-star path, just on the class graph."""
    if quotient is not None:
        membership, cp = quotient
    else:
        sym = pair_ids.select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        )
        sym = sym.unionByName(
            sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        q = _twin_quotient(sym, collapse, collapse_ratio)
        if q is None:
            return None
        membership, cp = q
    from .dedup import _cc_star_labels, _union_find

    cls_lab = None
    broadcast_lab = False
    if cc_method == "auto":
        head: list[tuple[int, int]] = []
        overflow = False
        for r in cp.toLocalIterator():
            head.append((r["a"], r["b"]))
            if len(head) > driver_max_edges:
                overflow = True
                break
        if not overflow:
            mapping = _union_find(iter(head))
            spark = docs.sparkSession
            cls_lab = spark.createDataFrame(
                list(mapping.items()), "cls long, clabel long"
            )
            broadcast_lab = True
    if cls_lab is None:
        star = _cc_star_labels(
            cp.select(
                F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
            ),
            max_iters=max_iters,
        )
        cls_lab = star.select(
            F.col("doc_id").alias("cls"), F.col("label").alias("clabel")
        )
    per_node = membership.join(
        F.broadcast(cls_lab) if broadcast_lab else cls_lab, "cls", "left"
    ).select(
        F.col("node").alias("doc_id"),
        # isolated classes (pure clone groups with no cross edges) have no
        # class-pair rows: their component IS the class, label = class min
        F.coalesce("clabel", "cls").alias("label"),
    )
    return docs.join(per_node, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("label")
    )


def _twin_pagerank(
    membership: DataFrame,
    class_pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
    iterations: int,
    damping: float,
    checkpoint_every: int,
) -> DataFrame:
    """Unweighted, seedless PageRank on the twin quotient.

    Every member of class ``c`` carries the same rank ρ_c (twin symmetry),
    and the expanded-graph recurrence restricted to one member is

        ρ'_c = (1-d)/N + d·[ (m_c-1)·ρ_c/D_c  +  Σ_{c'~c} m_{c'}·ρ_{c'}/D_{c'} ]

    with D_c the (uniform) expanded degree of c's members — so the
    iteration runs over the CLASS graph with a per-edge share that is
    constant across rounds (m_src/D_src; the closed-class self term is
    (m_c-1)/D_c).  N stays the full node count, including isolated docs,
    whose rank is the teleport fixpoint (1-d)/N after ≥1 iterations —
    exactly what the expanded loop gives them.  The multiply-by-m vs
    sum-of-m-identical-terms difference is ulp-level FP association noise,
    the same class the rounded output lattice + paired tie-breaker already
    absorb for the expanded plan's own shuffle-order nondeterminism.
    """
    n = nodes.count()
    classes = _twin_classes(membership)
    sym = class_pairs.unionByName(
        class_pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    s_in = (
        sym.join(
            classes.select(F.col("cls").alias("b"), F.col("m").alias("mb")), "b"
        )
        .groupBy("a")
        .agg(F.sum("mb").alias("s"))
    )
    dcls = classes.join(
        s_in.withColumnRenamed("a", "cls"), "cls", "left"
    ).select(
        "cls",
        "m",
        "closed",
        (
            F.when(F.col("closed"), F.col("m") - 1).otherwise(F.lit(0))
            + F.coalesce(F.col("s"), F.lit(0))
        ).cast("double").alias("deg"),
    )
    shares_cross = sym.join(
        dcls.select(
            F.col("cls").alias("a"),
            F.col("m").alias("ma"),
            F.col("deg").alias("da"),
        ),
        "a",
    ).select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        (F.col("ma") / F.col("da")).alias("share"),
    )
    shares_self = dcls.filter(F.col("closed") & (F.col("m") >= 2)).select(
        F.col("cls").alias("src"),
        F.col("cls").alias("dst"),
        ((F.col("m") - 1) / F.col("deg")).alias("share"),
    )
    shares = shares_cross.unionByName(shares_self).localCheckpoint(eager=False)

    base = classes.select(F.col("cls").alias("id"))
    ranks = base.select("id", F.lit(1.0 / n).alias("rank"))
    for i in range(iterations):
        contribs = (
            shares.join(ranks, shares.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") * F.col("share")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = base.join(contribs, "id", "left").select(
            "id",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint()
    per_node = membership.join(
        ranks.withColumnRenamed("id", "cls"), "cls"
    ).select(F.col("node").alias("id"), "rank")
    isolated = (1.0 - damping) / n if iterations >= 1 else 1.0 / n
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(per_node, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("rank"), F.lit(isolated)).alias("rank"),
        )
    )


def twin_pagerank_seeded(
    membership: DataFrame,
    class_pairs_w: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
    id_col: str = "doc_id",
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 4,
) -> DataFrame:
    """PERSONALIZED, weight-aware PageRank on the dedup text-group
    quotient — the seeded/weighted sibling of :func:`_twin_pagerank` for
    ``doc_quality_propagation``-shaped consumers (teleport mass flows only
    to a trusted seed set; edges weigh their verified Jaccard).

    The text-group classes refine by the SEED FLAG: swapping two same-text
    members with equal flags is an automorphism of the weighted graph that
    also preserves the teleport vector, so rank is uniform per refined
    class (g, s).  Two facts keep the quotient iteration constant-share:

    - a member's OUT-WEIGHT depends only on its text group g (classmates
      weigh 1.0 each, adjacent groups g' weigh jac(g,g') per member):
      ``W_g = (m_g - 1) + Σ_{g'~g} m_{g'}·jac(g,g')``
    - the contribution into one member of (g', s') from the whole of
      (g, s) is ``rm_{g,s}·rank_{g,s}·jac(g,g')/W_g`` (cross-group), and
      from classmates ``(rm_{g,s} - [same class])·rank_{g,s}·1/W_g``.

    ``membership`` is :func:`dedup.lsh_near_dups_quotient`'s ``(node, cls,
    m, closed)``; ``class_pairs_w`` its ``with_weights=True`` form ``(a, b,
    jaccard)``.  Docs absent from the membership (null texts) are isolated:
    seeds hold their teleport ``(1-d)/n_seeds``, non-seeds 0.  The
    multiply-by-count vs sum-of-identical-terms difference is the same
    ulp-level FP association class the unweighted twin path documents."""
    from pyspark.sql import Window

    seed_flag = (
        seeds.select(F.col(id_col).alias("node"))
        .distinct()
        .withColumn("_seed", F.lit(True))
    )
    n_seeds = seed_flag.count()
    if n_seeds == 0:
        raise ValueError("personalized pagerank needs a non-empty seed set")
    mem = (
        membership.select("node", "cls", "m")
        .join(F.broadcast(seed_flag), "node", "left")
        .select(
            "node", "cls", "m",
            F.coalesce(F.col("_seed"), F.lit(False)).alias("seed"),
        )
    )
    wr = Window.partitionBy("cls", "seed")
    mem = (
        mem.withColumn("rcls", F.min("node").over(wr))
        .withColumn("rm", F.count("*").over(wr))
        .localCheckpoint(eager=False)
    )
    # one row per refined class, carrying its text group and sizes
    rclasses = mem.select("rcls", "cls", "seed", "rm", "m").distinct()
    sym = class_pairs_w.select("a", "b", "jaccard").unionByName(
        class_pairs_w.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "jaccard"
        )
    )
    gm = rclasses.groupBy("cls").agg(F.first("m").alias("m"))
    cross_w = (
        sym.join(gm.select(F.col("cls").alias("b"), F.col("m").alias("mb")), "b")
        .groupBy("a")
        .agg(F.sum(F.col("mb") * F.col("jaccard")).alias("sw"))
    )
    wout = gm.join(cross_w.withColumnRenamed("a", "cls"), "cls", "left").select(
        "cls",
        (
            (F.col("m") - 1).cast("double")
            + F.coalesce(F.col("sw"), F.lit(0.0))
        ).alias("wg"),
    )
    # wg = 0 only for an edge-free singleton group (m = 1, no adjacent
    # classes): it contributes nothing, and keeping it would put a NaN
    # (0/0.0) share row into the intra relation
    src = rclasses.join(wout, "cls").filter(F.col("wg") > 0).select(
        F.col("rcls").alias("src"),
        F.col("cls").alias("ga"),
        F.col("rm").alias("rm_src"),
        F.col("wg"),
    )
    dst = rclasses.select(
        F.col("rcls").alias("dst"), F.col("cls").alias("gb")
    )
    shares_cross = (
        sym.join(src, sym.a == src.ga)
        .join(dst, sym.b == dst.gb)
        .select(
            "src",
            "dst",
            (F.col("rm_src") * F.col("jaccard") / F.col("wg")).alias("share"),
        )
    )
    shares_intra = (
        src.join(dst, src.ga == dst.gb)
        .select(
            "src",
            "dst",
            (
                (F.col("rm_src")
                 - F.when(F.col("src") == F.col("dst"), 1).otherwise(0))
                / F.col("wg")
            ).alias("share"),
        )
        .filter(F.col("share") != 0.0)
    )
    shares = shares_cross.unionByName(shares_intra).localCheckpoint(eager=False)

    tele = F.when(F.col("seed"), (1.0 - damping) / n_seeds).otherwise(0.0)
    init = F.when(F.col("seed"), 1.0 / n_seeds).otherwise(0.0)
    base = rclasses.select(F.col("rcls").alias("id"), "seed").localCheckpoint(
        eager=False
    )
    ranks = base.select("id", init.alias("rank"))
    for i in range(iterations):
        contribs = (
            shares.join(ranks, shares.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") * F.col("share")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = base.join(contribs, "id", "left").select(
            "id",
            "seed",
            (
                tele + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint()
    per_node = mem.join(
        ranks.select(F.col("id").alias("rcls"), "rank"), "rcls"
    ).select(F.col("node").alias("id"), "rank")
    iso_seed = (1.0 - damping) / n_seeds if iterations >= 1 else 1.0 / n_seeds
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(per_node, "id", "left")
        .join(F.broadcast(seed_flag.withColumnRenamed("node", "id")), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(
                F.col("rank"),
                F.when(F.col("_seed"), F.lit(iso_seed)).otherwise(F.lit(0.0)),
            ).alias("rank"),
        )
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 4,
    weight_col: str | None = None,
    seeds: DataFrame | None = None,
    collapse: bool | str = False,
    collapse_ratio: float = 0.8,
    quotient=None,
) -> DataFrame:
    """Fixed-iteration PageRank: ``rank' = teleport(v) + d * Σ rank(u) *
    w(u,v)/wout(u)`` over directed ``edges(a, b[, weight])``; every node
    in ``nodes`` gets a row (nodes without in-edges hold their teleport
    term).  Deterministic — a fixed iteration count, no convergence
    test — so the result is oracle-replayable; dangling mass is not
    redistributed (the simple variant, documented contract).

    ``weight_col`` turns the uniform split into a weighted one
    (w/Σw per source).  ``seeds`` switches to PERSONALIZED PageRank:
    teleport mass (1-d) flows only to the seed set (uniformly), so rank
    becomes proximity to the seeds through the graph — the
    quality-propagation primitive (score documents by closeness to a
    trusted sub-corpus).  Initial mass likewise starts on the seeds.

    ``N``/seed ids are read once driver-side (a convergence-scalar class
    collect, same as the k-means loop; seed sets are source-sized).
    Edges are cached: every iteration probes the same (a, b, share)
    relation.

    ``collapse`` (off by default; pass ``"auto"`` / ``True`` for symmetric
    unweighted seedless graphs): run the iteration on the TWIN-CLASS
    QUOTIENT (:func:`_twin_quotient`) — lossless up to ulp-level FP
    association, an order-of-magnitude fewer edge rows per round on
    clone-replicated near-dup graphs.  Weighted or personalized calls fall
    back to the expanded loop (twin keys would need per-neighbor weight
    and seed-flag refinement; the only weighted consumer is far off the
    cost ceiling).
    """
    if weight_col is None and seeds is None:
        # a PRECOMPUTED quotient (``dedup.lsh_near_dups_quotient`` — the
        # twin classes read straight off the distinct-text collapse) takes
        # precedence over in-graph detection; ``edges`` may be None then
        q = quotient
        if q is None and collapse:
            q = _twin_quotient(edges, collapse, collapse_ratio)
        if q is not None:
            return _twin_pagerank(
                q[0], q[1], nodes, id_col, iterations, damping,
                checkpoint_every,
            )
    ids = nodes.select(F.col(id_col).alias("id"))
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    weighted = edges.select("a", "b", w.alias("w"))
    wout = weighted.groupBy("a").agg(F.sum("w").alias("wout"))
    ed = (
        weighted.join(wout, "a")
        .select("a", "b", (F.col("w") / F.col("wout")).alias("share"))
        .cache()
    )
    if seeds is None:
        n = nodes.count()
        tele_col = F.lit((1.0 - damping) / n)
        init_col = F.lit(1.0 / n)
        base = ids
    else:
        # seed membership rides a broadcast-joined flag column, not an
        # isin literal — a million-seed personalization would otherwise
        # serialize the whole seed set into every plan (and the literal
        # itself into the query string).  One broadcast hash join, then
        # the flag is a plain column the teleport/init expressions read.
        seed_flag = seeds.select(
            F.col(id_col).alias("id")
        ).distinct().withColumn("_seed", F.lit(True))
        n_seeds = seed_flag.count()
        if n_seeds == 0:
            raise ValueError("personalized pagerank needs a non-empty seed set")
        base = ids.join(F.broadcast(seed_flag), "id", "left").select(
            "id", F.coalesce(F.col("_seed"), F.lit(False)).alias("_seed")
        ).localCheckpoint()
        is_seed = F.col("_seed")
        tele_col = F.when(is_seed, (1.0 - damping) / n_seeds).otherwise(0.0)
        init_col = F.when(is_seed, 1.0 / n_seeds).otherwise(0.0)
    ranks = base.select("id", init_col.alias("rank"))
    for i in range(iterations):
        contribs = (
            ed.join(ranks, ed.a == ranks.id)
            .select(F.col("b").alias("id"),
                    (F.col("rank") * F.col("share")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = base.join(contribs, "id", "left").select(
            "id",
            (
                tele_col
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint()
    return ranks.select(F.col("id").alias(id_col), "rank")


def _finish_triangles(
    per_node: DataFrame, nodes: DataFrame, id_col: str
) -> DataFrame:
    """Shared output tail: every node gets a row, degree/triangles default
    0, clustering coefficient = triangles / C(degree, 2) on the rounded
    lattice.  Both the expanded and the twin paths feed the SAME integer
    (degree, triangles) pairs in, so the double division is bit-identical
    across them."""
    ids = nodes.select(F.col(id_col).alias("id"))
    out = (
        ids.join(per_node, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        )
    )
    wedges = (F.col("degree") * (F.col("degree") - 1) / 2.0)
    coeff = F.when(
        F.col("degree") >= 2, F.col("triangles") / wedges
    ).otherwise(F.lit(0.0))
    return out.withColumn("clustering_coeff", F.round(coeff + 1.23e-9, 6))


def _twin_triangle_stats(
    membership: DataFrame,
    class_pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
) -> DataFrame:
    """Triangle count + degree per node via the twin quotient, in CLOSED
    FORM.  For a node u in class c (multiplicity m, adjacent classes c'
    with multiplicities m'), partition u's triangles by where the other
    two corners live:

    - both in c (closed only):                    C(m-1, 2)
    - one in c, one in an adjacent c' (closed):   (m-1) · Σ m'
    - both in ONE adjacent c' (c' closed):        Σ_{c' closed} C(m', 2)
    - in two distinct adjacent classes c', c''
      that are themselves adjacent:               Σ_{Δ(c,c',c'')} m'·m''

    The last term enumerates triangles of the CLASS graph (same ordered
    x<y<z join as the expanded path, but over classes), so nothing in the
    plan is quadratic in corpus size.  degree(u) = (m-1 if closed) + Σ m'.
    C(n,2) is computed as ``shiftright(n·(n-1), 1)`` — pure int64, no
    double rounding at any magnitude."""
    classes = _twin_classes(membership)
    sym = class_pairs.unionByName(
        class_pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    tgt = classes.select(
        F.col("cls").alias("b"),
        F.col("m").alias("mb"),
        F.col("closed").alias("closed_b"),
    )
    choose2 = lambda c: F.shiftright(c * (c - 1), 1)  # noqa: E731
    nb = (
        sym.join(tgt, "b")
        .groupBy("a")
        .agg(
            F.sum("mb").alias("s_nbr"),
            F.sum(
                F.when(F.col("closed_b"), choose2(F.col("mb"))).otherwise(
                    F.lit(0)
                )
            ).alias("c2_nbr"),
        )
        .withColumnRenamed("a", "cls")
    )
    msel = classes.select("cls", "m")
    cpm = class_pairs.join(
        msel.select(F.col("cls").alias("a"), F.col("m").alias("ma")), "a"
    ).join(msel.select(F.col("cls").alias("b"), F.col("m").alias("mb")), "b")
    e1, e2 = cpm.alias("e1"), cpm.alias("e2")
    e3 = class_pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
            F.col("e1.ma").alias("mx"),
            F.col("e1.mb").alias("my"),
            F.col("e2.mb").alias("mz"),
        )
    )
    q = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("x").alias("cls"),
                        (F.col("my") * F.col("mz")).alias("qv"),
                    ),
                    F.struct(
                        F.col("y").alias("cls"),
                        (F.col("mx") * F.col("mz")).alias("qv"),
                    ),
                    F.struct(
                        F.col("z").alias("cls"),
                        (F.col("mx") * F.col("my")).alias("qv"),
                    ),
                )
            ).alias("e")
        )
        .select("e.cls", "e.qv")
        .groupBy("cls")
        .agg(F.sum("qv").alias("q_tri"))
    )
    s_nbr = F.coalesce(F.col("s_nbr"), F.lit(0))
    c2_nbr = F.coalesce(F.col("c2_nbr"), F.lit(0))
    q_tri = F.coalesce(F.col("q_tri"), F.lit(0))
    intra_deg = F.when(F.col("closed"), F.col("m") - 1).otherwise(F.lit(0))
    intra_tri = F.when(
        F.col("closed"),
        choose2(F.col("m") - 1) + (F.col("m") - 1) * s_nbr,
    ).otherwise(F.lit(0))
    per_class = (
        classes.join(nb, "cls", "left")
        .join(q, "cls", "left")
        .select(
            "cls",
            (intra_deg + s_nbr).alias("degree"),
            (intra_tri + c2_nbr + q_tri).alias("triangles"),
        )
    )
    per_node = membership.join(per_class, "cls").select(
        F.col("node").alias("id"), "degree", "triangles"
    )
    return _finish_triangles(per_node, nodes, id_col)


def triangle_stats(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    salt: int = 1,
    collapse: bool | str = "auto",
    collapse_ratio: float = 0.8,
    quotient=None,
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected graph given as CANONICAL pairs ``(a, b)`` with ``a < b``.

    Triangles are enumerated once each via the ordered node-iterator join
    (x < y < z): pairs(x,y) ⋈ pairs(y,z) ⋈ pairs(x,z).  Clustering
    coefficient = triangles / C(degree, 2); nodes with degree < 2 get 0.
    For the near-dup graph this scores CLUSTER DENSITY — a clique of
    exact dups has coefficient 1, a chain of borderline matches 0 — the
    signal curation uses to tell "one duplicated document" from "a chain
    of weakly similar ones".

    Shape: the pair graph is ≪ the corpus by construction (same argument
    as PageRank above); three hash joins keyed on node ids, no
    cartesian.  For the LSH near-dup graph the verify step already bounds
    degree by the band-collision rate, so the default is unsalted.

    ``salt > 1`` splits the wedge join's middle-node key: the e1 side is
    bucketed by ``hash(a) % salt`` and the e2 side replicated into every
    bucket, so a hub that sits in half the pairs has its D_in x D_out
    wedge enumeration spread across ``salt`` tasks instead of landing on
    ONE shuffle partition (the classic skew-join salt; the wedge WORK is
    inherent to the graph — salting distributes it).  Results are
    identical for any salt (pinned by the skew test).

    ``collapse`` (default "auto"): compute on the twin quotient instead
    (:func:`_twin_triangle_stats`) — EXACT closed-form expansion, pure
    integer arithmetic, so the output is bit-identical to the expanded
    enumeration (pytest-pinned); a clone corpus's 100-clone cliques stop
    costing C(100,3) enumerated rows each.  ``salt`` is moot on that path
    (the class graph is skew-free by construction).
    """
    if quotient is not None:
        return _twin_triangle_stats(quotient[0], quotient[1], nodes, id_col)
    p = pairs.select(F.col("a"), F.col("b"))
    if collapse:
        sym = p.unionByName(
            p.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        q = _twin_quotient(sym, collapse, collapse_ratio)
        if q is not None:
            return _twin_triangle_stats(q[0], q[1], nodes, id_col)
    e3 = p.alias("e3")
    if salt > 1:
        e1 = p.withColumn(
            "_salt", F.pmod(F.hash("a"), F.lit(salt))
        ).alias("e1")
        e2 = p.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        ).alias("e2")
        wedge_cond = (F.col("e1.b") == F.col("e2.a")) & (
            F.col("e1._salt") == F.col("e2._salt")
        )
    else:
        e1 = p.alias("e1")
        e2 = p.alias("e2")
        wedge_cond = F.col("e1.b") == F.col("e2.a")
    tri = (
        e1.join(e2, wedge_cond)
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    deg = (
        p.select(F.col("a").alias("id"))
        .unionAll(p.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    merged = deg.join(per_node, "id", "full").select(
        "id",
        F.col("degree"),
        F.col("triangles"),
    )
    return _finish_triangles(merged, nodes, id_col)


def _peel(
    alive: DataFrame,
    k: int,
    rounds: int | None,
    checkpoint_every: int,
    max_rounds: int,
) -> DataFrame:
    """The k-core peel loop over a WEIGHTED edge relation ``alive(a, b,
    w)``: a node's surviving degree is ``Σ w`` over its live out-edges
    (w = 1 everywhere reproduces the plain peel's counts exactly — integer
    sums).  Returns the surviving per-node weighted degree ``(a,
    core_degree)``."""
    prev_n = None
    i = 0
    while True:
        if rounds is not None and i >= rounds:
            break
        if rounds is None:
            n = alive.count()
            if n == prev_n or i >= max_rounds:
                break
            prev_n = n
        keep = (
            alive.groupBy("a")
            .agg(F.sum("w").alias("d"))
            .filter(F.col("d") >= k)
            .select(F.col("a").alias("v"))
        )
        alive = alive.join(
            F.broadcast(keep.withColumnRenamed("v", "a")), "a", "left_semi"
        ).join(
            F.broadcast(keep.withColumnRenamed("v", "b")), "b", "left_semi"
        )
        i += 1
        if i % checkpoint_every == 0:
            alive = alive.localCheckpoint()
    return alive.groupBy("a").agg(F.sum("w").alias("core_degree"))


def _twin_kcore(
    membership: DataFrame,
    class_pairs: DataFrame,
    nodes: DataFrame,
    k: int,
    rounds: int | None,
    id_col: str,
    checkpoint_every: int,
    max_rounds: int,
) -> DataFrame:
    """k-core on the twin quotient: twins peel together (their surviving
    degrees are equal every round, by class symmetry), so the peel runs on
    the CLASS graph with weighted edges — a cross edge c→c' weighs m'
    (that many surviving neighbors per member) and a closed class of size
    m ≥ 2 carries a self-loop of weight m-1 (its intra-clique neighbors).
    Integer weights, integer sums: the surviving degrees are bit-identical
    to the expanded peel's counts."""
    classes = _twin_classes(membership)
    sym = class_pairs.unionByName(
        class_pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    wedges = sym.join(
        classes.select(F.col("cls").alias("b"), F.col("m").alias("w")), "b"
    ).select("a", "b", "w")
    selfw = classes.filter(F.col("closed") & (F.col("m") >= 2)).select(
        F.col("cls").alias("a"),
        F.col("cls").alias("b"),
        (F.col("m") - 1).alias("w"),
    )
    alive = wedges.unionByName(selfw).localCheckpoint()
    core = _peel(alive, k, rounds, checkpoint_every, max_rounds)
    per_node = membership.join(
        core.withColumnRenamed("a", "cls"), "cls", "left"
    ).select(F.col("node").alias("a"), "core_degree")
    ids = nodes.select(F.col(id_col).alias("a"))
    return ids.join(per_node, "a", "left").select(
        F.col("a").alias(id_col),
        F.col("core_degree").isNotNull().alias("in_core"),
        F.coalesce(F.col("core_degree"), F.lit(0)).cast("long").alias("core_degree"),
    )


def kcore(
    edges: DataFrame,
    nodes: DataFrame,
    k: int = 2,
    rounds: int | None = None,
    id_col: str = "doc_id",
    checkpoint_every: int = 2,
    max_rounds: int = 100,
    collapse: bool | str = "auto",
    collapse_ratio: float = 0.8,
    quotient=None,
) -> DataFrame:
    """k-core peel over SYMMETRIC ``edges(a, b)``: iteratively remove
    nodes with fewer than ``k`` surviving neighbors.

    ``rounds=None`` (the operator default) peels to the true fixpoint —
    the loop stops when the surviving-edge count is stable (a
    convergence-scalar driver read, same class as the k-means loop).
    ``rounds=R`` runs a FIXED R-round peel instead: deterministic at
    every scale without a data-dependent loop, which is what the
    oracle-replayable contract query pins (an R-round peel equals the
    true k-core whenever the peeling depth ≤ R; the pytest asserts that
    equality on the test graph).

    Execution shape: the edge set is ``localCheckpoint``ed up front —
    the peel must iterate over MATERIALIZED edges, not re-analyze the
    (potentially huge) upstream lineage per round — then each round is
    one tiny hash agg plus two BROADCAST semi-joins against the
    survivor set, which only ever shrinks.  The working edge set is
    filtered progressively (``alive_{t+1} ⊆ alive_t``), so late rounds
    scan almost nothing; equivalent to re-filtering the full edge set
    against ``surv_t`` because survival is monotone decreasing.

    Output: every node in ``nodes`` with ``in_core`` and its surviving
    degree (``core_degree``, 0 outside the core).

    ``collapse`` (default "auto"): peel the twin quotient instead
    (:func:`_twin_kcore`) — integer-weighted, bit-identical surviving
    degrees, rounds over the class graph only.
    """
    q = quotient
    if q is None and collapse:
        q = _twin_quotient(edges.select("a", "b"), collapse, collapse_ratio)
    if q is not None:
        return _twin_kcore(
            q[0], q[1], nodes, k, rounds, id_col,
            checkpoint_every, max_rounds,
        )
    alive = edges.select(
        "a", "b", F.lit(1).cast("long").alias("w")
    ).localCheckpoint()
    core = _peel(alive, k, rounds, checkpoint_every, max_rounds)
    ids = nodes.select(F.col(id_col).alias("a"))
    return ids.join(core, "a", "left").select(
        F.col("a").alias(id_col),
        F.col("core_degree").isNotNull().alias("in_core"),
        F.coalesce(F.col("core_degree"), F.lit(0)).cast("long").alias("core_degree"),
    )


def hits(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    iterations: int = 3,
) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) over DIRECTED
    ``edges(src, dst)`` — in PURE INTEGER arithmetic.

    The classic formulation normalizes each round, which drags a
    corpus-wide floating-point sum (association-order-sensitive, so not
    oracle-replayable) into the loop.  This variant runs the UNNORMALIZED
    power iteration instead: hub₀ = 1 for every node, then per round
    auth = Aᵀ·hub and hub = A·auth, all in longs — scores are exact
    integers, identical on every engine, and the RANKING (all HITS
    semantics anybody consumes) is unchanged because normalization is a
    positive scalar.  With ``iterations=3`` the magnitudes are bounded by
    d_max⁶ — safely inside int64 for any near-dup graph whose degrees the
    LSH verify step bounds.

    Output: every node with final ``hub`` and ``auth`` (0 when the node
    has no out-/in-edges respectively).
    """
    if iterations < 1:
        raise ValueError("hits needs at least one iteration")
    ids = nodes.select(F.col(id_col).alias("id"))
    # localCheckpoint, not cache: every iteration embeds the edge subtree
    # in the PLAN twice, so an upstream LSH pipeline would make the plan
    # (not the data) grow geometrically — the finding-34 template
    ed = edges.select("src", "dst").localCheckpoint()
    hub = ids.select("id", F.lit(1).cast("long").alias("hub"))
    auth = None
    # per round: auth ← Aᵀ·hub, then hub ← A·auth; both from the same
    # generation, so the returned (hub_T, auth_T) is the textbook pair.
    # Each generation is pinned with a LAZY localCheckpoint before the next
    # consumes it: hub_t's plan embeds auth_t's whole subtree (and the
    # final action joins BOTH), so without the pin every generation's
    # join+aggregation re-executed once inside its consumer — the same
    # replicated-subtree defect the rep-pair barrier fixed in dedup
    # (finding 46).  Rank relations are node-sized, so the per-round
    # materialization is cheap, and lineage stays flat.
    for i in range(iterations):
        auth = (
            ed.join(hub, ed.src == hub.id)
            .groupBy("dst")
            .agg(F.sum("hub").alias("auth"))
            .select(F.col("dst").alias("id"), "auth")
            .localCheckpoint(eager=False)
        )
        hub = (
            ed.join(auth, ed.dst == auth.id)
            .groupBy("src")
            .agg(F.sum("auth").alias("hub"))
            .select(F.col("src").alias("id"), "hub")
        )
        if (i + 1) < iterations:
            # feeds the next round's auth; the LAST hub has exactly one
            # consumer (the output join), so pinning it would only add a
            # block write
            hub = hub.localCheckpoint(eager=False)
    return (
        ids.join(hub, "id", "left")
        .join(auth, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("hub"), F.lit(0)).cast("long").alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0)).cast("long").alias("auth"),
        )
    )


def neardup_pagerank(
    docs: DataFrame,
    threshold: float = 0.5,
    iterations: int = 10,
    damping: float = 0.85,
    pairs: DataFrame | None = None,
    max_degree: int | None = None,
    collapse: bool | str = "auto",
    quotient=None,
) -> DataFrame:
    """Duplication-centrality scores: PageRank over the symmetric
    MinHash-LSH near-dup graph (``lsh_near_dups``).  Output
    ``(doc_id, score)`` with score = rank × N (so an isolated document
    scores (1-d) and hubs score above 1), rounded at the oracle
    resolution with the documented paired tie-breaker.  Pass ``pairs``
    to reuse an already-built near-dup graph (the representatives
    composition feeds the same pairs to CC and PageRank — one LSH
    pipeline, two consumers).  ``max_degree`` caps per-node pair fanout
    (``dedup.cap_pair_fanout``, top-d by jaccard) before the iteration —
    the boilerplate-clique guard: the fixpoint cost rides Σ deg², which
    clone-replicated or templated corpora grow quadratically.
    ``collapse`` (default "auto") runs the iteration on the twin-class
    quotient when the graph has enough twins — see :func:`pagerank`."""
    from .dedup import cap_pair_fanout, lsh_near_dups, lsh_near_dups_quotient

    nodes = docs.select("doc_id")
    n = nodes.count()
    if quotient is None and pairs is None and max_degree is None and collapse:
        # no pair graph built yet and no capping to break the text-group
        # twin structure: read the quotient straight off the dedup
        # collapse — the pair graph is never expanded at all (the probe
        # declines on diverse corpora and the flow below takes over)
        quotient = lsh_near_dups_quotient(docs, threshold=threshold)
    if quotient is not None:
        pr = pagerank(None, nodes, id_col="doc_id",
                      iterations=iterations, damping=damping,
                      quotient=quotient)
    else:
        if pairs is None:
            pairs = lsh_near_dups(docs, threshold=threshold)
        if max_degree is not None:
            pairs = cap_pair_fanout(pairs, max_degree)
        # the two-direction union references the pair subtree twice; cache
        # it or the LSH candidate+verify joins execute twice
        pairs = pairs.select("doc_a", "doc_b").cache()
        edges = pairs.select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        ).unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        # collapse="auto" rides through: the near-dup graph of a clone
        # corpus is a twin blow-up (uncapped: text groups are closed twin
        # cliques; capped: core/spoke split still twin-collapses), and the
        # quotient probe backs off by itself on diverse corpora
        pr = pagerank(edges, nodes, id_col="doc_id",
                      iterations=iterations, damping=damping,
                      collapse=collapse)
    return pr.select(
        "doc_id",
        F.round(F.col("rank") * F.lit(float(n)) + 1.23e-9, 6).alias("score"),
    )
