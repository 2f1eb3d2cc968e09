"""Deduplication family: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Beyond-reference operators for the training-data pipeline.  Design rules:

- **Portable hashing.** Every hash is md5 over an explicit string (never an
  engine-native hash), so the DuckDB oracle reproduces signatures bit-for-bit
  and the results are stable across engines and Spark versions.
- **MinHash over hex strings.** A minhash value is the lexicographic min of
  fixed-width lowercase-hex md5 digests — identical ordering to the numeric
  min of the 128-bit value, with zero conversion cost.
- **Scale shape.** Exact dedup is one hash-groupBy.  MinHash/LSH is the
  100 TB path: per-doc signature (one pass, k min-aggregates), band keys,
  self-join on (band, key) — candidate volume is controlled by (b, r), and
  the final verify touches only candidate pairs.  The all-pairs n-gram
  Jaccard exists as the exact baseline and for modest corpora.
"""

from __future__ import annotations

from typing import Literal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_K = 16  # minhash signature length
DEFAULT_BANDS = 4  # b bands of r = k/b rows; threshold ~ (1/b)^(1/r) ~ 0.70


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct n-gram word shingles of a single-space-separated text.
    The split is bound once per row (bind_col): referenced naively inside
    the transform lambda it would re-split the text once per shingle."""
    from .text import bind_col

    return bind_col(
        F.split(text, " "),
        lambda parts: F.when(
            F.size(parts) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(parts) - (n - 1)),
                    lambda i: F.array_join(F.slice(parts, i, n), " "),
                )
            ),
        ).otherwise(F.array(F.array_join(parts, " "))),
    )


def with_shingles(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, shingles) for every document, computed in one
    ``mapInPandas`` pass.  Pure string arithmetic, so it is exact against
    the column-level builder :func:`shingles_col` by faithful
    replication: Python ``str.split(" ")`` == Spark ``split`` at limit -1
    (empty tokens kept), ``dict.fromkeys`` == ``array_distinct`` (both
    keep first occurrence), and the sub-n fallback joins the whole token
    list either way (pinned by tests)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            docs.schema["doc_id"],
            T.StructField("shingles", T.ArrayType(T.StringType())),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for text in pdf[text_col]:
                if text is None:
                    # shingles_col: size(split(NULL)) = -1 < n, so the
                    # sub-n branch fires and array(array_join(NULL)) is [NULL]
                    out.append([None])
                    continue
                parts = text.split(" ")
                if len(parts) >= n:
                    grams = [
                        " ".join(parts[i : i + n])
                        for i in range(len(parts) - n + 1)
                    ]
                    out.append(list(dict.fromkeys(grams)))
                else:
                    out.append([" ".join(parts)])
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "shingles": out}
            )

    return docs.select("doc_id", text_col).mapInPandas(gen, out_schema)


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash: one hash-groupBy."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_docs"))
    )


def _shared_shingle_counts(
    exploded: DataFrame,
    extra_cond=None,
    salt_blocks: int | None = None,
    hot_min: int = 2048,
) -> DataFrame:
    """Shared-shingle pair counts — the posting self-join both exact-pair
    operators (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`) sit
    on — with SKEW SALTING of hot shingles.

    ``exploded`` is the posting relation ``(doc_id, n_sh, sh)``; the result
    is one row per co-shingled pair: ``(doc_a, doc_b, na, nb, shared)``
    with ``doc_a < doc_b``.  ``extra_cond(a, b)`` adds an exact-preserving
    prune to the join condition (e.g. the Jaccard length filter).

    Why salting: the sort-merge self-join hands ALL postings of one
    shingle to one task, and a hot shingle with ``s`` postings emits
    ``C(s,2)`` pair rows there — a boilerplate trigram present in 10% of a
    clone-heavy corpus pins a single core for the whole quadratic burst
    while 31 idle (observed: a 30-min one-task tail in doc_lsh_recall at
    the sf10 shape).  AQE's skew splitter never helps because the blowup
    is join OUTPUT, which it cannot see.  Same algebra as the SemDeDup
    block salt (clustering.py): for shingles with ``>= hot_min`` postings
    the probe side keeps one id-hash block per posting and the build side
    replicates each posting to all ``salt_blocks`` blocks, so every
    qualifying pair still meets exactly once but a hot key's pair work
    spreads over ``salt_blocks`` tasks.  Cold shingles (the long tail)
    join directly — no replication cost.  The union feeds ONE aggregation,
    so each pair's ``shared`` count still sees every co-shingle exactly
    once; the rewrite is physical only and bit-identical to the direct
    join (pinned by tests).
    """
    sess = exploded.sparkSession
    if salt_blocks is None:
        salt_blocks = max(2, sess.sparkContext.defaultParallelism)
    # the posting relation feeds FIVE subtrees (hot-key count, two sides
    # of each of the two joins); materialize it once — LAZY localCheckpoint,
    # not .cache(): blocks are released by the ContextCleaner when the
    # result goes out of scope instead of pinning executor storage across
    # repeated calls (the seriesLists pattern), and eager=False keeps this
    # builder a pure plan constructor — no Spark job runs until the caller's
    # first action, which materializes the relation once for all subtrees
    exploded = exploded.localCheckpoint(eager=False)

    def pair_cond(a: str, b: str):
        cond = (F.col(f"{a}.sh") == F.col(f"{b}.sh")) & (
            F.col(f"{a}.doc_id") < F.col(f"{b}.doc_id")
        )
        if extra_cond is not None:
            cond = cond & extra_cond(a, b)
        return cond

    hot_keys = (
        exploded.groupBy("sh")
        .agg(F.count("*").alias("sh_n"))
        .filter(F.col("sh_n") >= hot_min)
        .select("sh")
        # four broadcast builds read this (cold anti x2, hot semi x2);
        # checkpoint so the posting-count aggregation runs once per action
        .localCheckpoint(eager=False)
    )
    cold = exploded.join(F.broadcast(hot_keys), "sh", "left_anti")
    cold_pairs = cold.alias("a").join(cold.alias("b"), pair_cond("a", "b"))

    hot = exploded.join(F.broadcast(hot_keys), "sh", "left_semi")
    ha = hot.withColumn(
        "blk", F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(salt_blocks))
    ).alias("a")
    hb = hot.withColumn(
        "blk", F.explode(F.array(*[F.lit(i) for i in range(salt_blocks)]))
    ).alias("b")
    hot_pairs = ha.join(
        hb, pair_cond("a", "b") & (F.col("a.blk") == F.col("b.blk"))
    )

    sel = ["a.doc_id", "a.n_sh", "a.sh", "b.doc_id", "b.n_sh"]
    names = ["doc_a", "na", "sh", "doc_b", "nb"]
    both = cold_pairs.select(
        *[F.col(c).alias(n) for c, n in zip(sel, names)]
    ).unionByName(
        hot_pairs.select(*[F.col(c).alias(n) for c, n in zip(sel, names)])
    )
    return both.groupBy("doc_a", "doc_b", "na", "nb").agg(
        F.count("*").alias("shared")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    salt_blocks: int | None = None,
    hot_min: int = 2048,
) -> DataFrame:
    """Exact pairwise Jaccard over n-gram shingles, shingle-join pruned.

    One self-join, one aggregation: each posting carries its document's
    shingle count, so both set sizes ride through the join for free (one int
    per posting) and no separate size joins are needed.  Two exact-preserving
    prunes keep the pair fan-out down:

    - inverted-index prune: only pairs sharing >= 1 shingle are generated;
    - Jaccard length filter: ``J(A,B) >= t`` implies
      ``t*|A| <= |B| <= |A|/t``, pushed into the join condition, so pairs
      whose sizes alone rule out the threshold never reach the aggregation.

    Hot shingles are skew-salted (see :func:`_shared_shingle_counts`).
    Still quadratic in co-shingled documents; at real scale prefer
    :func:`lsh_near_dups`.
    """
    sh = with_shingles(docs, n=n)
    exploded = sh.select(
        "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("sh")
    )
    shared = _shared_shingle_counts(
        exploded,
        extra_cond=lambda a, b: (
            F.col(f"{b}.n_sh") * F.lit(threshold) <= F.col(f"{a}.n_sh")
        )
        & (F.col(f"{a}.n_sh") * F.lit(threshold) <= F.col(f"{b}.n_sh")),
        salt_blocks=salt_blocks,
        hot_min=hot_min,
    )
    return (
        shared.withColumn(
            "jaccard", F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    salt_blocks: int | None = None,
    hot_min: int = 2048,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: ``C(A,B) = |A ∩ B| / |A|``
    (Broder's containment).  Catches what symmetric Jaccard structurally
    misses — a short document pasted into a much longer one scores Jaccard
    ~|A|/|B| (tiny) but containment ~1 — the quote/boilerplate-inclusion
    case every crawl corpus has.

    Same single-self-join posting shape as :func:`ngram_jaccard_pairs`
    with one exact-preserving prune: ``max(C(A,B), C(B,A)) >= t`` implies
    ``shared >= t * min(|A|, |B|)``, and shared <= min(|A|,|B|) always, so
    only the inverted-index prune (pairs sharing >= 1 shingle) applies at
    join time and the threshold filters after the count — no size-ratio
    prune is sound here, which is exactly why containment finds the
    asymmetric pairs the Jaccard length filter throws away.  Output: one
    row per unordered pair (doc_a < doc_b) with both directions'
    containments; at scale the LSH banding prune composes in front
    unchanged (candidates only).
    """
    sh = with_shingles(docs, n=n)
    exploded = sh.select(
        "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("sh")
    )
    shared = _shared_shingle_counts(
        exploded, salt_blocks=salt_blocks, hot_min=hot_min
    )
    return (
        shared.withColumn("cont_a_in_b", F.col("shared") / F.col("na"))
        .withColumn("cont_b_in_a", F.col("shared") / F.col("nb"))
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round("cont_a_in_b", 6).alias("cont_a_in_b"),
            F.round("cont_b_in_a", 6).alias("cont_b_in_a"),
        )
    )


def _collapsed_sets(
    docs: DataFrame, n: int, collapse: bool | str, collapse_ratio: float
):
    """Distinct-shingle-set collapse shared by the prefix-filtered pair
    operators (the finding-37 move on the shingle relation): docs with
    identical sets collapse to a min-id representative so the quadratic
    candidate/verify stages run rep x rep.  ``collapse="auto"`` probes in
    two JVM-only stages: ``approx_count_distinct(xxhash64(text)) / count``
    first (identical texts imply identical sets, so a low text ratio
    suffices), then — only when the text probe declines — the set hash
    itself (``xxhash64(to_json(array_sort(shingles)))`` via the expression
    shingle builder), which catches corpora whose texts differ only by
    repeated n-grams or sub-n padding (identical sets, distinct texts).
    Collapses when either ratio is below ``collapse_ratio``.  Returns
    ``(sh, members, collapsed)`` where ``sh`` is the cached (doc_id,
    shingles, m) relation the pair stages read (reps only when collapsed)
    and ``members`` maps every doc to its representative (None when not
    collapsed).

    Grouping key: ``md5(to_json(sorted array))`` — an INJECTIVE encoding,
    then a 128-bit hash.  ``array_join`` (the pre-r10 key) had two real
    bugs: it silently drops null elements (conflating a null-text doc's
    ``[NULL]`` with an empty-text doc's ``['']``) and a separator byte
    inside a shingle is ambiguous.  ``to_json`` has neither (JSON escapes
    every byte and renders null as ``null``), so distinct sets always get
    distinct encodings.  The key must stay SCALAR: partitioning the window
    by the raw array (the interim r10 state) shuffles AND sort-compares
    multi-KB arrays as the key — measured 13.9s -> 241.7s on
    ``doc_containment`` at sf1, a 17x regression for zero semantic gain
    over the injective-encoding hash (md5 collisions are the same
    negligible class every other md5-keyed stage here accepts).  The auto
    probe's ``xxhash64`` is only a cardinality heuristic, so its
    null-element skipping cannot affect correctness."""
    from pyspark.sql import Window

    sets = with_shingles(docs, n=n).select(
        "doc_id", F.array_sort("shingles").alias("shingles")
    )
    if collapse == "auto":
        # TWO-STAGE routing probe, both stages JVM expressions (guide §4:
        # never enter Python for a routing scalar — the pre-r10 probe paid
        # a full mapInPandas shingle pass).  Stage 1 hashes the RAW TEXT:
        # identical texts have identical sets, so distinct-text ratio >=
        # distinct-set ratio and a low text ratio already justifies the
        # collapse.  Stage 2 (only when stage 1 declines) probes the SET
        # HASH itself via the expression-form shingle builder: texts that
        # differ only by repeated n-grams or sub-n padding have identical
        # sets but distinct texts, so on boilerplate-heavy corpora the
        # text probe alone would under-collapse and silently route to the
        # quadratic path this collapse exists to avoid (the r10 ADVICE
        # cliff).  Clone-heavy corpora route on stage 1 and never pay
        # stage 2; diverse corpora pay one extra scan-speed aggregation.
        # Both branches stay LOSSLESS — the probe can only pick the
        # slower-but-equal plan, never change a result.
        probe = docs.agg(
            F.count("*").alias("total"),
            F.approx_count_distinct(F.xxhash64("text")).alias("distinct"),
        ).collect()[0]
        collapse = probe.total > 0 and probe.distinct / probe.total < collapse_ratio
        if probe.total > 0 and not collapse:
            # canonical set encoding: shingles_col already array_distincts,
            # array_sort removes gram-order variation between equal sets
            set_key = F.xxhash64(
                F.to_json(F.array_sort(shingles_col(F.col("text"), n)))
            )
            sp = docs.agg(
                F.approx_count_distinct(set_key).alias("distinct")
            ).collect()[0]
            collapse = sp.distinct / probe.total < collapse_ratio

    members = None
    if collapse:
        # members: every doc tagged with its set's min-id representative;
        # lazy checkpoint — feeds the rep relation and both expansion sides
        w = Window.partitionBy(F.md5(F.to_json("shingles")))
        members = (
            sets.withColumn("rid", F.min("doc_id").over(w))
            .withColumn("m", F.count("*").over(w))
            .localCheckpoint(eager=False)
        )
        sh = members.filter(F.col("doc_id") == F.col("rid")).select(
            "doc_id", "shingles", "m"
        )
    else:
        sh = sets.withColumn("m", F.lit(1))
    return sh.cache(), members, collapse


def _prefix_filtered_candidates(
    sh: DataFrame,
    threshold: float,
    salt_blocks: int | None,
    hot_min: int,
    extra_cond=None,
) -> DataFrame:
    """DF-ordered prefix-filtered candidate pairs (AllPairs/PPJoin prefix
    principle, Chaudhuri et al. 2006) over a (doc_id, shingles) relation.

    Fix one global shingle order — ascending document frequency, ties by
    shingle text.  Any pair whose qualifying relation implies
    ``shared >= ceil(t * |A|)`` with A the smaller side (true for both
    Broder containment at t and Jaccard at t, since a Jaccard-qualifying
    pair shares ``>= t*max >= t*min``) must share at least one of A's first
    ``|A| - ceil(t*|A|) + 1`` shingles in the global order (its PREFIX, its
    rarest shingles).  Candidate volume is ``sum over prefix shingles of
    df(g)`` instead of the exact self-join's ``sum over all shingles of
    df(g)^2``, and rare-first ordering keeps boilerplate shingles (which
    sort LAST) out of prefixes.  ``extra_cond(a, b)`` adds an
    exact-preserving prune to the join condition (e.g. the Jaccard size
    filter); residual hot prefix keys reuse the posting-join salt algebra
    of :func:`_shared_shingle_counts`.  Output: distinct (doc_a < doc_b)
    candidate pairs; every qualifying pair is present (the prune is
    lossless), a false candidate costs the caller one verify.
    """
    from pyspark.sql import Window

    sess = sh.sparkSession
    if salt_blocks is None:
        salt_blocks = max(2, sess.sparkContext.defaultParallelism)

    exploded = (
        sh.select(
            "doc_id", F.size("shingles").alias("n_sh"),
            F.explode("shingles").alias("sh"),
        )
        # feeds the df count, the full-side index (twice: hot/cold) and the
        # prefix build — lazy checkpoint materializes it once at first action
        .localCheckpoint(eager=False)
    )
    dfc = exploded.groupBy("sh").agg(F.count("*").alias("df"))

    # per-doc global-order position; the 1e-9 slack keeps FP rounding of
    # t*n_sh from overshooting the true integer ceiling (an undershoot only
    # lengthens the prefix — still exact; an overshoot would lose pairs)
    pos = F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "sh"))
    required = F.greatest(
        F.lit(1), F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
    )
    prefix = (
        exploded.join(dfc, "sh")
        .withColumn("pos", pos)
        .filter(F.col("pos") <= F.col("n_sh") - required + 1)
        .select("doc_id", "n_sh", "sh")
        # the prefix relation feeds BOTH the cold (anti) and hot (semi)
        # candidate branches; without a barrier each branch re-runs the df
        # aggregation + join + per-doc position window from the posting RDD
        # (plan audit: the Window and its feeding HashAggregates appeared
        # twice, zero ReusedExchange) — lazy checkpoint computes it once
        .localCheckpoint(eager=False)
    )

    # smaller side carries the prefix; ties broken by id so each unordered
    # pair is generated from exactly one orientation
    def pair_cond(a: str, b: str) -> Column:
        cond = (F.col(f"{a}.sh") == F.col(f"{b}.sh")) & (
            (F.col(f"{a}.n_sh") < F.col(f"{b}.n_sh"))
            | (
                (F.col(f"{a}.n_sh") == F.col(f"{b}.n_sh"))
                & (F.col(f"{a}.doc_id") < F.col(f"{b}.doc_id"))
            )
        )
        if extra_cond is not None:
            cond = cond & extra_cond(a, b)
        return cond

    # four broadcast builds read hot_keys (anti x2, semi x2); checkpoint so
    # the df aggregation behind it runs once, not once per build (broadcast
    # exchange reuse is not guaranteed across the branches under AQE)
    hot_keys = (
        dfc.filter(F.col("df") >= hot_min).select("sh").localCheckpoint(eager=False)
    )
    cold_cand = (
        prefix.join(F.broadcast(hot_keys), "sh", "left_anti")
        .alias("a")
        .join(
            exploded.join(F.broadcast(hot_keys), "sh", "left_anti").alias("b"),
            pair_cond("a", "b"),
        )
    )
    hot_a = (
        prefix.join(F.broadcast(hot_keys), "sh", "left_semi")
        .withColumn(
            "blk", F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(salt_blocks))
        )
        .alias("a")
    )
    hot_b = (
        exploded.join(F.broadcast(hot_keys), "sh", "left_semi")
        .withColumn("blk", F.explode(F.array(*[F.lit(i) for i in range(salt_blocks)])))
        .alias("b")
    )
    hot_cand = hot_a.join(
        hot_b, pair_cond("a", "b") & (F.col("a.blk") == F.col("b.blk"))
    )
    pair_ids = (
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
    )
    return (
        cold_cand.select(*pair_ids)
        .unionByName(hot_cand.select(*pair_ids))
        .groupBy("doc_a", "doc_b")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )


def containment_prefix_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    salt_blocks: int | None = None,
    hot_min: int = 2048,
    collapse: bool | str = "auto",
    collapse_ratio: float = 0.8,
) -> DataFrame:
    """Containment pairs via SET COLLAPSE + DF-ORDERED PREFIX FILTERING —
    the scale path for :func:`containment_pairs`, and (unlike Jaccard-LSH
    banding, which is biased *against* the asymmetric short-in-long pairs
    containment exists to catch) LOSSLESS: the output relation is
    bit-identical to the exact operator's, pinned by running both against
    the same DuckDB oracle and by a direct-equality pytest.

    Two orthogonal bounds replace the exact posting self-join (whose
    ``sum(df^2)`` pair burst died of >78 GB spill at sf10):

    **1. Distinct-set collapse (the finding-37 move on the shingle
    relation).**  Containment depends only on the two shingle SETS, so
    documents with identical sets collapse to a min-id representative, the
    candidate/verify stages run rep x rep, and qualifying rep pairs expand
    back to member pairs through two output-bound id joins.  Within-group
    pairs are emitted directly with containment exactly 1.0 both ways
    (identical sets).  On a clone-heavy crawl corpus this shrinks the
    quadratic core by the SQUARE of the average multiplicity — the sf1/sf10
    documents tables hold 50k/500k docs over the same 4,992 distinct sets,
    so the candidate stage is constant across the decade and only the
    output grows.  ``collapse="auto"`` (default) routes through the
    two-stage JVM probe of :func:`_collapsed_sets` (text hash first, set
    hash when the text probe declines) and collapses only when a ratio is
    below ``collapse_ratio`` — a diverse corpus (every set unique) skips
    the rep machinery entirely and pays only the probe.

    **2. Prefix filtering (AllPairs/PPJoin principle, Chaudhuri et al.
    2006, applied to Broder containment).**  Fix one global shingle order —
    ascending document frequency, ties by shingle text.  For a qualifying
    pair, ``max(C(A,B), C(B,A)) = shared / min(|A|,|B|) >= t``, so with A
    the smaller side ``shared >= ceil(t*|A|)`` — A can miss at most
    ``|A| - ceil(t*|A|)`` of its own shingles in B, hence at least one of
    A's first ``p = |A| - ceil(t*|A|) + 1`` shingles (its PREFIX, its
    rarest ones) appears in B.  Candidate generation joins only prefix
    postings of the smaller side against the full posting index:
    candidate volume is ``sum over prefix shingles of df(g)`` instead of
    ``sum over all shingles of df(g)^2``, and the rare-first order keeps a
    boilerplate trigram (which sorts LAST) out of prefixes.  The exact
    verify (``array_intersect`` on the set arrays) touches candidates only,
    so a false candidate costs one array intersection, never a wrong pair.

    Residual hot prefix keys reuse the posting-join salt algebra of
    :func:`_shared_shingle_counts`: build side replicated to
    ``salt_blocks``, probe side hashed to one block, qualifying pairs meet
    exactly once.

    Cost shape at 100 TB: one set-hash aggregation (map-side combined), one
    df aggregation, one posting->df join + per-set sort (window on set id),
    the prefix x index join (bounded fan-out), the candidate-pair distinct
    and verify join on reps only, then two member-expansion joins bounded
    by the OUTPUT relation — nothing quadratic in corpus size survives.
    """
    sh, members, collapse = _collapsed_sets(docs, n, collapse, collapse_ratio)
    cands = _prefix_filtered_candidates(sh, threshold, salt_blocks, hot_min)

    verified = cands.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")),
        "doc_b",
    )
    shared = F.size(F.array_intersect("sa", "sb"))
    rep_pairs = (
        verified.withColumn("shared", shared)
        .withColumn("cont_a_in_b", F.col("shared") / F.size("sa"))
        .withColumn("cont_b_in_a", F.col("shared") / F.size("sb"))
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
        .select("doc_a", "doc_b", "cont_a_in_b", "cont_b_in_a")
    )
    if not collapse:
        return rep_pairs.select(
            "doc_a",
            "doc_b",
            F.round("cont_a_in_b", 6).alias("cont_a_in_b"),
            F.round("cont_b_in_a", 6).alias("cont_b_in_a"),
        )

    # expansion: each qualifying rep pair (ra, rb) fans out to all member
    # pairs; the conts follow the SETS, so when member ids flip the pair
    # orientation the two containments swap with them.  Barrier first:
    # pin the array_intersect verify to the rep relation (finding 46)
    rep_pairs = rep_pairs.localCheckpoint(eager=False)
    ma = members.select(F.col("rid").alias("doc_a"), F.col("doc_id").alias("ia"))
    mb = members.select(F.col("rid").alias("doc_b"), F.col("doc_id").alias("ib"))
    flipped = F.col("ia") > F.col("ib")
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            F.when(flipped, F.col("cont_b_in_a"))
            .otherwise(F.col("cont_a_in_b"))
            .alias("cont_a_in_b"),
            F.when(flipped, F.col("cont_a_in_b"))
            .otherwise(F.col("cont_b_in_a"))
            .alias("cont_b_in_a"),
        )
    )
    out = cross
    if threshold <= 1.0:
        # identical sets: containment is exactly 1.0 both ways.  Null-text
        # docs (shingle set [NULL]) are EXCLUDED: on the exact path a NULL
        # shingle never equijoins, so those docs emit no pairs — the intra
        # emission must mirror that or the 'lossless' contract breaks
        intra = (
            sh.filter((F.col("m") >= 2) & ~F.exists("shingles", lambda c: c.isNull()))
            .select(F.col("doc_id").alias("rid"))
            .join(members.select("rid", F.col("doc_id").alias("ia")), "rid")
            .join(members.select("rid", F.col("doc_id").alias("ib")), "rid")
            .filter(F.col("ia") < F.col("ib"))
            .select(
                F.col("ia").alias("doc_a"),
                F.col("ib").alias("doc_b"),
                F.lit(1.0).alias("cont_a_in_b"),
                F.lit(1.0).alias("cont_b_in_a"),
            )
        )
        out = out.unionByName(intra)
    return out.select(
        "doc_a",
        "doc_b",
        F.round("cont_a_in_b", 6).alias("cont_a_in_b"),
        F.round("cont_b_in_a", 6).alias("cont_b_in_a"),
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    salt_blocks: int | None = None,
    hot_min: int = 2048,
    collapse: bool | str = "auto",
    collapse_ratio: float = 0.8,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via set collapse + prefix filtering — the
    lossless scale sibling of :func:`ngram_jaccard_pairs` (where
    :func:`lsh_near_dups` is the *approximate* one: banding loses
    threshold-straddling pairs, this loses none).  Bit-identical output,
    pinned by sharing the exact operator's DuckDB oracle.

    Same machinery as :func:`containment_prefix_pairs`
    (:func:`_collapsed_sets` + :func:`_prefix_filtered_candidates` — the
    prefix rule is valid for Jaccard because ``J >= t`` implies
    ``shared >= t*max(|A|,|B|) >= t*min``), plus the Jaccard-only
    exact-preserving size prune pushed into the candidate join:
    ``J >= t`` implies ``t*|B| <= |A| <= |B|/t``, so with A the smaller
    side only ``|A| >= t*|B|`` pairs are generated — the asymmetric pairs
    containment exists for are PRECISELY the ones this prune removes,
    which is why the two operators stay separate.  Identical sets have
    Jaccard exactly 1.0, so within-group member pairs are emitted directly
    after the rep stage.
    """
    sh, members, collapse = _collapsed_sets(docs, n, collapse, collapse_ratio)
    cands = _prefix_filtered_candidates(
        sh,
        threshold,
        salt_blocks,
        hot_min,
        # a is the smaller side by pair_cond construction: J >= t needs
        # |A| >= t*|B|
        extra_cond=lambda a, b: (
            F.col(f"{a}.n_sh") >= F.lit(threshold) * F.col(f"{b}.n_sh")
        ),
    )

    verified = cands.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    rep_pairs = (
        verified.withColumn(
            "jaccard", inter / (F.size("sa") + F.size("sb") - inter)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    if not collapse:
        return rep_pairs.select(
            "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
        )

    # expansion: Jaccard is symmetric, so member pairs inherit the rep
    # pair's value regardless of id orientation.  Barrier first: pin the
    # array_intersect verify to the rep relation (finding 46)
    rep_pairs = rep_pairs.localCheckpoint(eager=False)
    ma = members.select(F.col("rid").alias("doc_a"), F.col("doc_id").alias("ia"))
    mb = members.select(F.col("rid").alias("doc_b"), F.col("doc_id").alias("ib"))
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            "jaccard",
        )
    )
    out = cross
    if threshold <= 1.0:
        # identical sets: Jaccard is exactly 1.0; null-text groups excluded
        # (NULL shingles never equijoin on the exact path — see
        # containment_prefix_pairs)
        intra = (
            sh.filter((F.col("m") >= 2) & ~F.exists("shingles", lambda c: c.isNull()))
            .select(F.col("doc_id").alias("rid"))
            .join(members.select("rid", F.col("doc_id").alias("ia")), "rid")
            .join(members.select("rid", F.col("doc_id").alias("ib")), "rid")
            .filter(F.col("ia") < F.col("ib"))
            .select(
                F.col("ia").alias("doc_a"),
                F.col("ib").alias("doc_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        out = out.unionByName(intra)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def minhash_signatures(docs: DataFrame, k: int = DEFAULT_K, n: int = 3) -> DataFrame:
    """Per-doc MinHash signature: k min-aggregates in a single pass over the
    exploded shingles (map-side combine keeps the shuffle tiny).  Pure
    Column expressions end to end — the form the DuckDB oracle mirrors and
    the reference :func:`minhash_signatures_arrow`, the production kernel,
    is pinned to.

    Hash economy: one md5 yields four independent 32-bit (8-hex-char)
    hash values, so k signatures cost only ceil(k/4) md5 evaluations per
    shingle — the dominant cost of the signature pass.
    """
    exploded = docs.select(
        "doc_id", F.explode(shingles_col(F.col("text"), n)).alias("sh")
    )
    # digests materialize in a PROJECTION before the aggregation: inside a
    # wide agg, common-subexpression elimination across aggregate functions
    # is not guaranteed, so each md5 could be evaluated once per derived
    # hash (4x the work) and the generated agg method balloons; staged this
    # way each digest runs exactly once per posting and the agg is k plain
    # column mins
    digests = exploded.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{s}:"), F.col("sh"))).alias(f"d{s}")
            for s in range((k + 3) // 4)
        ],
    )
    hashes = digests.select(
        "doc_id",
        *[
            F.substring(F.col(f"d{j // 4}"), (j % 4) * 8 + 1, 8).alias(f"h{j}")
            for j in range(k)
        ],
    )
    # signatures stay narrow (k 8-char strings): the shingle arrays must NOT
    # ride through this shuffle — the verify stage re-joins them separately
    return hashes.groupBy("doc_id").agg(
        *[F.min(f"h{j}").alias(f"h{j}") for j in range(k)]
    )


def minhash_signatures_arrow(
    docs: DataFrame, k: int = DEFAULT_K, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Bit-exact Arrow twin of :func:`minhash_signatures`, and the one
    signature kernel every LSH operator runs, batch and streaming
    (PERF.md finding 36 applied to the LSH build — the signature pass is
    the shared subtree of every pair-graph query).  The whole pipeline is
    integer/string arithmetic, so exactness needs only faithful
    replication, no FP argument:

    - ``str.split(" ")`` == Spark ``split(text, ' ')`` at limit -1 (both
      keep empty tokens, including trailing);
    - ``hashlib.md5`` over UTF-8 == Spark ``md5`` (same salted input
      ``f"{s}:" + shingle``), lowercase hex either side;
    - the min of 8-char fixed-width lowercase-hex slices == the min of the
      digest's big-endian uint32 words (fixed-width hex is lexicographic
      == numeric), so the k minima run as ONE ``np.minimum.reduceat`` over
      the batch's concatenated digest buffer and the hex rendering is one
      vectorized ``binascii.hexlify`` of the winners — no per-shingle
      Python slicing or per-column ``min`` generators;
    - duplicate shingles within a doc are dropped (``dict.fromkeys``)
      before hashing — duplicates cannot change a min.

    Measured ~5x over a pure-Column HOF form at sf0.1 (hashlib's C md5 vs
    interpreted transform trees), and another ~1.6x from the vectorized
    min/hex path (the per-batch kernel is md5-bound after it; a
    cross-batch uniq-dict variant was prototyped and measured SLOWER —
    dict/index overhead exceeds the md5 savings on distinct-text
    corpora).  Pinned equal to :func:`minhash_signatures` by test and by
    every LSH oracle downstream of :func:`lsh_near_dups`.
    """
    from pyspark.sql import types as T

    n_digests = (k + 3) // 4
    out_schema = T.StructType(
        [docs.schema["doc_id"]]
        + [T.StructField(f"h{j}", T.StringType()) for j in range(k)]
    )

    def sig(batches):
        import binascii
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        pres = [f"{s}:".encode() for s in range(n_digests)]
        for pdf in batches:
            if not len(pdf):
                continue
            # one digest buffer per salt for the whole batch; per non-null
            # doc, its shingles occupy one contiguous run in every buffer
            bufs = [bytearray() for _ in range(n_digests)]
            counts: list[int] = []
            nulls: list[bool] = []
            for text in pdf[text_col]:
                if text is None:
                    # minhash_signatures: null text explodes to one NULL
                    # shingle, whose NULL digests make every min NULL
                    nulls.append(True)
                    continue
                nulls.append(False)
                parts = text.split(" ")
                if len(parts) >= n:
                    sh = list(
                        dict.fromkeys(
                            " ".join(parts[i : i + n])
                            for i in range(len(parts) - n + 1)
                        )
                    )
                else:
                    sh = [" ".join(parts)]
                encs = [g.encode("utf-8") for g in sh]
                counts.append(len(encs))
                for s in range(n_digests):
                    pre = pres[s]
                    buf = bufs[s]
                    for e in encs:
                        buf += md5(pre + e).digest()
            nn = len(counts)
            if nn:
                offsets = np.zeros(nn, dtype=np.int64)
                np.cumsum(
                    np.asarray(counts[:-1], dtype=np.int64), out=offsets[1:]
                )
                mins = np.empty((nn, k), dtype=np.uint32)
                for s in range(n_digests):
                    words = np.frombuffer(bytes(bufs[s]), dtype=">u4").reshape(
                        -1, 4
                    )
                    w = min(4, k - s * 4)
                    mins[:, s * 4 : s * 4 + w] = np.minimum.reduceat(
                        words[:, :w], offsets, axis=0
                    )
                hexarr = (
                    np.frombuffer(
                        binascii.hexlify(mins.astype(">u4").tobytes()),
                        dtype="S8",
                    )
                    .reshape(nn, k)
                    .astype("U8")
                )
            cols: dict[str, object] = {}
            if not any(nulls):
                for j in range(k):
                    cols[f"h{j}"] = hexarr[:, j]
            else:
                for j in range(k):
                    out: list = []
                    t = 0
                    for isnull in nulls:
                        if isnull:
                            out.append(None)
                        else:
                            out.append(hexarr[t, j])
                            t += 1
                    cols[f"h{j}"] = out
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, **cols})

    return docs.select("doc_id", text_col).mapInPandas(sig, out_schema)


def band_keys(
    signatures: DataFrame, k: int = DEFAULT_K, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """(doc_id, band, key) rows from a signature relation — the LSH bucket
    keying shared by the batch self-join and the streaming corpus index
    (both sides MUST band identically or candidates are silently lost).
    A single explode, so the signature subtree appears once per plan."""
    r = k // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bidx).alias("band"),
                F.concat(*[F.col(f"h{bidx * r + j}") for j in range(r)]).alias("key"),
            )
            for bidx in range(bands)
        ]
    )
    return signatures.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, k: int = DEFAULT_K, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """Band the signatures and self-join on (band, key): docs agreeing on all
    r rows of any band become candidates."""
    banded = band_keys(signatures, k=k, bands=bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _lsh_rep_pairs(
    base: DataFrame,
    threshold: float,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    n: int = 3,
) -> DataFrame:
    """The LSH candidate + true-Jaccard verify core over ``base`` docs
    (the distinct-text representatives when collapsed, the raw corpus
    otherwise): banded signature self-join, ``array_intersect`` verify on
    candidates only.  Both relations are cached — the banded signatures
    feed both sides of the candidate self-join and the shingle relation
    both sides of the verify join, and Spark does not dedupe common
    subtrees within one action."""
    # NOT fused into one Arrow pass: a single mapInPandas emitting
    # (shingles, h0..h15) was built and interleave-A/B'd at sf1 — 1.15x
    # WORSE (2.84s -> 3.28s median) because every downstream read of the
    # one wide cache (band explode, both self-join sides) then pays to
    # deserialize the shingle arrays it does not need; two narrow caches
    # beat one Python-pass saving on the collapsed (small) base relation.
    sigs = minhash_signatures_arrow(base, k=k, n=n).cache()
    cands = lsh_candidate_pairs(sigs, k=k, bands=bands)
    sh = with_shingles(base, n=n).select("doc_id", "shingles").cache()
    pairs = (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sa"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sb"), "doc_b")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def lsh_near_dups_quotient(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    n: int = 3,
    collapse: bool | str = "auto",
    collapse_ratio: float = 0.8,
    with_weights: bool = False,
):
    """The TWIN-CLASS QUOTIENT of the :func:`lsh_near_dups` pair graph,
    read directly off the dedup pipeline's distinct-text collapse — no
    pair expansion, no neighbor-array re-detection.

    Identical non-null texts form CLOSED twin classes of the near-dup
    graph by construction: same text ⇒ same shingle set ⇒ same signature,
    band keys and verified Jaccard against every other document (class
    adjacency is all-or-nothing), and members pair with each other at
    Jaccard exactly 1.0 ≥ threshold (mutual clique).  Null-text documents
    are isolated on the pair graph (NULL never equijoins in the candidate
    or verify joins) and are left OUT of the membership — every consumer
    coalesces absent nodes to the isolated value.  The class graph is the
    rep-pair relation the collapsed builder already computes BEFORE member
    expansion, so the graph family consumes the quotient the dedup stage
    produced instead of expanding member pairs only to re-collapse them
    (``graph._twin_quotient``'s generic detection pays two array-keyed
    shuffles the text groups make redundant).

    Returns ``(membership, class_pairs)`` — membership ``(node, cls, m,
    closed)`` with ``cls`` = min member doc_id, class_pairs ``(a, b)``
    with ``a < b`` — the exact shape ``graph._twin_*`` consume — or
    ``None`` when the distinct-text probe declines (diverse corpus; the
    caller falls back to the expanded pair graph).  ``with_weights=True``
    adds the rounded rep Jaccard as a ``jaccard`` column on class_pairs
    (class-level weights are well defined: the verify depends only on the
    two texts), for the weighted/seeded quotient consumers; within-class
    member pairs weigh exactly 1.0 by the identical-text rule."""
    base, members, collapsed = _collapsed_texts(docs, "text", collapse, collapse_ratio)
    if not collapsed:
        return None
    rep_pairs = _lsh_rep_pairs(
        base, threshold, k=k, bands=bands, n=n
    ).localCheckpoint(eager=False)
    membership = (
        members.filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").alias("node"),
            F.col("rid").alias("cls"),
            "m",
            # identical texts pair at Jaccard exactly 1.0, so an m≥2 text
            # group is a clique (closed class) for every threshold ≤ 1.0
            ((F.col("m") >= 2) & F.lit(threshold <= 1.0)).alias("closed"),
        )
        .localCheckpoint(eager=False)
    )
    cols = [F.col("doc_a").alias("a"), F.col("doc_b").alias("b")]
    if with_weights:
        cols.append(F.col("jaccard"))
    class_pairs = rep_pairs.select(*cols)
    return membership, class_pairs


def lsh_near_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    n: int = 3,
    collapse: bool | str = "auto",
    collapse_ratio: float = 0.8,
) -> DataFrame:
    """MinHash-LSH candidates verified with true Jaccard (array_intersect on
    the candidate pairs only) — the scale path for near-dup detection.

    Both relations are cached: the banded signatures feed both sides of the
    candidate self-join and the shingle relation both sides of the verify
    join, and Spark does not dedupe common subtrees within one action —
    uncached, the signature subtree would execute four times.  Signatures
    come from :func:`minhash_signatures_arrow` (bit-identical to the
    aggregation form, pytest-pinned; a per-row pass with zero shuffle), so
    the cached relation is one scan-speed pass over the corpus.

    ``collapse`` (default "auto", distinct-ratio probed): signatures, band
    collisions and the Jaccard verify all depend only on the TEXT, so
    exact-duplicate texts collapse to a min-id representative — the band
    self-join and every array_intersect run once per distinct TEXT pair,
    qualifying rep pairs expand through output-bound id joins, and
    within-group pairs emit Jaccard exactly 1.0 directly (identical texts
    always band-collide; null-text groups emit nothing, matching the
    direct path's null-signature join semantics).  Output identical; this
    is the pair-graph build every downstream graph contract shares, so
    the clone-squared saving compounds.
    """
    base, members, collapsed = _collapsed_texts(docs, "text", collapse, collapse_ratio)
    rep_pairs = _lsh_rep_pairs(base, threshold, k=k, bands=bands, n=n)
    if not collapsed:
        return rep_pairs
    # barrier: pin the array_intersect verify to the rep relation —
    # see lsh_edit_verify (finding 46, replicated verify re-evaluation)
    rep_pairs = rep_pairs.localCheckpoint(eager=False)
    out = _expand_member_pairs(rep_pairs, members, ["jaccard"])
    if threshold <= 1.0:
        # identical texts: Jaccard exactly 1.0 (the empty text included —
        # its one-shingle set intersects itself); null-text groups never
        # produce candidates on the direct path, so they emit nothing here
        out = out.unionByName(
            _intra_member_pairs(
                base,
                members,
                eligible=F.col("text").isNotNull(),
                value_exprs=[F.lit(1.0).alias("jaccard")],
            )
        )
    return out


def cap_pair_fanout(
    pairs: DataFrame, max_degree: int, weight_col: str = "jaccard"
) -> DataFrame:
    """Per-node pair-fanout cap: keep each node's top-``max_degree``
    incident pairs by (weight desc, partner id asc); a pair survives if it
    ranks for EITHER endpoint (k-NN-graph sparsification union semantics,
    so no node is orphaned by a hub neighbour's budget).

    Real corpora contain pathological near-dup cliques — boilerplate,
    templated pages, licence headers — whose pair graphs grow
    quadratically in the clique size and drown every downstream graph
    fixpoint (PageRank/CC/triangles ride Σ deg², not Σ deg).  Capping
    per-node fanout bounds the edge count at ``max_degree x nodes`` while
    keeping each node's STRONGEST similarities, which is what the
    representative-selection and quality-propagation consumers actually
    use.  Deterministic: weights are pre-rounded (the lsh_near_dups
    lattice) and ties break by partner id, so the kept set is
    engine-portable and oracle-checkable.

    Scale shape: one symmetrize (linear), one (node)-keyed window, one
    canonical-pair dedup — no joins, no quadratic stage.
    Output: (doc_a, doc_b, <weight_col>) with doc_a < doc_b.
    """
    from pyspark.sql import Window

    sym = pairs.select(
        F.col("doc_a").alias("node"),
        F.col("doc_b").alias("partner"),
        F.col(weight_col).alias("w"),
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("node"),
            F.col("doc_a").alias("partner"),
            F.col(weight_col).alias("w"),
        )
    )
    wnd = Window.partitionBy("node").orderBy(F.desc("w"), F.asc("partner"))
    kept = (
        sym.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= max_degree)
    )
    return (
        kept.select(
            F.least("node", "partner").alias("doc_a"),
            F.greatest("node", "partner").alias("doc_b"),
            "w",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("w").alias(weight_col))
    )


#: edge-count bound under which connected components is solved driver-side.
#: 5M edges ~ 80 MB of longs — trivial for any driver; the LSH pair graph of
#: even a 100 TB corpus is usually far below this (pairs ≪ docs by design)
DRIVER_CC_MAX_EDGES = 5_000_000


def _union_find(edge_rows) -> dict[int, int]:
    """Path-compressed union-find; roots normalized to the component min."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def _cc_star_labels(pair_ids: DataFrame, max_iters: int = 30) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): (doc_id, label) for
    every node that appears in an edge, label = component minimum.

    Converges in O(log² n) rounds regardless of graph diameter — the
    extreme-scale swap for min-label propagation, whose round count IS the
    diameter (a 10⁶-long chain of near-dup shingled pages would take 10⁶
    min-label rounds but ~20 star rounds).  Each round is two
    node-keyed aggregations + co-keyed joins (large-star then small-star),
    localCheckpoint-ed so the self-referential lineage stays flat; skewed
    hub nodes are exactly the case large-star exists to split, and AQE
    handles the residual partition skew.
    """
    edges = (
        pair_ids.select(
            F.least("doc_a", "doc_b").alias("u"),
            F.greatest("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev = None
    for _ in range(max_iters):
        # large-star: every neighbor v > u links to min(N(u) ∪ {u})
        b = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = b.groupBy("u").agg(F.min("v").alias("mv"))
        m = m.select("u", F.least("mv", F.col("u")).alias("m"))
        large = (
            b.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: group by the LARGER endpoint; every smaller neighbor
        # (and the center) links to the minimum smaller neighbor
        e = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        sm = e.groupBy("u").agg(F.min("v").alias("mv"))
        small = (
            e.join(sm, "u")
            .select(F.col("v").alias("u"), F.col("mv").alias("v"))
            .union(sm.select("u", F.col("mv").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        edges = small
        sig = tuple(
            edges.agg(
                F.count("*"), F.sum("u"), F.sum("v")
            ).collect()[0]
        )
        if sig == prev:
            break
        prev = sig
    # converged: a forest of stars, every child points at the component min
    return edges.select(F.col("u").alias("doc_id"), F.col("v").alias("label")).union(
        edges.select(F.col("v").alias("doc_id"), F.col("v").alias("label")).distinct()
    ).distinct()


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = 0.5,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    n: int = 3,
    max_iters: int = 20,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
    cc_method: Literal["auto", "driver", "star"] = "auto",
    max_degree: int | None = None,
    collapse: bool | str = "auto",
    collapse_ratio: float = 0.8,
    quotient=None,
) -> DataFrame:
    """Near-duplicate cluster assignment: connected components over the
    near-dup pair graph, labelled by the minimum doc_id in each component.
    ``max_degree`` applies :func:`cap_pair_fanout` before the components
    run (the boilerplate-clique guard); note capping can SPLIT a weakly
    connected clique chain — the capped clustering is its own documented
    semantics, not an approximation of the uncapped one.

    Every document gets a row — singletons are their own cluster — so the
    output is the dedup decision table a pipeline keeps: group by
    ``cluster_id``, keep the representative (``doc_id == cluster_id``), drop
    the rest.

    Two execution paths, picked by the size of the PAIR graph (not the
    corpus): near-dup edges are a minuscule fraction of documents, so even
    huge corpora usually fit the driver path.

    - **Driver union-find** (≤ ``driver_max_edges``): collect the edge list,
      path-compressed union-find, broadcast the label map back.  One job +
      one broadcast join — no fixpoint loop, the shape production dedup
      pipelines use.
    - **Large-star/small-star** (larger graphs — the distributed path,
      :func:`_cc_star_labels`): O(log² n) rounds independent of graph
      diameter (Kiveris et al. 2014).

    ``cc_method``: "auto" (driver when the edge list fits, else star),
    or force "driver" / "star".

    ``collapse`` (default "auto"): reduce the pair graph to its TWIN-CLASS
    QUOTIENT first (``graph._twin_quotient`` — components are class-uniform
    and class ids are min member ids, so the quotient components carry the
    exact min-doc_id labels).  The chosen ``cc_method`` then runs on the
    class graph: a 27M-edge clone blow-up shrinks to a few thousand class
    edges, which the driver union-find swallows without a fixpoint loop.
    The probe backs off on diverse graphs and the expanded flow below is
    untouched.
    """
    if cc_method not in ("auto", "driver", "star"):
        raise ValueError(f"unknown cc_method {cc_method!r}")
    if (
        quotient is None
        and pairs is None
        and max_degree is None
        and collapse
        and cc_method in ("auto", "star")
    ):
        # no pair graph built yet and nothing (capping) breaks the text-
        # group twin structure: read the quotient straight off the dedup
        # collapse — the pair graph is never expanded at all
        quotient = lsh_near_dups_quotient(
            docs, threshold=threshold, k=k, bands=bands, n=n,
            collapse=collapse, collapse_ratio=collapse_ratio,
        )
    if quotient is not None and cc_method in ("auto", "star"):
        from .graph import _cc_from_twin_quotient

        labels = _cc_from_twin_quotient(
            docs, None, cc_method, driver_max_edges, max_iters,
            collapse, collapse_ratio, quotient=quotient,
        )
        return _finish_clusters(labels)
    if pairs is None:
        pairs = lsh_near_dups(docs, threshold=threshold, k=k, bands=bands, n=n)
    if max_degree is not None:
        pairs = cap_pair_fanout(pairs, max_degree)
    pair_ids = pairs.select("doc_a", "doc_b").cache()

    if collapse and cc_method in ("auto", "star"):
        from .graph import _cc_from_twin_quotient

        labels = _cc_from_twin_quotient(
            docs, pair_ids, cc_method, driver_max_edges, max_iters,
            collapse, collapse_ratio,
        )
        if labels is not None:
            pair_ids.unpersist()
            return _finish_clusters(labels)
    # stream the edge list straight off the (now materializing) cache — no
    # separate count() job; the cap decision falls out of how far the
    # iterator got.  Near-dup edge lists are minuscule next to the corpus,
    # so the driver path is the overwhelmingly common case and saving its
    # extra action is one whole LSH-pipeline materialization fewer.
    head: list[tuple[int, int]] = []
    overflow = cc_method == "star"
    if not overflow:
        for r in pair_ids.toLocalIterator():
            head.append((r["doc_a"], r["doc_b"]))
            if len(head) > driver_max_edges:
                if cc_method == "driver":
                    raise ValueError(
                        f"cc_method='driver' but edge list exceeds "
                        f"{driver_max_edges}"
                    )
                overflow = True
                break

    if not overflow:
        mapping = _union_find(iter(head))
        pair_ids.unpersist()
        spark = docs.sparkSession
        if mapping:
            label_df = spark.createDataFrame(
                list(mapping.items()), "doc_id long, label long"
            )
            labels = docs.join(F.broadcast(label_df), "doc_id", "left").select(
                "doc_id", F.coalesce("label", "doc_id").alias("label")
            )
        else:
            labels = docs.select("doc_id", F.col("doc_id").alias("label"))
    else:
        # distributed: large-star/small-star, O(log² n) rounds independent
        # of graph diameter
        lab = _cc_star_labels(pair_ids, max_iters=max_iters)
        pair_ids.unpersist()
        labels = docs.join(lab, "doc_id", "left").select(
            "doc_id", F.coalesce("label", "doc_id").alias("label")
        )
    return _finish_clusters(labels)


def _finish_clusters(labels: DataFrame) -> DataFrame:
    """(doc_id, label) -> (doc_id, cluster_id, cluster_size).  Cluster
    count ~ document count, so sizes must NOT be a broadcast side; one
    window over the label keeps it a single hash shuffle."""
    from pyspark.sql import Window

    w = Window.partitionBy("label")
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash over the token multiset: md5 per token, ``bits`` weighted
    bit-sums, sign -> bit.  Bits come from the top bit of each hex digit of
    the token's md5 (bit i from hex char i), so the oracle can mirror it
    with plain substr/instr arithmetic.  One digest carries 32 bits; widths
    up to 64 draw bits 32..63 from a second salted digest
    ``md5('1:' || token)``.  At ``bits=64`` the top bit's weight is
    Long.MIN_VALUE (two's complement: setting bit 63 == adding -2^63; the
    other 63 bits sum below 2^63, so the chain never overflows — the same
    argument holds in the BIGINT oracle, which adds the terms in the same
    ascending-bit order)."""
    if not 1 <= bits <= 64:
        raise ValueError("simhash supports 1..64 bits")
    toks = F.explode(F.split(F.col(text_col), " ")).alias("token")
    exploded = docs.select("doc_id", toks)
    counted = exploded.groupBy("doc_id", "token").agg(F.count("*").alias("w"))
    counted = counted.withColumn("h", F.md5("token"))
    if bits > 32:
        counted = counted.withColumn(
            "h2", F.md5(F.concat(F.lit("1:"), F.col("token")))
        )

    def _bit_char(i: int):
        return (
            F.substring("h", i + 1, 1)
            if i < 32
            else F.substring("h2", i - 31, 1)
        )

    bit_sums = [
        F.sum(
            F.col("w")
            * F.when(
                F.instr(F.lit("89abcdef"), _bit_char(i)) > 0, 1
            ).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    sums = counted.groupBy("doc_id").agg(*bit_sums)
    hash_val = None
    for i in range(bits):
        weight = F.lit(-(1 << 63)) if i == 63 else F.lit(1 << i)
        term = F.when(F.col(f"s{i}") >= 0, weight).otherwise(F.lit(0))
        hash_val = term if hash_val is None else hash_val + term
    return sums.select("doc_id", hash_val.cast("long").alias("simhash"))


def _collapsed_texts(
    docs: DataFrame,
    text_col: str,
    collapse: bool | str,
    collapse_ratio: float,
):
    """Distinct-TEXT collapse shared by the pair operators whose signatures,
    candidate keys AND verify all depend only on the text (LSH-Jaccard,
    edit-verify, simhash): exact-duplicate texts collapse to a min-id
    representative so the quadratic stages run once per distinct text
    pair.  ``collapse="auto"`` probes ``approx_count_distinct(hash(text))
    / count`` in one cheap pass.  Returns ``(base, members, collapsed)``:
    ``base`` is the relation the operator should run on (reps only when
    collapsed, with the member count ``m``), ``members`` maps every doc to
    its representative (None when not collapsed)."""
    from pyspark.sql import Window

    if collapse == "auto":
        probe = docs.agg(
            F.count("*").alias("total"),
            F.approx_count_distinct(F.xxhash64(F.col(text_col))).alias("distinct"),
        ).collect()[0]
        collapse = probe.total > 0 and probe.distinct / probe.total < collapse_ratio
    if not collapse:
        return docs, None, False
    # SCALAR window key: partitioning by the raw text column would make
    # multi-KB document bodies the shuffle+sort key — the measured-17x
    # defect class of the interim array-keyed set collapse (e526b4d).
    # md5(text) is the same negligible-collision class every other
    # md5-keyed stage here accepts (exact_dedup, curate's is_exact_dup);
    # the text rides along as payload only.
    w = Window.partitionBy(F.md5(F.col(text_col)))
    members = (
        docs.select("doc_id", text_col)
        .withColumn("rid", F.min("doc_id").over(w))
        .withColumn("m", F.count("*").over(w))
        .localCheckpoint(eager=False)
    )
    base = members.filter(F.col("doc_id") == F.col("rid")).select(
        "doc_id", text_col, "m"
    )
    return base, members, True


def _expand_member_pairs(
    rep_pairs: DataFrame, members: DataFrame, value_cols: list[str]
) -> DataFrame:
    """Fan a qualifying rep-pair relation back out to member pairs through
    two output-bound id joins.  Only valid for ORIENTATION-FREE value
    columns (jaccard, edit distance, hamming — symmetric in the two
    texts); asymmetric values must swap on flip like
    containment_prefix_pairs does inline."""
    ma = members.select(F.col("rid").alias("doc_a"), F.col("doc_id").alias("ia"))
    mb = members.select(F.col("rid").alias("doc_b"), F.col("doc_id").alias("ib"))
    return (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            *value_cols,
        )
    )


def _intra_member_pairs(
    base: DataFrame, members: DataFrame, eligible, value_exprs: list
) -> DataFrame:
    """All within-group member pairs for groups whose representative
    passes ``eligible``, with constant ``value_exprs`` (the identical-text
    values: jaccard 1.0, distance 0, hamming 0)."""
    return (
        base.filter((F.col("m") >= 2) & eligible)
        .select(F.col("doc_id").alias("rid"))
        .join(members.select("rid", F.col("doc_id").alias("ia")), "rid")
        .join(members.select("rid", F.col("doc_id").alias("ib")), "rid")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("doc_a"),
            F.col("ib").alias("doc_b"),
            *value_exprs,
        )
    )


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    bits: int = 16,
    bands: int = 4,
    collapse: bool | str = "auto",
    collapse_ratio: float = 0.8,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, band-blocked.

    Pigeonhole: with ``bands`` equal bit-slices, any pair within
    ``max_hamming < bands`` bit flips agrees EXACTLY on at least one slice,
    so candidates come from a (band, slice-value)-keyed equi-self-join —
    never an all-pairs scan — and only candidates pay the popcount verify.
    This is the standard Manku et al. 2007 (Google simhash dedup) layout;
    at 100 TB the corpus is written partitioned by (band, key) so the
    self-join co-locates.  Output: (doc_a, doc_b, hamming), verified.

    ``collapse`` (default "auto"): simhash depends only on the text, so
    exact-duplicate texts collapse to a representative (identical texts
    have hamming 0 — always within any non-negative ``max_hamming`` — and
    are emitted as within-group pairs directly; null-text groups emit
    nothing, matching the direct path's null-simhash join semantics).
    Distinct texts that happen to share a simhash remain ordinary cross
    pairs.  Output identical; the banded self-join runs on distinct texts
    only.
    """
    if max_hamming >= bands:
        raise ValueError("pigeonhole needs max_hamming < bands")
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    width = bits // bands
    mask = (1 << width) - 1
    base, members, collapsed = _collapsed_texts(
        docs, text_col, collapse, collapse_ratio
    )
    sh = simhash(base, text_col=text_col, bits=bits).cache()
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(mask)
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    rep_pairs = (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    if not collapsed:
        return rep_pairs
    # barrier: pin the hamming verify (and the banded self-join above it)
    # to the rep relation before the fan-out — finding 46
    rep_pairs = rep_pairs.localCheckpoint(eager=False)
    out = _expand_member_pairs(rep_pairs, members, ["hamming"])
    if max_hamming >= 0:
        out = out.unionByName(
            _intra_member_pairs(
                base,
                members,
                eligible=F.col(text_col).isNotNull(),
                value_exprs=[F.lit(0).cast("long").alias("hamming")],
            )
        )
    return out


def cross_source_dedup(
    docs: DataFrame,
    text_col: str = "text",
    priority: tuple[str, ...] = (),
) -> DataFrame:
    """Cross-dump exact dedup with source priority: documents with identical
    text form a group; the copy from the highest-priority source survives
    (then lowest doc_id — the multi-crawl "keep the curated dump's copy"
    rule every multi-source corpus build applies).

    ``priority`` lists sources best-first; unlisted sources rank after
    listed ones in lexicographic order, so the default () is a pure
    deterministic lexicographic rule.

    Output: doc_id, source, kept_doc_id, keep.  Scale shape: one
    hash-partition on the content hash + one window — linear, no joins.
    """
    rank = None
    for i, src in enumerate(priority):
        cond = F.col("source") == src
        rank = F.when(cond, i) if rank is None else rank.when(cond, i)
    rank = (
        F.lit(len(priority))
        if rank is None
        else rank.otherwise(F.lit(len(priority)))
    )
    from pyspark.sql import Window

    h = F.md5(F.col(text_col))
    w = Window.partitionBy("h").orderBy(
        rank.asc(), F.col("source").asc(), F.col("doc_id").asc()
    )
    return docs.select("doc_id", "source", h.alias("h")).select(
        "doc_id",
        "source",
        F.first("doc_id").over(w).alias("kept_doc_id"),
        (F.row_number().over(w) == 1).alias("keep"),
    )


def lsh_edit_verify(
    docs: DataFrame,
    max_rel_dist: float = 0.4,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    n: int = 3,
    text_col: str = "text",
    collapse: bool | str = "auto",
    collapse_ratio: float = 0.8,
) -> DataFrame:
    """MinHash-LSH candidates verified with TRUE EDIT DISTANCE instead of
    Jaccard: levenshtein runs only on the banded candidate pairs, so the
    O(len²) DP cost is confined to the candidate set the bands already
    bounded — the character-level verify for near-dup classes shingle
    Jaccard under-weights (small in-place edits, number/date drift).

    Keeps pairs with relative distance ≤ ``max_rel_dist`` (distance over
    the longer text).  Integer distances are engine-exact; the one ratio
    is rounded on the documented lattice.

    ``collapse`` (default "auto", distinct-ratio probed like the other
    pair operators): signatures, band collisions AND the DP all depend
    only on the TEXT, so exact-duplicate texts collapse to a min-id
    representative — the candidate join and every levenshtein run once
    per distinct TEXT pair, qualifying rep pairs expand to member pairs
    through two output-bound id joins, and within-group pairs emit
    distance 0 directly (identical texts always band-collide; the
    empty/null-text groups are excluded exactly as the direct path drops
    them: rel = 0/0 is null, a null signature never joins).  Output
    relation identical; on a clone-heavy corpus the DP count drops by the
    square of the duplication factor.
    """
    base, members, collapsed = _collapsed_texts(
        docs.select("doc_id", text_col), text_col, collapse, collapse_ratio
    )
    sigs = minhash_signatures_arrow(base, k=k, n=n, text_col=text_col).cache()
    cands = lsh_candidate_pairs(sigs, k=k, bands=bands)
    texts = base.select("doc_id", text_col)
    pairs = cands.join(
        texts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(text_col, "ta"),
        "doc_a",
    ).join(
        texts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(text_col, "tb"),
        "doc_b",
    )
    # exact-clone shortcut: levenshtein(x, x) = 0, and the O(len) equality
    # check dodges the O(len²) DP — on clone-heavy corpora (the common
    # near-dup regime) most candidate pairs take this branch (under
    # collapse the branch handles only hash-distinct-but-equal races; the
    # group structure already removed identical texts)
    dist = F.when(F.col("ta") == F.col("tb"), F.lit(0)).otherwise(
        F.levenshtein("ta", "tb")
    )
    longer = F.greatest(F.length("ta"), F.length("tb"))
    # two empty texts band-collide (identical real signatures) with
    # longer = 0: the ratio is undefined, the pair must DROP — and under
    # ANSI mode (Spark 4 default) a bare division would throw
    # DIVIDE_BY_ZERO instead; the when() makes the null explicit
    rel = F.when(longer > 0, dist / longer)
    rep_pairs = (
        pairs.withColumn("edit_distance", dist.cast("long"))
        .withColumn("rel_dist", F.round(rel + 1.23e-9, 6))
        .filter(F.col("rel_dist") <= max_rel_dist)
        .select("doc_a", "doc_b", "edit_distance", "rel_dist")
    )
    if not collapsed:
        return rep_pairs

    # BARRIER before expansion (PERF.md finding 46): without it the
    # runtime replan can re-evaluate the verify expressions once per
    # EXPANDED member pair instead of once per rep pair — the DP ran
    # multiplicity² times and the collapse's win evaporated (sf1 49.7s vs
    # 7s).  The lazy checkpoint pins verify values to the rep relation;
    # no job runs until the caller's first action.
    rep_pairs = rep_pairs.localCheckpoint(eager=False)
    out = _expand_member_pairs(rep_pairs, members, ["edit_distance", "rel_dist"])
    # identical texts: distance exactly 0, rel on the same rounding
    # lattice; groups with empty or null text emit nothing (the direct
    # path's 0/0-null filter and null-signature join semantics)
    intra = _intra_member_pairs(
        base,
        members,
        eligible=F.length(text_col) > 0,
        value_exprs=[
            F.lit(0).cast("long").alias("edit_distance"),
            F.round(F.lit(0.0) + 1.23e-9, 6).alias("rel_dist"),
        ],
    )
    out = out.unionByName(intra)
    # rel_dist 0.0 always passes (max_rel_dist >= 0 by contract), so no
    # re-filter of intra is needed; guard anyway for negative thresholds
    if max_rel_dist < 0:
        out = out.filter(F.col("rel_dist") <= max_rel_dist)
    return out
