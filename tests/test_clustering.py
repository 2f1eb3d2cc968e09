"""Lloyd's k-means: hand-computed convergence + determinism contracts."""

from biggraphite_spark.operators.clustering import assign_clusters, kmeans


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_separates_two_obvious_blobs(spark):
    df = _emb(
        spark,
        [
            (1, [0.0, 0.0]),
            (2, [0.1, 0.0]),
            (3, [0.0, 0.1]),
            (4, [10.0, 10.0]),
            (5, [10.1, 10.0]),
            (6, [10.0, 10.1]),
        ],
    )
    out = {r["vec_id"]: r["cluster"] for r in kmeans(df, k=2, iters=3).collect()}
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5] == out[6]
    assert out[1] != out[4]


def test_kmeans_assignment_tie_breaks_to_lowest_cluster(spark):
    # both centroids equidistant from the probe
    df = _emb(spark, [(1, [0.0]), (2, [2.0]), (3, [1.0])])
    assigned = assign_clusters(
        df, [(0, [0.0]), (1, [2.0])]
    ).collect()
    probe = next(r for r in assigned if r["vec_id"] == 3)
    assert probe["cluster"] == 0 and probe["dist"] == 1.0


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # k=2 over two identical points: init centroids are both [0,0]-ish and
    # every point lands in cluster 0 — cluster 1 must survive with its
    # original centroid instead of NaN-ing out
    df = _emb(spark, [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [5.0, 5.0])])
    out = kmeans(df, k=2, iters=2).collect()
    assert {r["cluster"] for r in out} == {0, 1}


def test_kmeans_deterministic_across_runs(spark):
    df = _emb(
        spark,
        [(i, [float(i % 7), float((3 * i) % 5)]) for i in range(1, 40)],
    )
    a = sorted((r["vec_id"], r["cluster"]) for r in kmeans(df, k=3, iters=2).collect())
    b = sorted((r["vec_id"], r["cluster"]) for r in kmeans(df, k=3, iters=2).collect())
    assert a == b


def test_assignment_plan_has_no_join_or_shuffle(spark):
    # centroids are plan literals: the assignment pass must be a pure
    # projection over the scan — no join, no exchange
    df = _emb(spark, [(1, [0.0, 0.0]), (2, [1.0, 1.0])])
    plan = (
        assign_clusters(df, [(0, [0.0, 0.0]), (1, [1.0, 1.0])])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "Exchange" not in plan


def test_semantic_dedup_drops_near_identical_keeps_lowest_id(spark):
    from biggraphite_spark.operators.clustering import semantic_dedup

    df = _emb(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.999, 0.001]),   # ~same direction as 1 -> dropped
            (3, [0.0, 1.0]),
            (4, [10.0, 10.3]),
            (5, [9.9, 10.2]),      # same cell as 4, ~same direction -> dropped
        ],
    )
    out = {r["vec_id"]: r for r in semantic_dedup(df, k=2, iters=2, threshold=0.999).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False
    assert out[3]["keep"] is True
    # 4 and 5 share a cell and direction; the lower id (4) survives
    assert out[4]["keep"] is True
    assert out[5]["keep"] is False


def test_semantic_dedup_pairs_never_cross_clusters(spark):
    from biggraphite_spark.operators.clustering import semantic_dedup

    # identical vectors forced into different clusters cannot dedup each
    # other; k=2 with these two blobs puts each pair in its own cell
    df = _emb(
        spark,
        [(1, [0.0, 1.0]), (2, [100.0, 1.0]), (3, [0.0, 2.0]), (4, [200.0, 2.0])],
    )
    out = semantic_dedup(df, k=2, iters=3, threshold=0.999).collect()
    by_id = {r["vec_id"]: r for r in out}
    # 1/3 share a cell (same direction) -> 3 drops; 2/4 nearly same direction
    assert by_id[1]["keep"] is True and by_id[3]["keep"] is False


def test_semantic_dedup_block_salting_preserves_pairs(spark):
    """The block-salted pair join is a pure plan change: every qualifying
    within-cluster pair meets exactly once whatever the block count, so
    the keep-set is identical at blocks=1 (the unsalted shape), the
    default, and a block count larger than any cluster."""
    from biggraphite_spark.operators.clustering import (
        _semantic_dedup_arrow,
        _semantic_dedup_join,
    )

    import random

    rng = random.Random(7)
    rows = []
    for i in range(60):
        base = [1.0, 0.0] if i % 2 else [0.0, 1.0]
        rows.append((i, [v + rng.random() * 1e-4 for v in base]))
    df = _emb(spark, rows)
    outs = [
        sorted(
            (r["vec_id"], r["cluster"], r["keep"])
            for r in fn(
                df, 2, 2, 0.999, "vec_id", "embedding", blocks=b
            ).collect()
        )
        for b in (1, None, 17)
        for fn in (_semantic_dedup_join, _semantic_dedup_arrow)
    ]
    assert all(o == outs[0] for o in outs[1:])
    assert any(not keep for _, _, keep in outs[0])  # the dedup actually fired


def test_semantic_dedup_arrow_equals_expr(spark):
    """The Arrow pair stage and the join+filter reference are bit-exact
    twins (same fold order, same HALF_UP rounding): identical keep-sets."""
    from biggraphite_spark.operators.clustering import (
        _semantic_dedup_arrow,
        _semantic_dedup_join,
    )

    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(90)
    ] + [(100 + i, [v * 1.0001 for v in r[1]]) for i, r in enumerate(
        [(j, [rng.uniform(-1, 1) for _ in range(8)]) for j in range(30)]
    )]
    df = _emb(spark, rows)
    got = {
        fn.__name__: sorted(
            (r["vec_id"], r["cluster"], r["keep"])
            for r in fn(df, 3, 2, 0.98, "vec_id", "embedding").collect()
        )
        for fn in (_semantic_dedup_join, _semantic_dedup_arrow)
    }
    assert got["_semantic_dedup_join"] == got["_semantic_dedup_arrow"]


def test_semantic_dedup_clone_collapse_matches_brute_force(spark):
    """The arrow path's exact-duplicate collapse (min-id representative per
    (cluster, vector) group enters the pair stage; members inherit the
    drop) is a pure optimization: on a heavily clone-replicated corpus —
    the regime it exists for — the keep-set matches the brute-force
    join+filter reference exactly, including across interleaved group
    ids."""
    from biggraphite_spark.operators.clustering import (
        _semantic_dedup_join,
        semantic_dedup,
    )

    import random

    rng = random.Random(23)
    distinct = [
        [rng.uniform(-1, 1) for _ in range(6)] for _ in range(12)
    ]
    # 12 distinct vectors x 15 interleaved exact copies + a few near-dups
    rows = [
        (g + 12 * c, distinct[g]) for c in range(15) for g in range(12)
    ] + [
        (1000 + g, [v * 1.00005 for v in distinct[g]]) for g in range(6)
    ]
    df = _emb(spark, rows)
    got = sorted(
        (r["vec_id"], r["cluster"], r["keep"])
        for r in semantic_dedup(df, k=3, iters=2, threshold=0.98).collect()
    )
    ref = sorted(
        (r["vec_id"], r["cluster"], r["keep"])
        for r in _semantic_dedup_join(
            df, 3, 2, 0.98, "vec_id", "embedding"
        ).collect()
    )
    assert got == ref
    kept = [vid for vid, _, keep in got if keep]
    # every clone group collapses to exactly its lowest id (vec_ids 0..11),
    # and the scaled near-dups (cos ~ 1) are dropped against them
    assert set(kept) == set(range(12))


def test_kmeans_arrow_equals_expr(spark):
    """assign_clusters_arrow (the kernel kmeans runs) is a bit-exact twin
    of the Column form assign_clusters: same clusters and distances on a
    random corpus, through every refinement round, and on assignment ties
    — exact ties, ties created by the 6-digit rounding, and centroids
    listed out of index order all go to the lowest cluster index."""
    from biggraphite_spark.operators.clustering import (
        _fit_centroids,
        assign_clusters_arrow,
    )

    import random

    def rows(fn, df, centroids):
        return sorted(
            (r["vec_id"], r["cluster"], r["dist"])
            for r in fn(df, centroids).collect()
        )

    rng = random.Random(13)
    df = _emb(
        spark,
        [(i, [rng.uniform(-2, 2) for _ in range(6)]) for i in range(120)],
    )
    fits = {
        fn: _fit_centroids(df, 4, 3, assign=fn)
        for fn in (assign_clusters, assign_clusters_arrow)
    }
    assert fits[assign_clusters] == fits[assign_clusters_arrow]
    cents = fits[assign_clusters]
    assert rows(assign_clusters_arrow, df, cents) == rows(assign_clusters, df, cents)
    got = sorted(tuple(r) for r in kmeans(df, k=4, iters=3).collect())
    assert got == rows(assign_clusters, df, cents)

    ties = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0000001, 0.0]), (3, [1.0, 5.0]), (4, [3.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    for cents in (
        [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [2.0, 0.0])],
        [(2, [2.0, 0.0]), (1, [2.0, 0.0]), (0, [0.0, 0.0])],
    ):
        want = rows(assign_clusters, ties, cents)
        assert rows(assign_clusters_arrow, ties, cents) == want
        assert [c for _, c, _ in want] == [0, 0, 0, 1]


def test_round_half_up_vectorized_matches_spark_semantics():
    """The vectorized round is Spark's F.round: HALF_UP on the
    shortest-decimal repr, including the boundary cases where binary
    rounding and decimal rounding split."""
    import numpy as np

    from biggraphite_spark.operators.vectorized import (
        _round_half_up_scalar,
        round_half_up,
    )

    vals = np.array(
        [
            0.1234565,        # repr sits exactly on the half boundary
            0.12345649999999999,
            -0.1234565,       # HALF_UP is away from zero
            2.5e-06, 1.5e-06, 0.9499950, 0.9499949999,
            1.0, 0.0, 123456.9999995, float("nan"), float("inf"),
        ]
    )
    got = round_half_up(vals, 6)
    for v, g in zip(vals, got):
        if np.isnan(v):
            assert np.isnan(g)
        elif np.isinf(v):
            assert np.isinf(g)
        else:
            assert g == _round_half_up_scalar(float(v), 6), repr(v)


def test_round_half_up_boundary_large_magnitude():
    """Half-boundary values at magnitudes where ulp(x*10^6) > 1e-8: the
    tie-detection tolerance must scale with float spacing or the Decimal
    fallback is skipped and the binary fast path misrounds (e.g.
    2098.9539385 -> 2098.953938 instead of 2098.953939)."""
    import numpy as np

    from biggraphite_spark.operators.vectorized import (
        _round_half_up_scalar,
        round_half_up,
    )

    rng = np.random.default_rng(8)
    ints = rng.integers(46, 5000, size=20000)
    decs = rng.integers(0, 10**6, size=20000)
    vals = np.array(
        [float(f"{i}.{d:06d}5") for i, d in zip(ints, decs)]
    )
    got = round_half_up(vals, 6)
    expect = np.array([_round_half_up_scalar(float(v), 6) for v in vals])
    bad = np.flatnonzero(got != expect)
    assert bad.size == 0, [repr(float(vals[i])) for i in bad[:5]]
    # the documented regression value from the round-7 advisory
    one = round_half_up(np.array([2098.9539385]), 6)[0]
    assert one == _round_half_up_scalar(2098.9539385, 6)


def test_round_half_up_nonfinite_no_warning():
    """inf/nan inputs pass through without RuntimeWarning (the frac
    computation is inf-inf = nan without the errstate guard)."""
    import warnings

    import numpy as np

    from biggraphite_spark.operators.vectorized import round_half_up

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = round_half_up(
            np.array([float("inf"), float("-inf"), float("nan"), 1.5e-6]), 6
        )
    assert np.isposinf(got[0]) and np.isneginf(got[1]) and np.isnan(got[2])
    assert got[3] == 2e-6


def test_embedding_neardup_collapse_matches_direct_join(spark):
    """embedding_near_dups' exact-duplicate collapse (rep-pair cosines +
    member expansion) emits the IDENTICAL pair relation as the direct
    in-bucket member join — same pairs, bit-identical sims — on a
    clone-replicated corpus with cross-group near-dups (scaled twins land
    in the same sign bucket with cosine ~ 1) and within-group pairs."""
    import random

    from biggraphite_spark.operators.similarity import embedding_near_dups

    rng = random.Random(41)
    distinct = [[rng.uniform(-1, 1) for _ in range(6)] for _ in range(10)]
    rows = [
        (g + 10 * c, distinct[g]) for c in range(8) for g in range(10)
    ] + [
        (500 + g, [v * 1.00005 for v in distinct[g]]) for g in range(5)
    ]
    df = _emb(spark, rows)
    hp = [[rng.uniform(-1, 1) for _ in range(6)] for _ in range(3)]
    got = {
        mode: sorted(
            (r["id_a"], r["id_b"], r["sim"])
            for r in embedding_near_dups(
                df, hp, threshold=0.98, collapse_exact=mode
            ).collect()
        )
        for mode in (True, False, "auto")
    }
    # the clone-replicated fixture (8x multiplicity) must trip the auto
    # probe into the collapse path AND all three modes must agree
    assert got[True] == got[False] == got["auto"]
    # sanity: the fixture really exercises both pair kinds
    pairs = {(a, b) for a, b, _ in got[True]}
    assert any(a < 100 and b < 100 for a, b in pairs)      # within-group
    assert any(b >= 500 for _, b in pairs)                 # cross-group


def test_embedding_neardup_auto_probe_skips_collapse_on_diverse_corpus(spark):
    """collapse_exact='auto' on an all-distinct corpus must pick the direct
    join (no rep machinery) and still emit the same relation as both forced
    modes — the adaptive gate is physical only."""
    import random

    from biggraphite_spark.operators.similarity import embedding_near_dups

    rng = random.Random(42)
    base = [[rng.uniform(-1, 1) for _ in range(6)] for _ in range(40)]
    rows = [(i, base[i]) for i in range(40)] + [
        (100 + i, [v * 1.00005 for v in base[i]]) for i in range(10)
    ]
    df = _emb(spark, rows)
    hp = [[rng.uniform(-1, 1) for _ in range(6)] for _ in range(3)]
    got = {
        mode: sorted(
            (r["id_a"], r["id_b"], r["sim"])
            for r in embedding_near_dups(
                df, hp, threshold=0.98, collapse_exact=mode
            ).collect()
        )
        for mode in (True, False, "auto")
    }
    assert got[True] == got[False] == got["auto"]
    assert len(got["auto"]) >= 10
