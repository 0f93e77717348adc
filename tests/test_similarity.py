from __future__ import annotations

import math

from pyspark.sql import functions as F

from climate_data_pipelines_spark.catalog import load_table
from climate_data_pipelines_spark.operators import scale, similarity


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_known_geometry(spark):
    df = _vecs(
        spark,
        [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.01], 0),   # nearly parallel to 0
            (2, [0.0, 1.0], 0),    # orthogonal
            (3, [-1.0, 0.0], 0),   # opposite
        ],
    )
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = similarity.cosine_topk(df, q, k=3).orderBy("rank").collect()
    assert [r.vec_id for r in got] == [1, 2, 3]
    assert math.isclose(got[0].cosine, 1.0, abs_tol=1e-4)
    assert math.isclose(got[1].cosine, 0.0, abs_tol=1e-9)
    assert math.isclose(got[2].cosine, -1.0, abs_tol=1e-9)
    # query never matches itself
    assert all(r.vec_id != 0 for r in got)


def test_neardup_pairs_blocked(spark):
    df = _vecs(
        spark,
        [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.001], 0),
            (2, [1.0, 0.0], 1),  # identical but different block
        ],
    )
    pairs = similarity.embedding_neardup_pairs(df, threshold=0.99).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]


def test_lsh_signatures_null_vectors(spark):
    # ADVICE r4: None embeddings must yield NULL signatures (no bucket
    # rows after explode), not hash as the zero vector into the
    # all-ones bucket; an all-None batch must not raise StopIteration
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    sigs = df.select(
        "vec_id", similarity._lsh_signatures("embedding", 4, 3).alias("sig")
    ).collect()
    by_id = {r.vec_id: r.sig for r in sigs}
    assert by_id[1] is None
    assert by_id[0] is not None and len(by_id[0]) == 4
    # all-None input (single batch) returns null signatures, no error
    all_none = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<float>"
    ).repartition(1)
    got = all_none.select(
        similarity._lsh_signatures("embedding", 4, 3).alias("sig")
    ).collect()
    assert all(r.sig is None for r in got)
    # exploded buckets for a null vector: zero rows → excluded from joins
    n_bucket_rows = (
        df.filter(F.col("vec_id") == 1)
        .select(F.explode(similarity._lsh_signatures("embedding", 4, 3)))
        .count()
    )
    assert n_bucket_rows == 0


def test_ann_recall_against_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.cosine_topk(emb, q, k=10)
    approx = similarity.ann_lsh_topk(emb, q, k=10, n_planes=5, n_tables=8, multiprobe_bits=2)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    # multiprobe LSH (8 tables x 5 planes, Hamming-2 probes) on 500
    # vecs: require high recall of the exact top-k (q55 defaults —
    # measured 1.000 at sf0.1 with candidates only 1.36x the
    # Hamming-1 set on this clustered corpus)
    assert len(a & e) / len(e) >= 0.88
    # approx scores must equal exact scores for shared pairs (exact
    # cosine within bucket)
    es = {(r.query_id, r.vec_id): r.cosine for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.vec_id) in es:
            assert math.isclose(r.cosine, es[(r.query_id, r.vec_id)], abs_tol=1e-9)


def test_ivf_recall_against_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.cosine_topk(emb, q, k=10)
    approx = similarity.ann_ivf_topk(emb, q, k=10, n_cells=22, n_probe=15)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    # probing 15/22 cells of a spherical quantizer must recover most
    # of the exact top-k (the derive_ivf_params values for this
    # 500-vector fixture — q73's adaptive defaults)
    assert len(a & e) / len(e) >= 0.8
    # shared pairs score identically (exact cosine on candidates)
    es = {(r.query_id, r.vec_id): r.cosine for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.vec_id) in es:
            assert math.isclose(r.cosine, es[(r.query_id, r.vec_id)], abs_tol=1e-9)
    # never more than k results per query, ranks are 1..n
    per_q = {}
    for r in approx.collect():
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_derive_ivf_params_adaptive(spark, sf_dir):
    # nlist ≈ sqrt(N) with a broadcast-bounded cap; n_probe covers at
    # least nlist/4 AND enough cells for ~320 expected members — the
    # tiny-corpus rescue (fixed 12/32 gave recall 0.77 at 500 vecs)
    f = similarity.derive_ivf_params
    assert f(500) == (22, 15)          # member floor dominates
    assert f(2000, min_probed_frac=0.55) == (44, 25)  # fraction floor
    nc, np_ = f(50_000)
    assert nc == 223 and np_ == nc // 4  # fraction dominates
    nc_big, np_big = f(10**11)
    assert nc_big == 4096 and np_big == 1024  # cap holds
    # adaptive q73 path clears the 0.9 recall floor on the fixture
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id) for r in similarity.cosine_topk(emb, q, k=10).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.ann_ivf_topk(
            emb, q, k=10, n_cells=None, n_probe=None
        ).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.9


def test_label_centroids_elementwise_mean(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 4.0], 0),
            (3, [10.0, 20.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r.label: (r.centroid, r.n_vectors) for r in
           similarity.label_centroids(df).collect()}
    assert out[0][0] == [2.0, 3.0] and out[0][1] == 2
    assert out[1][0] == [10.0, 20.0] and out[1][1] == 1


def test_semantic_dedup_clusters_identical_vectors(spark):
    df = _vecs(
        spark,
        [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.0001], 0),   # semantically identical to 0
            (2, [0.0, 1.0], 0),      # orthogonal singleton
        ],
    )
    out = {r.vec_id: r for r in similarity.semantic_dedup(df, threshold=0.99).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0].cluster == out[1].cluster
    assert out[0].is_keeper and not out[1].is_keeper
    assert out[0].cluster_size == 2
    assert out[2].cluster_size == 1 and out[2].is_keeper


def test_semantic_dedup_pair_coverage_vs_exact(spark, sf_dir):
    # the fixture corpus has no natural near-dups at 0.99 (max pairwise
    # cosine ~0.48), so plant them: a slightly rescaled copy of each of
    # the first 40 vectors (per-dim scale drift -> cosine ~0.9999, not
    # bit-identical, so LSH planes with a thin margin CAN disagree)
    base = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    perturbed = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * (1.0 + 0.002 * (i % 3))
        ).cast("array<float>").alias("embedding"),
        "label",
    )
    emb = base.select("vec_id", "embedding", "label").unionByName(perturbed)
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_pairs(
            emb.withColumn("_one", F.lit(1)), block_col="_one", threshold=0.99
        ).collect()
    }
    assert len(exact) == 40, "each planted copy pairs with exactly its original"
    clusters = {
        r.vec_id: r.cluster
        for r in similarity.semantic_dedup(emb, threshold=0.99).collect()
    }
    covered = sum(1 for a, b in exact if clusters[a] == clusters[b])
    # LSH bucketing (8 tables x 5 planes) must recover >=80% of true
    # semantic pairs via same-cluster membership
    assert covered / len(exact) >= 0.8


def test_derive_lsh_planes_growth_and_floor():
    # constant-candidate contract: every corpus doubling costs ~one
    # extra plane; tiny corpora stay at the floor; the cap bounds it
    f = similarity.derive_lsh_planes
    assert f(0, 8) == 5 and f(48, 8) == 5           # floor
    p2k = f(2_000, 8)
    p200k = f(200_000, 8)
    p20m = f(20_000_000, 8)
    assert 5 <= p2k < p200k < p20m <= 24            # monotone growth
    # ~log2 slope: 100x corpus ≈ log2(100) ≈ 6.6 extra planes
    assert 5 <= p200k - p2k <= 8
    # expected candidates per member stay bounded at the derived depth
    for n, p in ((2_000, p2k), (200_000, p200k), (20_000_000, p20m)):
        per_member = 8 * (p + 1) * n / (2 ** p)
        assert per_member <= 96 * 1.05 or p == 24


def test_ann_lsh_adaptive_planes(spark, sf_dir):
    # n_planes=None derives depth from corpus size (same rule as
    # semantic_dedup); explicit corpus_n avoids the count() job
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.ann_lsh_topk(
        emb, q, k=5, n_planes=None, corpus_n=500, multiprobe_bits=1
    )
    rows = out.collect()
    assert 0 < len(rows) <= 10
    assert all(r.rank >= 1 for r in rows)


# ---------------------------------------------------------------------------
# product quantization ANN
# ---------------------------------------------------------------------------


def test_pq_codebooks_deterministic_shape():
    import numpy as np

    from climate_data_pipelines_spark.operators.similarity import _pq_codebooks

    rng = np.random.default_rng(3)
    sample = rng.standard_normal((256, 16))
    b1 = _pq_codebooks(sample, m=4, n_codes=8, seed=7)
    b2 = _pq_codebooks(sample, m=4, n_codes=8, seed=7)
    assert b1.shape == (4, 8, 4)
    assert (b1 == b2).all()  # bit-deterministic across calls


def test_pq_codebooks_rejects_indivisible_dim():
    import numpy as np
    import pytest as _pytest

    from climate_data_pipelines_spark.operators.similarity import _pq_codebooks

    with _pytest.raises(ValueError):
        _pq_codebooks(np.zeros((10, 10)), m=3, n_codes=2, seed=0)


def test_pq_topk_recall_vs_exact(spark, sf_dir):
    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {}
    for r in similarity.cosine_topk(emb, q, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = {}
    rows = similarity.pq_topk(emb, q, k=10).collect()
    for r in rows:
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9, f"recall {hits / total}"
    # re-ranked scores are EXACT cosines: rank-1 must match the exact
    # baseline's top hit per query
    top_exact = {}
    for r in similarity.cosine_topk(emb, q, k=1).collect():
        top_exact[r["query_id"]] = r["vec_id"]
    for r in rows:
        if r["rank"] == 1:
            assert top_exact[r["query_id"]] == r["vec_id"]


def test_cosine_zero_vector_scores_zero_not_nan(spark):
    """Spark orders NaN above every double: an unguarded 0/0 cosine
    would rank a zero embedding #1 for every query. It must score 0.0
    and never enter the top ranks."""
    from climate_data_pipelines_spark.operators import similarity

    rows = [(0, [0.0, 0.0, 0.0])] + [
        (i, [float(i), 1.0, 0.0]) for i in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    top = similarity.cosine_topk(df, q, k=3).collect()
    assert all(r["vec_id"] != 0 for r in top)
    assert all(r["cosine"] == r["cosine"] for r in top)  # no NaN


def test_semantic_decontaminate_planted_and_controls(spark, sf_dir):
    """Planted perturbed copies are all flagged and matched to their
    source vector; reversed-vector controls and untouched train rows
    never are (no false positives by construction)."""
    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.catalog import load_table, table_rows
    from climate_data_pipelines_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x, i: x * (1.0 + 0.002 * (i % 3)))
        .cast("array<float>")
        .alias("embedding"),
    )
    controls = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40)).select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    out = similarity.semantic_decontaminate(
        emb.select("vec_id", "embedding"),
        planted.unionByName(controls),
        threshold=0.99,
        corpus_n=table_rows(sf_dir, "embeddings"),
    ).collect()
    got = {r["vec_id"]: r["bench_id"] for r in out}
    # every planted source flagged, matched to ITS perturbed copy
    assert got == {v: v + 10000 for v in range(20)}
    assert all(r["cosine"] >= 0.99 for r in out)


def test_semantic_decontaminate_empty_bench(spark, sf_dir):
    """An empty benchmark flags nothing (and must not error on the
    empty bucket/probe joins)."""
    from climate_data_pipelines_spark.catalog import load_table, table_rows
    from climate_data_pipelines_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.semantic_decontaminate(
        emb, emb.filter("vec_id < 0"), threshold=0.9,
        corpus_n=table_rows(sf_dir, "embeddings"),
    )
    assert out.count() == 0


def test_kmeans_clusters_matches_numpy_reference(spark):
    """Distributed Lloyd must equal a driver-side numpy Lloyd run from
    the SAME deterministic init (k lowest xxhash64(id) rows): same
    per-iteration inertia (fp tolerance) and same final assignment."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = np.array([[5.0, 0.0, 0.0], [0.0, 5.0, 0.0], [0.0, 0.0, 5.0]])
    pts = np.concatenate(
        [centers[i] + 0.3 * rng.standard_normal((40, 3)) for i in range(3)]
    )
    rows = [(int(i), [float(x) for x in p], 0) for i, p in enumerate(pts)]
    df = _vecs(spark, rows)

    assigned, inertia = similarity.kmeans_clusters(
        df, k=3, iters=5
    )
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}

    # numpy twin from the same init rule
    ids = df.select(
        "vec_id", F.xxhash64(F.col("vec_id").cast("string")).alias("h")
    ).collect()
    seed_ids = [r["vec_id"] for r in sorted(ids, key=lambda r: (r["h"], r["vec_id"]))[:3]]
    # mirror the array<float> storage: float32 round-trip before f64 math
    X = pts.astype(np.float32).astype(np.float64)
    C = X[seed_ids].copy()
    ref_inertia = []
    for _ in range(5):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        ref_inertia.append(float(d2[np.arange(len(X)), a].sum()))
        for c in range(3):
            if (a == c).any():
                C[c] = X[a == c].mean(axis=0)
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    ref = d2.argmin(axis=1)

    assert len(inertia) == 5
    for s, r in zip(inertia, ref_inertia):
        assert math.isclose(s, r, rel_tol=1e-6), (s, r)
    assert all(inertia[i] <= inertia[i - 1] * (1 + 1e-9) for i in range(1, 5))
    # cluster LABELS are init-order on both sides, so they match 1:1
    assert got == {i: int(ref[i]) for i in range(len(X))}


def test_kmeans_aggregate_partials_match_direct(spark, monkeypatch):
    """Both partial-sum branches of scale.sum_partials drive the same
    Lloyd trajectory: the direct collect (default budget) and the
    (cluster, dim) aggregate (a zero "kmeans" budget) give equal
    assignments and inertia within 1e-9 relative."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = np.array([[4.0, 0.0], [0.0, 4.0], [-4.0, -4.0]])
    pts = np.concatenate(
        [centers[i] + 0.5 * rng.standard_normal((30, 2)) for i in range(3)]
    )
    df = _vecs(
        spark, [(int(i), [float(x) for x in p], 0) for i, p in enumerate(pts)]
    ).repartition(3)

    def fit():
        assigned, inertia = similarity.kmeans_clusters(df, k=3, iters=4)
        return {r["vec_id"]: r["cluster"] for r in assigned.collect()}, inertia

    direct, direct_inertia = fit()
    monkeypatch.setitem(scale.DRIVER_LOCAL_MAX, "kmeans", 0)
    agg, agg_inertia = fit()
    assert agg == direct
    assert len(direct) == len(pts)
    for a, d in zip(agg_inertia, direct_inertia):
        assert math.isclose(a, d, rel_tol=1e-9), (a, d)


def test_kmeans_skips_null_and_ragged_vectors(spark):
    df = _vecs(
        spark,
        [
            (0, [1.0, 0.0], 0),
            (1, [0.9, 0.1], 0),
            (2, None, 0),
            (3, [1.0, 0.0, 0.0], 0),  # ragged dim
            (4, [-1.0, 0.0], 0),
        ],
    )
    assigned, inertia = similarity.kmeans_clusters(df, k=2, iters=3)
    rows = assigned.collect()
    # dim is probed from the first non-empty vector (2 here): the
    # null and the 3-dim ragged row are excluded, never averaged in
    assert {r["vec_id"] for r in rows} == {0, 1, 4}
    assert all(r["cluster"] in (0, 1) for r in rows)
    assert inertia[-1] <= inertia[0] * (1 + 1e-9)


def test_kmeans_more_clusters_than_rows(spark):
    """k > n: the modulo-padded init duplicates centroids, which tie
    on argmin and leave clusters empty every round — the reseed path
    must neither IndexError nor duplicate the last farthest point
    across surplus clusters (ADVICE r12); clusters beyond the corpus
    size simply stay empty."""
    df = _vecs(
        spark,
        [
            (0, [0.0, 0.0], 0),
            (1, [10.0, 0.0], 0),
            (2, [0.0, 10.0], 0),
        ],
    )
    assigned, inertia = similarity.kmeans_clusters(df, k=8, iters=3)
    rows = assigned.collect()
    assert {r["vec_id"] for r in rows} == {0, 1, 2}
    # every point sits on its own centroid: inertia pinned at 0
    assert inertia[-1] <= inertia[0] * (1 + 1e-9)


def test_cluster_balanced_mix_caps_dominant_mode(spark):
    """A corpus dominated by one semantic mode must come out
    rebalanced: the dominant cluster is cut to the cap, sparse
    clusters keep everything, and kept members are the most central
    (smallest d2) of their cluster."""
    import numpy as np

    rng = np.random.default_rng(11)
    dom = np.array([10.0, 0.0]) + 0.1 * rng.standard_normal((80, 2))
    rare = np.array([-10.0, 0.0]) + 0.1 * rng.standard_normal((8, 2))
    pts = np.concatenate([dom, rare])
    df = _vecs(spark, [(int(i), [float(x) for x in p], 0) for i, p in enumerate(pts)])

    out = similarity.cluster_balanced_mix(
        df, k=2, iters=4, per_cluster_cap=20
    ).collect()
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    counts = sorted(len(v) for v in by_cluster.values())
    assert counts == [8, 20]  # dominant capped, rare intact
    big = max(by_cluster.values(), key=len)
    assert all(r["cluster_n"] == 80 for r in big)
    # kept 20 are the 20 smallest-d2 members: all kept d2 <= cap-th
    # overall is hard to check without full table; at least verify
    # they're tightly central relative to the mode's noise scale
    assert max(r["d2"] for r in big) <= 0.1


def test_pca_fit_matches_numpy_and_recovers_structure(spark):
    """Distributed sufficient-statistics PCA == numpy PCA on the same
    data, and on data with one dominant direction the first component
    recovers it with most of the variance."""
    import numpy as np

    rng = np.random.default_rng(3)
    # variance 25 along a fixed axis u, ~1 isotropic noise
    u = np.array([3.0, 4.0, 0.0, 0.0]) / 5.0
    X = np.outer(5.0 * rng.standard_normal(200), u) + 0.5 * rng.standard_normal(
        (200, 4)
    )
    df = _vecs(
        spark,
        [(int(i), [float(v) for v in row], 0) for i, row in enumerate(X)],
    ).withColumnRenamed("embedding", "embedding")

    comps, mean, evr = similarity.pca_fit(df, n_components=2)
    Xf = X.astype(np.float32).astype(np.float64)  # array<float> storage
    mu = Xf.mean(axis=0)
    cov = (Xf.T @ Xf) / len(Xf) - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:2]
    ref = evecs[:, order].T
    for i in range(2):
        j = int(np.abs(ref[i]).argmax())
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert np.abs(comps - ref).max() < 1e-7
    assert np.abs(mean - mu).max() < 1e-7
    # dominant direction recovered (up to the canonical sign)
    assert abs(float(np.abs(comps[0] @ u))) > 0.99
    assert evr[0] > 0.9 and evr[0] >= evr[1]

    # projection parity + null/ragged handling
    out = similarity.pca_project(df, comps, mean).orderBy("vec_id").collect()
    P = (Xf - mu) @ comps.T
    for i, r in enumerate(out):
        assert np.abs(np.asarray(r["pca"]) - P[i]).max() < 1e-7


def test_pca_fit_fold_is_chunked_and_grouped(spark):
    """The sufficient-statistics reduce must never funnel wide
    (dim²-cell) partials through one reducer (r11 verdict item 1):
    the gram is emitted chunked by row and folded by ONE groupBy(i)
    Arrow fold — dim-way reducer parallelism, small cells. Asserted
    on the plan pca_fit ACTUALLY executed (the _LAST_FIT_PLAN audit
    hook)."""
    import numpy as np

    rng = np.random.default_rng(7)
    X = rng.standard_normal((64, 4))
    df = _vecs(
        spark,
        [(int(i), [float(v) for v in row], 0) for i, row in enumerate(X)],
    ).repartition(8)
    similarity.pca_fit(df, n_components=2)
    plan = similarity._LAST_FIT_PLAN
    # default path (P <= prefold_threshold): exactly one Arrow fold,
    # keyed on the gram-row index i
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert plan.count("Exchange hashpartitioning(i#") == 1
    # the kernel feeds the grouped fold (never a global single
    # partition: no SinglePartition exchange anywhere in the fit)
    assert plan.index("MapInPandas") > plan.index(
        "Exchange hashpartitioning(i#"
    )
    assert "Exchange SinglePartition" not in plan

    # high-partition-count path (P > prefold_threshold): a
    # (i, partition%64)-keyed pre-fold bounds both reducer levels;
    # same math, numpy parity re-asserted on the same fixture
    comps2, mean2, _evr2 = similarity.pca_fit(
        df, n_components=2, prefold_threshold=2
    )
    plan2 = similarity._LAST_FIT_PLAN
    assert plan2.count("FlatMapGroupsInPandas") == 2
    assert plan2.count("Exchange hashpartitioning(i#") == 2
    assert "SPARK_PARTITION_ID() % 64" in plan2
    assert "Exchange SinglePartition" not in plan2
    comps1, mean1, _evr1 = similarity.pca_fit(df, n_components=2)
    assert np.abs(comps2 - comps1).max() < 1e-9
    assert np.abs(mean2 - mean1).max() < 1e-9


def test_pca_project_nulls_stay_null(spark):
    import numpy as np

    df = _vecs(
        spark,
        [(0, [1.0, 0.0], 0), (1, None, 0), (2, [0.0, 1.0], 0)],
    )
    comps = np.array([[1.0, 0.0]])
    mean = np.array([0.0, 0.0])
    rows = {r["vec_id"]: r["pca"] for r in similarity.pca_project(df, comps, mean).collect()}
    assert rows[1] is None
    assert rows[0] == [1.0] and rows[2] == [0.0]


def test_kmeans_assign_frame_matches_column_kernel(spark):
    # the mapInArrow flat-buffer kernel must equal the pandas_udf
    # column kernel bitwise — including the defensive path for
    # null/ragged vectors (cluster -1, d2 null)
    import numpy as np

    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [4.0, 5.0, 6.0]),
        (2, None),
        (3, [7.0, 8.0]),  # ragged
        (4, [0.5, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    C = np.array([[1.0, 2.0, 3.0], [7.0, 8.0, 9.0]])
    col_out = sorted(
        (r["vec_id"], r["a"]["cluster"], r["a"]["d2"])
        for r in df.select(
            "vec_id",
            similarity._kmeans_assign("embedding", C).alias("a"),
        ).collect()
    )
    frame_out = sorted(
        (r["vec_id"], r["cluster"], r["d2"])
        for r in similarity._kmeans_assign_frame(
            df, "vec_id", "embedding", C, keep_vec=False
        ).collect()
    )
    assert col_out == frame_out
    assert dict((i, c) for i, c, _ in frame_out)[2] == -1
    assert dict((i, c) for i, c, _ in frame_out)[3] == -1
