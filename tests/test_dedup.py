from __future__ import annotations

from pyspark.sql import functions as F

from climate_data_pipelines_spark.operators import dedup, scale


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "a"),
    (2, "the quick brown fox jumps over the lazy dog", "a"),  # exact dup of 1
    (3, "The  quick  brown fox jumps over the lazy dog", "a"),  # normalized dup
    (4, "completely different content about the spark engines", "a"),
    (5, "the quick brown fox jumps over the lazy cat", "a"),  # near dup of 1
    (6, "unrelated text in another block entirely here", "b"),
]


def test_exact_dedup_keeps_min_id_per_normalized_content(spark):
    df = _docs(spark, DOCS)
    kept = dedup.exact_dedup(df).select("doc_id").rdd.map(lambda r: r[0]).collect()
    # 1,2,3 normalize to the same content → keeper is 1
    assert sorted(kept) == [1, 4, 5, 6]
    keys = dedup.exact_dedup_keys(df)
    assert keys.filter(F.col("n_dupes") == 3).first().keep_id == 1


def test_exact_dedup_preserves_user_hbin_column(spark):
    """ADVICE r13: the staging digest column must not clobber a
    same-named user column — exact_dedup/exact_dedup_best stage under
    a collision-free name and return the user's _hbin intact."""
    df = spark.createDataFrame(
        [(1, "same text", "keep-me-1", 5.0), (2, "same text", "keep-me-2", 9.0)],
        "doc_id long, text string, _hbin string, score double",
    )
    kept = dedup.exact_dedup(df).collect()
    assert len(kept) == 1
    assert kept[0]["_hbin"] == "keep-me-1"
    best = dedup.exact_dedup_best(df, score_col="score").collect()
    assert len(best) == 1
    assert best[0]["_hbin"] == "keep-me-2"  # highest score wins


def test_minhash_identical_docs_share_signature(spark):
    df = _docs(spark, DOCS)
    sigs = {r.doc_id: tuple(r[i] for i in range(1, 9)) for r in
            dedup.minhash_signatures(df, k=3, n_hashes=8).collect()}
    assert sigs[1] == sigs[2]
    # near-dup shares most minhashes, different doc shares few
    shared_near = sum(a == b for a, b in zip(sigs[1], sigs[5]))
    shared_far = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert shared_near > shared_far


def test_lsh_candidates_contain_exact_pair(spark):
    df = _docs(spark, DOCS)
    sigs = dedup.minhash_signatures(df, k=3, n_hashes=8)
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_candidates(sigs).collect()}
    assert (1, 2) in pairs
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard_identical_is_one(spark):
    df = _docs(spark, DOCS)
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, k=1, block_col="source", threshold=0.0).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 6) not in pairs  # different block never compared
    assert 0.0 < pairs[(1, 4)] < pairs[(1, 5)] <= 1.0


def test_simhash_identical_equal_near_close(spark):
    df = _docs(spark, DOCS)
    sh = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert sh[1] == sh[2]

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sh[1], sh[5]) < hamming(sh[1], sh[6])


def test_dedup_rows_deterministic_keeper(spark):
    df = spark.createDataFrame(
        [(1, "b", 2.0), (1, "a", 9.0), (2, "z", 1.0)], "k long, s string, v double"
    )
    out = {r.k: (r.s, r.v) for r in dedup.dedup_rows(df, ["k"]).collect()}
    assert out[1] == ("a", 9.0)  # min struct by (s, v)
    assert out[2] == ("z", 1.0)


def test_minhash_lsh_ml_finds_near_dup_pair(spark):
    df = _docs(spark, DOCS)
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_ml(df, max_jaccard_distance=0.5).collect()
    }
    # exact dups (1,2) must surface; ids are ordered a < b
    assert (1, 2) in pairs
    assert all(a < b for a, b in pairs)
    # unrelated doc 6 should not pair with doc 1 at distance <= 0.5
    assert (1, 6) not in pairs


def test_connected_components_chain_and_singletons(spark):
    # chain 1-2-3-...-8 forces multiple propagation rounds; 20, 30 isolated
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)] + [(11, 12)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(1, 9)) + [11, 12, 20, 30]], "doc_id long"
    )
    out = {
        r.node: r.component
        for r in dedup.connected_components(edges, nodes).collect()
    }
    assert all(out[i] == 1 for i in range(1, 9))
    assert out[11] == 11 and out[12] == 11
    assert out[20] == 20 and out[30] == 30


def test_connected_components_local_vs_distributed_parity(spark, monkeypatch):
    # the driver-local union-find fast path must produce EXACTLY the
    # distributed min-label propagation's output on the same graph —
    # chains, merges, duplicate/reversed edges, and singletons
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)]
        + [(11, 12), (12, 11), (11, 12), (40, 41), (42, 41), (40, 42)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(1, 9)) + [11, 12, 20, 40, 41, 42]],
        "doc_id long",
    )
    local = sorted(
        (r.node, r.component)
        for r in dedup.connected_components(edges, nodes).collect()
    )
    monkeypatch.setitem(scale.DRIVER_LOCAL_MAX, "cc", 0)
    dist = sorted(
        (r.node, r.component)
        for r in dedup.connected_components(edges, nodes).collect()
    )
    assert local == dist
    assert dict(local)[42] == 40


def test_connected_components_local_build_runs_at_most_one_job(spark):
    # the edge rows' lazy checkpoint is materialized by the capped
    # Arrow collect that sizes and fetches them (scale.fetch_at_most):
    # one job, where a count ahead of the fetch ran three
    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 11)], "id_a long, id_b long"
    )
    group = "cc-local-build"
    sc.setJobGroup(group, "connected_components driver-local build")
    try:
        labels = dedup.connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(list(sc.statusTracker().getJobIdsForGroup(group))) <= 1
    assert {r.component for r in labels.collect()} == {1}


def _drop_ids(edges, **kw):
    return sorted(r[0] for r in dedup.component_drop_ids(edges, **kw).collect())


def test_component_drop_ids_both_branches(spark, monkeypatch):
    # the drop set is every endpoint that is not its component's min
    # id, the same on the driver-local and the distributed branch:
    # chains, merges, duplicate and reversed edges
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)]
        + [(11, 12), (12, 11), (11, 12), (40, 41), (42, 41), (40, 42)],
        "id_a long, id_b long",
    )
    expected = list(range(2, 9)) + [12, 41, 42]
    labels = dedup.connected_components(edges).collect()
    assert sorted(r.node for r in labels if r.node != r.component) == expected
    assert _drop_ids(edges) == expected
    monkeypatch.setitem(scale.DRIVER_LOCAL_MAX, "cc", 0)
    assert _drop_ids(edges) == expected


def test_component_drop_ids_cross_edges_drop_their_id_a_only(spark, monkeypatch):
    # a cross edge drops its id_a outright and joins no component: were
    # (2, 0) a component edge, 0 would be the min and 1 would drop too
    edges = spark.createDataFrame(
        [(1, 2, False), (2, 3, False), (2, 0, True), (5, 101, True), (5, 102, True)],
        "id_a long, id_b long, cross boolean",
    )
    for cap in (scale.DRIVER_LOCAL_MAX["cc"], 0):
        monkeypatch.setitem(scale.DRIVER_LOCAL_MAX, "cc", cap)
        assert sorted(set(_drop_ids(edges, cross_col="cross"))) == [2, 3, 5]


def test_component_drop_ids_under_the_cap_is_a_broadcast_local_frame(spark):
    # under the cap the set is built on the driver: the anti-join
    # broadcasts it with automatic broadcasts off, and an empty edge
    # table gives an empty set the optimizer prunes
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    docs = spark.createDataFrame([(i,) for i in range(1, 6)], "node long")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        kept = docs.join(dedup.component_drop_ids(edges), "node", "left_anti")
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
        assert sorted(r.node for r in kept.collect()) == [1, 4, 5]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    none = dedup.component_drop_ids(edges.limit(0))
    assert docs.join(none, "node", "left_anti").count() == 5


def test_connected_components_transitive_merge(spark):
    # A~B and B~C but never A~C: all three must share one component
    edges = spark.createDataFrame([(3, 2), (2, 1)], "id_a long, id_b long")
    out = {r.node: r.component for r in dedup.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_connected_components_raises_when_iteration_bound_hit(spark, monkeypatch):
    # a 6-node chain needs ~3 min-label rounds; max_iter=1 must raise
    # instead of silently returning split components
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    # a zero driver-local budget pins the DISTRIBUTED path: the
    # driver-local union-find (default for graphs this small) always
    # converges
    monkeypatch.setitem(scale.DRIVER_LOCAL_MAX, "cc", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iter=1)


def test_exact_dedup_best_keeps_highest_score_then_min_id(spark):
    # same normalized content for ids 1/2/3; id 2 has the top score;
    # ids 4/5 tie on score -> min id 4 wins
    df = spark.createDataFrame(
        [
            (1, "same text", 5),
            (2, "Same  TEXT", 9),
            (3, "same text ", 7),
            (4, "other", 3),
            (5, "OTHER", 3),
        ],
        "doc_id long, text string, score long",
    )
    kept = sorted(
        r.doc_id for r in dedup.exact_dedup_best(df, "score").collect()
    )
    assert kept == [2, 4]


def test_minhash_wide_family(spark):
    # n_hashes > 8 comes from additional salted sha256 digests (two
    # (h1,h2) pairs per digest), with hash index i striped to family
    # i % n_fam so LSH band rows span distinct families (the r5 band-
    # independence fix). Cross-width prefix consistency is therefore
    # deliberately NOT a property (family assignment depends on
    # width); the invariants are: no negative values (overflow guard),
    # identical docs share the whole signature, mh0 = the unsalted md5
    # family's minimum at every width (family 0, multiplier 0).
    df = _docs(spark, DOCS)
    narrow = {r.doc_id: [r[f"mh{i}"] for i in range(8)]
              for r in dedup.minhash_signatures(df, k=3, n_hashes=8).collect()}
    wide = {r.doc_id: [r[f"mh{i}"] for i in range(24)]
            for r in dedup.minhash_signatures(df, k=3, n_hashes=24).collect()}
    for doc_id, sig in narrow.items():
        assert wide[doc_id][0] == sig[0]  # (family 0, mult 0) at any width
        assert all(v >= 0 for v in wide[doc_id])
    # identical docs share the whole wide signature too
    assert wide[1] == wide[2]
    # striping: indices 0..2 at width 24 use families 0,1,2 (mult 0) —
    # so mh1/mh2 must equal the width-16/width-24 family minima, which
    # differ from the width-8 single-family mh1 (= h1_0 + h2_0 min)
    assert wide[5][1] != narrow[5][1] or wide[5][2] != narrow[5][2]


def test_minhash_production_width_64(spark):
    # q129's production configuration: 64 permutations (1 md5 + 4
    # salted sha256 digests), 8 bands x 8 rows (t ~ 0.77, above the
    # corpus noise floor — see derive_minhash_bands). Near-identical
    # docs must land in a shared band bucket; the unrelated doc must
    # not pair with them.
    df = _docs(spark, DOCS)
    sigs = dedup.minhash_signatures(df, k=3, n_hashes=64)
    row0 = sigs.orderBy("doc_id").first()
    assert all(row0[f"mh{i}"] >= 0 for i in range(64))
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(sigs, n_hashes=64, bands=8).collect()
    }
    assert (1, 2) in pairs  # identical docs always collide in every band
    # band independence guard: every 8-row band at width 64 spans all
    # 8 digest families exactly once (striped index→family)
    n_fam = 8
    for band in range(8):
        fams = {(band * 8 + r) % n_fam for r in range(8)}
        assert fams == set(range(8))


def test_derive_minhash_bands_threshold_rule():
    # largest band count whose t=(1/b)^(1/r) clears the target — the
    # quadratic-candidate guard the r5 scale-proof motivated
    f = dedup.derive_minhash_bands
    assert f(64, 0.7) == 8       # 8x8: t~0.77 (8 families -> independent)
    assert f(64, 0.5) == 16      # 16x4: t=0.5
    # width 16 has only 2 digest families: rows capped at 2 even when
    # the target is unreachable (widen n_hashes to raise t)
    assert f(16, 0.7) == 8       # 8x2: t~0.35, deepest independent
    assert f(16, 0.3) == 8
    assert f(8, 0.99) == 1       # single family: toy path, strict band
    import pytest

    with pytest.raises(ValueError):
        f(16, 1.5)


def test_minhash_rejects_out_of_range_hash_count(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    import pytest

    with pytest.raises(ValueError, match="n_hashes"):
        dedup.minhash_signatures(df, n_hashes=65)
    with pytest.raises(ValueError, match="n_hashes"):
        dedup.minhash_signatures(df, n_hashes=0)

def test_simhash_md5_identical_equal_near_close(spark):
    df = _docs(spark, DOCS)
    sh = {r.doc_id: r.simhash for r in dedup.simhash_md5(df).collect()}
    assert sh[1] == sh[2]
    # 60-bit fingerprint is strictly non-negative in a signed BIGINT
    assert all(0 <= v < (1 << 60) for v in sh.values())

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sh[1], sh[5]) < hamming(sh[1], sh[6])


def test_simhash_md5_rejects_out_of_range_bits(spark):
    import pytest

    df = _docs(spark, DOCS)
    with pytest.raises(ValueError, match="bits"):
        dedup.simhash_md5(df, bits=61)


def test_simhash_band_candidates_pigeonhole(spark):
    # Constructed fingerprints: (1,2) differ in 3 bits, all inside
    # band 0 — fewer diff bits than bands, so pigeonhole GUARANTEES a
    # shared band and the pair must be a candidate. (1,3) differ in 4
    # bits placed one per 15-bit band — every band differs, never a
    # candidate.
    base = 0b1010
    fp3 = base ^ 0b0111
    fp4 = base ^ ((1 << 0) | (1 << 15) | (1 << 30) | (1 << 45))
    fps = spark.createDataFrame(
        [(1, base), (2, fp3), (3, fp4)], "doc_id long, simhash long"
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_band_candidates(fps, bits=60, bands=4).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs
    assert all(a < b for a, b in pairs)


def test_simhash_band_candidates_verified_and_capped(spark):
    # hamming_max: pair (1,2) at Hamming 3 survives the <=3 verify;
    # (1,4) collides in band 1 (same high bits) but sits at Hamming
    # 14 — a candidate when unverified, dropped when verified
    base = 0b1010
    fp3 = base ^ 0b0111
    far = base ^ ((1 << 15) - 2)  # flips 14 low bits, bands 1-3 equal
    fps = spark.createDataFrame(
        [(1, base), (2, fp3), (4, far)], "doc_id long, simhash long"
    )
    raw = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_band_candidates(fps, bits=60, bands=4).collect()
    }
    ver = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_band_candidates(
            fps, bits=60, bands=4, hamming_max=3
        ).collect()
    }
    assert (1, 4) in raw and (1, 2) in raw
    assert ver == {(1, 2)}
    # bucket_cap: 40 identical fingerprints -> uncapped 780 pairs;
    # capped buckets split into salt groups, so pair count drops but
    # every pair is still a true Hamming-0 pair
    many = spark.createDataFrame(
        [(i, 12345) for i in range(40)], "doc_id long, simhash long"
    )
    uncapped = dedup.simhash_band_candidates(many, bits=60, bands=4).count()
    capped = dedup.simhash_band_candidates(
        many, bits=60, bands=4, bucket_cap=10
    ).count()
    assert uncapped == 40 * 39 // 2
    assert 0 < capped < uncapped


def test_simhash_capped_salt_is_band_keyed(spark):
    """The salt hash must key on (band, id): id-only salting splits
    every band IDENTICALLY, so exact-duplicate fingerprints (hot in
    all bands at once) get salted apart everywhere and their pair is
    unrecoverable. With band-keyed salts the splits are independent —
    on a hot clique the capped recall must beat the single-band
    ceiling, and every emitted pair must be a true candidate."""
    n, cap = 60, 8
    many = spark.createDataFrame(
        [(i, 99999) for i in range(n)], "doc_id long, simhash long"
    )
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_band_candidates(
            many, bits=60, bands=4, bucket_cap=cap
        ).collect()
    }
    total = n * (n - 1) // 2
    # subset of true pairs, and the width² join is provably avoided:
    # k = ceil(60/8) = 8 salt groups/band, 4 bands → pair survives iff
    # some band co-salts it. Expected recall ≈ 1-(1-1/8)^4 ≈ 0.41;
    # a single shared split (id-keyed bug) caps recall at ~1/8.
    assert capped and len(capped) < total
    assert len(capped) / total > 0.25  # > the ~0.125 id-keyed ceiling
    # determinism: same inputs, same salt, same pairs
    again = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_band_candidates(
            many, bits=60, bands=4, bucket_cap=cap
        ).collect()
    }
    assert again == capped


def test_simhash_capped_bounds_hot_bucket_join(spark):
    """One degenerate hot band value must emit ~width·cap pairs per
    band, never width² — the scale contract behind q178."""
    n, cap = 200, 8
    many = spark.createDataFrame(
        [(i, 424242) for i in range(n)], "doc_id long, simhash long"
    )
    capped = dedup.simhash_band_candidates(
        many, bits=60, bands=4, bucket_cap=cap
    ).count()
    # 4 bands × k=25 salt groups of ~8 members ≈ 4·25·C(8,2) ≈ 2800
    # distinct-able pairs; width² would be 19900 per band
    assert capped < 4 * (n // cap + 1) * (cap * (cap + 1) // 2)
    assert capped < n * (n - 1) // 2 * 0.5


def test_simhash_band_candidates_rejects_uneven_split(spark):
    import pytest

    fps = spark.createDataFrame([(1, 7)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="divide"):
        dedup.simhash_band_candidates(fps, bits=60, bands=7)


# ---------------------------------------------------------------------------
# levenshtein_on_pairs
# ---------------------------------------------------------------------------


def test_levenshtein_on_pairs_known_distances(spark):
    from climate_data_pipelines_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, "kitten"), (4, "")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in dedup.levenshtein_on_pairs(docs, pairs).collect()
    }
    assert rows[(1, 2)]["edit_distance"] == 3
    assert rows[(1, 3)]["edit_distance"] == 0
    assert rows[(1, 3)]["edit_similarity"] == 1.0
    assert rows[(1, 4)]["edit_distance"] == 6  # vs empty: all deletes
    assert abs(rows[(1, 2)]["edit_similarity"] - (1 - 3 / 7)) < 1e-12


def test_levenshtein_prefilter_equals_postfilter(spark):
    # the length-gap prefilter must be a pure optimization: identical
    # surviving set to computing everything then thresholding
    from climate_data_pipelines_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "aaaa bbbb cccc dddd"),
            (2, "aaaa bbbb cccc dddx"),
            (3, "zz"),
            (4, "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "id_a long, id_b long"
    )
    pre = {
        (r["id_a"], r["id_b"])
        for r in dedup.levenshtein_on_pairs(docs, pairs, min_similarity=0.6).collect()
    }
    post = {
        (r["id_a"], r["id_b"])
        for r in dedup.levenshtein_on_pairs(docs, pairs).collect()
        if r["edit_similarity"] >= 0.6
    }
    assert pre == post and (1, 2) in pre


def test_levenshtein_both_empty_scores_one(spark):
    from climate_data_pipelines_spark.operators import dedup

    docs = spark.createDataFrame([(1, ""), (2, "")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = dedup.levenshtein_on_pairs(docs, pairs).collect()[0]
    assert r["edit_distance"] == 0 and r["edit_similarity"] == 1.0


def test_cross_candidates_equal_cross_subset_of_self_join(spark, sf_dir):
    # both sides share the hash family, so cross-corpus banding must
    # yield exactly the cross subset of the full self-join candidates
    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import dedup
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    is_base = F.col("source").rlike("^src[0-9]$")
    base, new = docs.filter(is_base), docs.filter(~is_base)
    n, b = 32, 8
    full = dedup.minhash_lsh_candidates(
        dedup.minhash_signatures(docs, k=3, n_hashes=n), n_hashes=n, bands=b
    )
    cross = dedup.minhash_lsh_candidates_cross(
        dedup.minhash_signatures(new, k=3, n_hashes=n),
        dedup.minhash_signatures(base, k=3, n_hashes=n),
        n_hashes=n,
        bands=b,
    )
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    expected = {
        frozenset((r["id_a"], r["id_b"]))
        for r in full.collect()
        if (r["id_a"] in base_ids) != (r["id_b"] in base_ids)
    }
    got = {frozenset((r["id_a"], r["id_b"])) for r in cross.collect()}
    assert got == expected and all(
        r["id_a"] not in base_ids and r["id_b"] in base_ids for r in cross.collect()
    )


def test_jaccard_on_pairs_keeps_zero_shingle_endpoints(spark):
    """A pair whose endpoint has fewer than k tokens (no shingles)
    must come back with jaccard = 0.0, not vanish from the output."""
    from climate_data_pipelines_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, "a b c d e")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "id_a long, id_b long"
    )
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.jaccard_on_pairs(docs, pairs, k=3).collect()}
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    assert out[(1, 2)] == 0.0 and out[(2, 3)] == 0.0
    assert out[(1, 3)] == 1.0


def test_pair_verifies_null_safe_with_ansi_off(spark):
    """A null-text endpoint and an endpoint missing from ``df`` score
    0 in both pair verifies with ANSI off and legacy sizeOfNull on,
    where size(NULL) is -1, not NULL."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, None), (3, None), (4, "a b c d f")],
        "doc_id long, text string",
    )
    # 9 is not in docs
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 9), (1, 4)], "id_a long, id_b long"
    )
    confs = {"spark.sql.ansi.enabled": "false", "spark.sql.legacy.sizeOfNull": "true"}
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        jac = {(r.id_a, r.id_b): r.jaccard
               for r in dedup.jaccard_on_pairs(docs, pairs, k=3).collect()}
        cont = {(r.id_a, r.id_b): r
                for r in dedup.containment_on_pairs(docs, pairs, k=3).collect()}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert jac == {(1, 2): 0.0, (2, 3): 0.0, (1, 9): 0.0, (1, 4): 0.5}
    for pair in [(1, 2), (2, 3), (1, 9)]:
        r = cont[pair]
        assert r.n_common == 0 and r.cont_a == 0.0 and r.cont_b == 0.0, pair
        assert r.n_a >= 0 and r.n_b >= 0, pair
    assert cont[(1, 4)].n_common == 2


def test_normalize_url_canonicalizes_every_variant(spark):
    from climate_data_pipelines_spark.functions.text import normalize_url

    cases = [
        # (raw, expected)
        ("https://www.Example.org/a/b", "https://example.org/a/b"),
        ("https://EXAMPLE.ORG:443/a/b", "https://example.org/a/b"),
        ("http://example.org:80/a/b#frag", "http://example.org/a/b"),
        ("https://example.org/a/b/", "https://example.org/a/b"),
        ("https://example.org", "https://example.org/"),
        ("https://example.org/?utm_source=x&page=2", "https://example.org/?page=2"),
        # param order insensitivity
        ("https://example.org/p?b=2&a=1", "https://example.org/p?a=1&b=2"),
        ("https://example.org/p?a=1&b=2", "https://example.org/p?a=1&b=2"),
        # path/query case is preserved
        ("https://example.org/CaseSensitive?Q=V", "https://example.org/CaseSensitive?Q=V"),
        ("https://example.org/p?fbclid=abc&ref=tw", "https://example.org/p"),
        # r9 advice: only the SCHEME'S OWN default port folds away —
        # http://h:443 / https://h:8080 are distinct origins
        ("http://example.org:443/a", "http://example.org:443/a"),
        ("https://example.org:8080/a", "https://example.org:8080/a"),
        ("https://example.org:80/a", "https://example.org:80/a"),
        # userinfo is credentials, never part of the key
        ("https://user:pw@example.org/a", "https://example.org/a"),
        ("https://alice@www.Example.org:443/a", "https://example.org/a"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    got = [r[0] for r in df.select(normalize_url("url")).collect()]
    assert got == [e for _, e in cases]
    # idempotence: normalizing a normalized URL is the identity
    df2 = spark.createDataFrame([(e,) for _, e in cases], "url string")
    got2 = [r[0] for r in df2.select(normalize_url("url")).collect()]
    assert got2 == [e for _, e in cases]


def test_normalize_url_passes_non_absolute_inputs_through(spark):
    """Scheme-less / relative / malformed inputs must NOT canonicalize
    (r7 advice: they all collapsed into '://…' keys, so distinct junk
    inputs became one dedup group). Each passes through unchanged —
    distinct inputs stay distinct keys."""
    from climate_data_pipelines_spark.functions.text import normalize_url

    cases = [
        ("example.org/a", "example.org/a"),
        ("/relative/path", "/relative/path"),
        ("not a url at all", "not a url at all"),
        ("www.example.org/b", "www.example.org/b"),
        ("ftp.example.org:21/x#frag", "ftp.example.org:21/x"),  # frag still dropped
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    got = [r[0] for r in df.select(normalize_url("url")).collect()]
    assert got == [e for _, e in cases]
    assert len(set(got)) == len(cases)  # no collisions into one key


def test_url_dedup_keeps_best_quality_with_id_tiebreak(spark):
    rows = [
        # one canonical group, different messy spellings
        (1, 10, "https://www.site.org/a?utm_source=x"),
        (2, 30, "https://SITE.ORG:443/a"),   # best quality → keeper
        (3, 30, "https://site.org/a/#f"),    # quality tie → larger id loses
        (4, 5, "https://site.org/other"),    # separate group
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long, url string")
    out = {r.url_norm: (r.keeper_id, r.dup_count)
           for r in dedup.url_dedup(df).collect()}
    assert out["https://site.org/a"] == (2, 3)
    assert out["https://site.org/other"] == (4, 1)


def test_containment_on_pairs_directions_and_zero_overlap(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    sup = base + " lambda mu nu xi"
    rows = [(1, base, "a"), (2, sup, "a"), (3, "pq rs tu vw xy zz ab cd", "a")]
    df = _docs(spark, rows)
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r for r in
           dedup.containment_on_pairs(df, pairs).collect()}
    r12 = out[(1, 2)]
    # every shingle of the base doc is inside the superset
    assert r12.n_common == r12.n_a and r12.cont_a == 1.0
    # but the superset is NOT fully inside the base (asymmetry)
    assert r12.cont_b < 1.0 and r12.n_b > r12.n_a
    r13 = out[(1, 3)]
    assert r13.n_common == 0 and r13.cont_a == 0.0 and r13.cont_b == 0.0


# ---------------------------------------------------------------------------
# containment_small_in_large (prefix-filter set join — q179)


def test_small_in_large_finds_lsh_invisible_pair(spark):
    """A 5-token excerpt inside a 60-token host: Jaccard ≈ 0.05 (no
    LSH band can fire) but containment = 1.0 — the q176 recall hole
    this operator exists to close."""
    host = " ".join(f"w{i}" for i in range(60))
    tiny = " ".join(f"w{i}" for i in range(20, 27))  # 7 tokens ⊂ host
    other = " ".join(f"z{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, host), (2, tiny), (3, other)], "doc_id long, text string"
    )
    out = {
        (r.id_small, r.id_large): r.containment
        for r in dedup.containment_small_in_large(
            df, k=3, threshold=0.9, small_max=16
        ).collect()
    }
    assert out == {(2, 1): 1.0}


def test_small_in_large_is_lossless_vs_direct(spark):
    """Prefix filter must be LOSSLESS for the small side: compare
    against the direct all-pairs containment on a random-ish corpus
    (including threshold-exact pairs the float-floor bug dropped)."""
    rows = [(i, " ".join(f"t{(i * 7 + j) % 23}" for j in range(12))) for i in range(30)]
    # a pair at containment exactly 0.9: small doc with 10 shingles,
    # 9 of them inside the large doc
    small = " ".join(f"s{j}" for j in range(12))          # 10 shingles
    large = " ".join(f"s{j}" for j in range(11)) + " qq"  # shares 9
    rows += [(100, small), (101, large + " " + " ".join(f"p{j}" for j in range(40)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_small, r.id_large)
        for r in dedup.containment_small_in_large(
            df, k=3, threshold=0.9, small_max=64
        ).collect()
    }
    # direct ground truth via containment_on_pairs on ALL small×all pairs
    from pyspark.sql import functions as F

    from climate_data_pipelines_spark.functions.text import shingles

    sh = df.select("doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("s"))
    sizes = {r.doc_id: r.n for r in sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    ss = {r.doc_id: set() for r in df.collect()}
    for r in sh.collect():
        ss[r.doc_id].add(r.s)
    want = set()
    for a, sa in ss.items():
        if sizes.get(a, 0) > 64 or not sa:
            continue
        for b, sb in ss.items():
            if a != b and len(sa & sb) / len(sa) >= 0.9:
                want.add((a, b))
    assert got == want
    assert (100, 101) in got  # the exact-boundary pair


def test_small_in_large_df_cap_keeps_rarest(spark):
    """df_cap prunes hot prefix shingles but must always keep the
    single rarest one — no small doc silently loses its whole prefix."""
    # five identical hosts all contain the tiny doc, so EVERY shingle
    # of the tiny doc has df=6 > cap — the cap prunes all prefix rows
    # past rn=1, but rn=1 (the single rarest) must survive
    host = " ".join(f"u{i}" for i in range(30))
    tiny = " ".join(f"u{i}" for i in range(7))
    df = spark.createDataFrame(
        [(i, host) for i in range(1, 6)] + [(9, tiny)],
        "doc_id long, text string",
    )
    import warnings as _w

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        res = dedup.containment_small_in_large(
            df, k=3, threshold=0.8, small_max=16, df_cap=2
        )
        out = {(r.id_small, r.id_large) for r in res.collect()}
    assert {(9, i) for i in range(1, 6)} <= out
    # the cap DID prune here (hot h-shingles, df >> 2): the loss must
    # be flagged, not silent (round-8 advice) — a warning fires and
    # the measured prune count is exposed on the frame
    assert res._df_cap_pruned > 0
    assert any("df_cap" in str(w.message) for w in caught)


def test_small_in_large_df_cap_prune_metric_zero_when_cold(spark):
    """When every prefix shingle is colder than the cap, the observed
    prune count is 0 and NO warning fires — proving the capped run was
    exactly the lossless df_cap=None plan (the q179 oracle contract:
    at sf0.01 max shingle df is 7 < 64, so the cap never engages)."""
    import warnings as _w

    host = " ".join(f"w{i}" for i in range(60))
    tiny = " ".join(f"w{i}" for i in range(20, 27))
    df = spark.createDataFrame(
        [(1, host), (2, tiny)], "doc_id long, text string"
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        res = dedup.containment_small_in_large(
            df, k=3, threshold=0.9, small_max=16, df_cap=64
        )
        got = {(r.id_small, r.id_large) for r in res.collect()}
    assert got == {(2, 1)}
    assert res._df_cap_pruned == 0
    assert not any("df_cap" in str(w.message) for w in caught)


def test_connected_components_local_path_string_ids(spark):
    # the driver-local union-find is type-generic: string node ids
    # (e.g. URL keys) get the same min-id-per-component labels
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"
    )
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("solo",)], "k string"
    )
    out = {
        r.node: r.component
        for r in dedup.connected_components(edges, nodes).collect()
    }
    assert out == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "solo": "solo"
    }
