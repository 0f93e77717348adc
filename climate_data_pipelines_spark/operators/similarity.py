"""Similarity search over embedding columns (SURVEY.md §2.11).

Baseline: brute-force cosine top-k — expression-level dot products
(zip_with + aggregate, JVM codegen) and a rank window; fully
distributed, no UDF, no driver loop.

Scale path: LSH-bucketed ANN — random-hyperplane sign bits computed
from deterministic per-(dim, plane) hash weights, bucket equi-join,
exact cosine only within buckets. At 100 TB the bucket join replaces
the full cross product; multiprobe = explode over neighbor buckets.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from climate_data_pipelines_spark.functions.scalar import oracle_round
from climate_data_pipelines_spark.operators.scale import (
    local_df,
    num_partitions,
    spread_for_cpu,
    sum_partials,
)
from climate_data_pipelines_spark.functions.vectors import (
    cosine_similarity,
    dot,
    l2_normalize,
    sq_l2,
)


# physical plan of the most recent pca_fit sufficient-statistics
# aggregate (audit hook — see pca_fit; tests assert the two-level fold)
_LAST_FIT_PLAN: str = ""


def _lsh_plane_matrix(dim: int, n_tables: int, n_planes: int):
    """Deterministic hyperplane weight matrix (dim, n_tables·n_planes)
    for the vectorized signature kernel. Seeded per (table, plane) so
    the matrix is reproducible across executors/batches without
    shipping state. Cached per shape — built once per python worker.

    Stability contract: numpy guarantees bit-stable streams for a
    given seeded Generator across versions (NEP 19), so signatures are
    reproducible across sessions; still, persisted bucket tables
    should be rebuilt rather than mixed across engine versions if this
    seeding scheme ever changes (same caveat as any LSH index)."""
    import numpy as np

    key = (dim, n_tables, n_planes)
    mat = _lsh_plane_matrix._cache.get(key)
    if mat is None:
        cols = []
        for t in range(n_tables):
            for p in range(n_planes):
                rng = np.random.default_rng(0x5EED + t * 100003 + p)
                cols.append(rng.standard_normal(dim))
        mat = np.stack(cols, axis=1)  # (dim, T*P)
        _lsh_plane_matrix._cache[key] = mat
    return mat


_lsh_plane_matrix._cache = {}


def _lsh_signatures(vec_col: str, n_tables: int, n_planes: int) -> F.Column:
    """All ``n_tables`` LSH bucket ids for a vector in ONE vectorized
    pandas kernel: a single (batch×dim)@(dim×T·P) matmul + bit-pack,
    instead of T·P interpreted zip_with/aggregate dot products per row
    (measured 8.4 s/pass → ~0.1 s at sf0.1 for T=8, P=11). Sign bits
    are scale-invariant, so this hashes the RAW vector; the unit-
    normalized copy used for pair scoring never enters the kernel.
    This is the sanctioned Arrow-batched exception to the no-UDF rule:
    88 hyperplane dots per row genuinely can't stay in codegen at
    acceptable cost (SURVEY.md custom-operator rule (b))."""
    import numpy as np

    @F.pandas_udf("array<int>")
    def sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        dim = next((len(x) for x in v if x is not None), 0)
        if dim == 0:  # batch is all-None: null signatures, no buckets
            return pd.Series([None] * len(v), dtype=object)
        zero = np.zeros(dim)
        M = np.stack([zero if x is None else np.asarray(x, dtype=np.float64) for x in v])
        W = _lsh_plane_matrix(dim, n_tables, n_planes)
        bits = (M @ W) >= 0.0  # (batch, T*P)
        pows = 1 << np.arange(n_planes, dtype=np.int64)
        buckets = bits.reshape(len(M), n_tables, n_planes) @ pows  # (batch, T)
        # None vectors must NOT hash (zero vector's dots are all >= 0 →
        # the all-ones bucket would collect every null embedding and
        # pair-score them against real vectors); null signature instead —
        # explode(null array) emits no rows, excluding them from joins.
        return pd.Series(
            [None if x is None else row.astype("int32") for x, row in zip(v, buckets)]
        )

    return sig(F.col(vec_col))


def cosine_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k against (a small set of) query vectors.

    ``query_df``: (query_id, query_vec). Broadcast the queries; one
    pass over the corpus computes all scores; per-query rank window
    keeps k. Rounded score for oracle hash stability; ties broken on
    corpus id. This is the exact baseline the ANN variants are judged
    against (recall@k).
    """
    q = query_df.select(
        F.col("query_id"), F.col("query_vec")
    )
    scored = (
        df.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            oracle_round(cosine_similarity(vec_col, "query_vec"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key.

    Exact cosine on blocked candidate pairs (id_a < id_b) — the
    verification stage of an embedding-dedup pipeline. The block join
    is an equi-join on the block key; no global cross product.
    """
    a = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
    )
    b = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            oracle_round(cosine_similarity("_va", "_vb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def derive_ivf_params(
    corpus_n: int,
    min_probed_members: int = 320,
    max_cells: int = 4096,
    min_probed_frac: float = 0.0,
    probe_frac: float = 0.25,
) -> tuple[int, int]:
    """Corpus-adaptive IVF parameters.

    ``n_cells ≈ √N`` (the standard IVF nlist heuristic: balances
    quantization error against per-cell list length), capped at
    ``max_cells`` so the broadcast centroid table stays small; at
    larger corpora the cap trades a longer inverted list per cell for
    a bounded driver/broadcast footprint. ``n_probe`` is the larger of
    a fixed fraction (nlist/4) and however many cells are needed for
    the EXPECTED probed-member count to reach ``min_probed_members`` —
    the second term is what rescues tiny corpora, where √N cells hold
    so few vectors each that a fixed probe fraction starves recall
    (measured at the 500-vector fixture: probe 11/22 → recall 0.83,
    probe 15/22 → 0.97).

    ``min_probed_frac`` floors the probed CELL fraction — needed when
    the embedding corpus has no cluster structure (i.i.d. vectors):
    there IVF recall tracks the probed fraction almost linearly
    (measured on the 2,000-vector fixture, whose intra-label cosine ≈
    inter-label ≈ 0: probe 25% → recall 0.77, 50% → 0.90), so a low
    fixed fraction starves recall no matter how cells are chosen.
    Default 0.0 — production embedding corpora cluster, and the
    nlist/4 fraction is the standard working point; the fixture
    queries pass the floor explicitly (docs/SCALEPROOF.md Finding 3).

    ``probe_frac`` is that standing probe fraction (default 1/4, the
    i.i.d.-fixture working point). On CLUSTERED corpora — the geometry
    real embeddings have — a query's true neighbors live in the few
    sub-cells k-means carved its cluster into, so a much lower
    fraction (1/32 in the ann_clustered case of tools/scale_proof.py,
    the production-style setting) keeps recall while probing only a
    few % of the corpus; ``min_probed_members`` still rescues tiny
    corpora.
    """
    import math

    n = max(1, corpus_n)
    n_cells = max(8, min(max_cells, int(math.sqrt(n))))
    by_members = math.ceil(n_cells * min_probed_members / n)
    by_frac = math.ceil(n_cells * min_probed_frac)
    n_probe = max(
        1,
        min(n_cells, max(int(n_cells * probe_frac), by_members, by_frac)),
    )
    return n_cells, n_probe


def ann_ivf_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    n_cells: int | None = 32,
    n_probe: int | None = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    corpus_n: int | None = None,
    min_probed_frac: float = 0.0,
    probe_frac: float = 0.25,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer (SURVEY.md §2.11
    'IVF variant as the scale path'):

    1. k-means over unit-normalized corpus vectors → ``n_cells``
       centroids (spherical-ish quantizer: L2 on the unit sphere
       orders like cosine);
    2. each corpus vector is assigned to its nearest centroid — the
       inverted lists, materialized as a (vec_id, cell) table;
    3. each query probes its ``n_probe`` nearest centroids (centroid
       table is tiny — n_cells × dim — and broadcast);
    4. exact cosine runs only on the probed cells' members; rank
       window keeps k.

    At 100 TB the inverted-list assignment is written once
    (partitioned/bucketed by cell) and each query touches
    n_probe/n_cells of the corpus; the KMeans fit itself samples or
    trains on a fraction. Approximate by construction → rows-only;
    tests gate recall against the exact q38 baseline.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_cells is None or n_probe is None:
        n = corpus_n if corpus_n is not None else df.count()
        d_cells, d_probe = derive_ivf_params(
            n, min_probed_frac=min_probed_frac, probe_frac=probe_frac
        )
        n_cells = d_cells if n_cells is None else n_cells
        n_probe = d_probe if n_probe is None else n_probe
    df = spread_for_cpu(df)
    # null embeddings cannot be clustered or probed — exclude them up
    # front (the LSH path's null-guard equivalent; KMeans.fit throws
    # on a null feature row)
    normed = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), l2_normalize(vec_col).alias("_nv")
    )
    feats = normed.select(
        F.col(id_col), array_to_vector("_nv").alias("features")
    )
    model = KMeans(
        k=n_cells,
        seed=seed,
        maxIter=8,  # coarse quantizer: cell assignment stabilizes fast,
        # and ANN recall is insensitive to the last k-means ulps
        featuresCol="features",
        predictionCol="cell",
    ).fit(feats)
    inverted = model.transform(feats).select(id_col, "cell")

    spark = df.sparkSession
    cent_rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    # Arrow-path creation: no Python-worker tasks per broadcast build
    centroids = local_df(spark, cent_rows, "cell int, centroid array<double>")

    probed = (
        query_df.select("query_id", l2_normalize("query_vec").alias("_nq"))
        .crossJoin(F.broadcast(centroids))
        .select("query_id", "cell", sq_l2("_nq", "centroid").alias("_d2"))
    )
    wp = Window.partitionBy("query_id").orderBy(F.asc("_d2"), F.asc("cell"))
    probe_cells = (
        probed.withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "cell")
    )

    candidates = (
        inverted.join(F.broadcast(probe_cells), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
    )
    scored = (
        candidates.join(df.select(F.col(id_col), F.col(vec_col)), id_col)
        .join(F.broadcast(query_df), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            oracle_round(cosine_similarity(vec_col, "query_vec"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def ann_lsh_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    n_planes: int | None = 5,
    n_tables: int = 8,
    multiprobe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    corpus_n: int | None = None,
    target_candidates: int = 96,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH with
    MULTIPROBE + exact cosine on the candidate union (SURVEY.md §2.11
    scale path).

    Each of ``n_tables`` independent hash tables buckets every vector
    by n_planes sign bits; a corpus row is a candidate if it collides
    with the query in ANY table (OR-amplification — recall rises with
    tables, precision with planes). ``multiprobe_bits=1`` additionally
    probes every bucket at Hamming distance 1 from the query's bucket
    (n_planes+1 probes per table, explode on the QUERY side only — the
    corpus is still hashed once per table): a near-neighbor that
    disagrees on a single sign bit is recovered without paying for
    more tables, so high-dimensional inputs keep selectivity
    (2^n_planes buckets) without the recall collapse of exact-bucket
    matching. Candidate generation is an equi-join on (table, bucket);
    exact cosine runs only on the distinct candidate set. Approximate
    by construction → rows-only (the exact variant q38 is the
    oracle-checked baseline; recall is gated in tests and reported by
    bench.py).

    Signatures come from the same one-matmul Arrow kernel as
    ``semantic_dedup`` (``_lsh_signatures``): all n_tables·n_planes
    hyperplane dots per row in one vectorized pass instead of
    interpreted per-plane zip_with aggregates — the measured
    bottleneck at corpus scale.

    ``n_planes=None`` derives the depth from the corpus size
    (``derive_lsh_planes`` — +1 plane per corpus doubling keeps
    expected candidates/query near ``target_candidates``); pass
    ``corpus_n`` (e.g. ``catalog.table_rows``) to avoid the count()
    job. Note the selectivity/recall trade tracks data geometry: on
    clustered embeddings deeper planes prune hard at stable recall;
    on i.i.d. vectors (this repo's fixture) recall costs coverage no
    matter the depth (docs/SCALEPROOF.md Finding 3) — the fixture
    queries therefore pin n_planes=5 explicitly.
    """
    if n_planes is None:
        n = corpus_n if corpus_n is not None else df.count()
        n_planes = derive_lsh_planes(
            n, n_tables, target_candidates, multiprobe=multiprobe_bits >= 1
        )

    def bucketed(frame: DataFrame, vcol: str, keep: list[str]) -> DataFrame:
        return frame.select(
            *keep,
            F.posexplode(_lsh_signatures(vcol, n_tables, n_planes)).alias(
                "table", "bucket"
            ),
        )

    corpus_b = bucketed(df, vec_col, [id_col])
    query_b = bucketed(
        query_df.withColumnRenamed("query_vec", "_qv"), "_qv", ["query_id"]
    )
    if multiprobe_bits >= 1:
        # probe the exact bucket plus every bucket within Hamming
        # distance ``multiprobe_bits`` of it (query-side explode only:
        # 1+p probes at 1 bit, +p·(p-1)/2 at 2 bits — the corpus is
        # still hashed exactly once per table)
        flips = [
            F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
        if multiprobe_bits >= 2:
            flips += [
                F.col("bucket").bitwiseXOR(F.lit((1 << p) | (1 << q)))
                for p in range(n_planes)
                for q in range(p + 1, n_planes)
            ]
        probes = F.array(F.col("bucket"), *flips)
        query_b = query_b.select(
            "query_id", "table", F.explode(probes).alias("bucket")
        )
    candidates = (
        corpus_b.join(F.broadcast(query_b.select("query_id", "table", "bucket")), ["table", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .distinct()
    )
    scored = (
        candidates.join(df.select(F.col(id_col), F.col(vec_col)), id_col)
        .join(F.broadcast(query_df), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            oracle_round(cosine_similarity(vec_col, "query_vec"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def label_centroids(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label embedding centroid — the cluster/class prototype used
    for IVF coarse quantizers, centroid-based topic assignment, and
    embedding-drift monitoring.

    posexplode → one hash aggregate keyed on (label, dim) — |labels|×dim
    groups regardless of corpus size, map-side combined — then
    reassembled into an ordered array with array_agg over a sorted
    struct collect. No vector ever crosses the shuffle whole.
    """
    dims = df.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    )
    per_dim = dims.groupBy(label_col, "dim").agg(
        F.avg("x").alias("mean_x"), F.count("*").alias("n")
    )
    return (
        per_dim.groupBy(label_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("mean_x")))
            ).alias("pairs"),
            F.max("n").alias("n_vectors"),
        )
        .select(
            label_col,
            F.transform(F.col("pairs"), lambda p: p["mean_x"]).alias("centroid"),
            "n_vectors",
        )
    )


def derive_lsh_planes(
    corpus_n: int,
    n_tables: int,
    target_candidates: int = 96,
    multiprobe: bool = True,
    floor: int = 5,
    cap: int = 24,
) -> int:
    """Corpus-adaptive LSH depth: smallest plane count p such that the
    EXPECTED candidate pairs per member stay ~constant as the corpus
    grows. With Hamming-1 multiprobe a member meets
    ``n_tables · (p+1) · n / 2^p`` candidates under a uniform bucket
    assumption, so we grow p until ``2^p / (p+1) >= n·T/target`` —
    every doubling of the corpus costs one extra plane (+one probe),
    keeping total pair work O(n·target) instead of O(n²/2^p_fixed).
    Recall is held by OR-amplification across tables + the probes
    (per-table Hamming-1 collision for a cosine-0.95 pair at p=11 is
    ~0.70 → 8-table recall ~0.9999, above the fixed-p=5 exact-bucket
    design this replaces).
    """
    need = max(1.0, (corpus_n * n_tables) / float(target_candidates))
    p = floor
    while p < cap and (2**p) / float((p + 1) if multiprobe else 1) < need:
        p += 1
    return p


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_tables: int = 6,
    multiprobe_bits: int = 1,
    target_candidates: int = 96,
    bucket_cap: int = 256,
    corpus_n: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pair_ids_first: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    drop documents whose MEANING duplicates another's even when the
    text differs (template rewrites, boilerplate variants, translations
    embedded into one space).

    Stages — all bucketed, never all-pairs, with bounded bucket width:
    1. multi-table hyperplane LSH buckets every vector; the plane count
       is DERIVED from the corpus size (``derive_lsh_planes``) unless
       pinned, so bucket occupancy — and with it the within-bucket join
       fan-out — stays ~constant as the corpus grows instead of the
       fixed-2^5-buckets quadratic cliff;
    2. within-bucket exact cosine >= ``threshold`` yields verified
       near-dup edges (id_a < id_b, distinct across tables). Two edge
       sources: (a) same-bucket pairs, SALT-CAPPED — a bucket wider
       than ``bucket_cap`` is split into ⌈width/cap⌉ salt groups by
       member-id hash, so one degenerate hot bucket (e.g. a corpus of
       near-identical vectors) generates at most width·cap pairs, never
       width²; the recall a hot bucket loses to salting is recovered
       across the other tables (each salts by a table-keyed hash, so
       splits are independent); (b) Hamming-1 probe pairs — each member
       also probes the ``n_planes`` buckets one bit-flip away
       (cross-bucket only, query-side explode), recovering near-dups
       that disagree on a single sign bit so the deeper adaptive plane
       count doesn't cost recall;
    3. connected components clusters the edges (transitive closure —
       A~B, B~C groups all three);
    4. keeper = min id per cluster; the survivors are returned with
       their cluster id and size.

    Approximate by construction (LSH recall < 1 means some true
    semantic pairs never become edges) → rows-only in the registry;
    recall is gated against the exact blocked near-dup (q43 twin) in
    tests. Returns (vec_id, cluster, cluster_size, is_keeper).
    """
    from climate_data_pipelines_spark.operators.dedup import connected_components

    if n_planes is None:
        # Hot-path hygiene (VERDICT r4): pass ``corpus_n`` (the known
        # table count or a catalog estimate) — the fallback df.count()
        # is a FULL extra scan job before the real one.
        n = corpus_n if corpus_n is not None else df.count()
        n_planes = derive_lsh_planes(
            n, n_tables, target_candidates, multiprobe=multiprobe_bits >= 1
        )
    df = spread_for_cpu(df)

    if pair_ids_first:
        # -- candidate-ids-first plan (default; VERDICT r5 item 7) ---
        # The inline plan below ships a vector copy through EVERY
        # bucket/probe exchange — n_tables·(2 + n_planes) copies of
        # each embedding per run (checkpoint storage: n_tables copies).
        # Here vectors are checkpointed ONCE (unit-normalized), every
        # bucket/salt/probe join moves (id, table, bucket) triples
        # only, candidates are deduplicated ACROSS tables/probes while
        # still 16-byte id pairs, and the surviving candidate set does
        # one id-keyed re-join per side to score — 2·|candidates|
        # vector lookups total. Measured at x10/x100 (SCALEPROOF.json
        # semantic_dedup_probe_traffic): same edges bit-for-bit, less
        # data on every exchange, and the scoring work drops by the
        # cross-table duplication factor. Sign bits are scale-
        # invariant, so hashing the normalized copy equals hashing the
        # raw vector (zero/null vectors behave identically: null sigs
        # never bucket; zero vectors normalize to themselves).
        # LAZY checkpoints (r14, verdict item 4): the two eager
        # barriers here serialized two full driver round-trips before
        # the real job; lazy materializes the same blocks inside the
        # first consuming job (every consumer is downstream of the
        # caller's single action), with identical reuse afterwards.
        vn = df.select(
            F.col(id_col), l2_normalize(vec_col).alias("_vn")
        ).localCheckpoint(eager=False)
        b = vn.select(
            F.col(id_col),
            F.posexplode(_lsh_signatures("_vn", n_tables, n_planes)).alias(
                "table", "bucket"
            ),
        ).localCheckpoint(eager=False)

        wb = Window.partitionBy("table", "bucket")
        b_salted = b.withColumn(
            "_k",
            F.greatest(
                F.lit(1), F.ceil(F.count("*").over(wb) / F.lit(bucket_cap))
            ).cast("int"),
        ).withColumn(
            "_salt",
            F.pmod(F.xxhash64("table", F.col(id_col)), F.col("_k")).cast("int"),
        )
        same_bucket = (
            b_salted.select(
                "table", "bucket", "_salt", F.col(id_col).alias("id_a")
            )
            .join(
                b_salted.select(
                    "table", "bucket", "_salt", F.col(id_col).alias("id_b")
                ),
                ["table", "bucket", "_salt"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = same_bucket
        if multiprobe_bits >= 1 and n_planes > 0:
            flips = b.select(
                F.col(id_col).alias("id_b"), "table",
                F.explode(
                    F.array(*[
                        F.col("bucket").bitwiseXOR(F.lit(1 << p))
                        for p in range(n_planes)
                    ])
                ).alias("bucket"),
            )
            probe_pairs = (
                b.select("table", "bucket", F.col(id_col).alias("id_a"))
                .join(flips, ["table", "bucket"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
            )
            cand = same_bucket.unionByName(probe_pairs)
        edges = (
            cand.distinct()
            .join(
                vn.select(
                    F.col(id_col).alias("id_a"), F.col("_vn").alias("_va")
                ),
                "id_a",
            )
            .join(
                vn.select(
                    F.col(id_col).alias("id_b"), F.col("_vn").alias("_vb")
                ),
                "id_b",
            )
            .filter(dot("_va", "_vb") >= threshold)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
        clusters = connected_components(
            edges, nodes=df.select(id_col), node_col=id_col
        ).withColumnRenamed("component", "cluster")
        sizes = clusters.groupBy("cluster").agg(
            F.count("*").alias("cluster_size")
        )
        return (
            clusters.join(sizes, "cluster")
            .select(
                id_col,
                "cluster",
                "cluster_size",
                (F.col(id_col) == F.col("cluster")).alias("is_keeper"),
            )
        )

    # One vectorized signature pass (all tables at once), unit-norm
    # computed once per MEMBER (not per pair — per-pair cosine recomputes
    # both norms, tripling the dominant scoring cost), then materialized:
    # every downstream branch (salt window, both join sides, probe
    # explode) reuses the checkpoint instead of re-deriving 88 hyperplane
    # dots per row per branch. O(n·n_tables) rows, linear in the corpus.
    b = (
        df.select(
            F.col(id_col),
            l2_normalize(vec_col).alias("_vn"),
            F.posexplode(_lsh_signatures(vec_col, n_tables, n_planes)).alias(
                "table", "bucket"
            ),
        )
        .localCheckpoint(eager=True)
    )

    # -- same-bucket pairs, salt-capped ------------------------------
    # width via a window over the bucket key (one keyed exchange the
    # self-join below reuses — HashPartitioning(table,bucket) already
    # clusters the salted join key). Salt = table-keyed id hash mod
    # ⌈width/cap⌉: normal buckets get k=1 (no-op); a hot bucket's pair
    # count drops from width² to width·cap per table.
    wb = Window.partitionBy("table", "bucket")
    b_salted = b.withColumn(
        "_k",
        F.greatest(
            F.lit(1), F.ceil(F.count("*").over(wb) / F.lit(bucket_cap))
        ).cast("int"),
    ).withColumn(
        "_salt", F.pmod(F.xxhash64("table", F.col(id_col)), F.col("_k")).cast("int")
    )
    a_side = b_salted.select(
        "table", "bucket", "_salt",
        F.col(id_col).alias("id_a"), F.col("_vn").alias("_va"),
    )
    b_side = b_salted.select(
        "table", "bucket", "_salt",
        F.col(id_col).alias("id_b"), F.col("_vn").alias("_vb"),
    )
    # score BEFORE deduplicating across tables: the bucket join output
    # pipelines straight into the dot filter (unit vectors → dot IS the
    # cosine), so the distinct only ever shuffles surviving
    # (id_a, id_b) pairs — 16 bytes/row — never the embedding arrays.
    same_bucket = (
        a_side.join(b_side, ["table", "bucket", "_salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dot("_va", "_vb") >= threshold)
        .select("id_a", "id_b")
    )

    edges_src = same_bucket
    if multiprobe_bits >= 1 and n_planes > 0:
        # -- Hamming-1 probe pairs (cross-bucket only, unsalted) -----
        # each member probes the n_planes buckets one bit-flip away;
        # a pair split across adjacent buckets is generated from both
        # directions, exactly one ordering survives id_a < id_b. Hot
        # buckets stay linear here: the fan-out is width(X)·Σwidth of
        # the p neighbors, not width².
        flips = b.select(
            F.col(id_col).alias("id_b"), F.col("_vn").alias("_vb"), "table",
            F.explode(
                F.array(*[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(n_planes)
                ])
            ).alias("bucket"),
        )
        exact = b.select(
            "table", "bucket",
            F.col(id_col).alias("id_a"), F.col("_vn").alias("_va"),
        )
        probe_pairs = (
            exact.join(flips, ["table", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(dot("_va", "_vb") >= threshold)
            .select("id_a", "id_b")
        )
        edges_src = same_bucket.unionByName(probe_pairs)

    edges = edges_src.distinct().localCheckpoint(eager=True)
    clusters = connected_components(
        edges, nodes=df.select(id_col), node_col=id_col
    ).withColumnRenamed("component", "cluster")
    sizes = clusters.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return (
        clusters.join(sizes, "cluster")
        .select(
            id_col,
            "cluster",
            "cluster_size",
            (F.col(id_col) == F.col("cluster")).alias("is_keeper"),
        )
    )


def semantic_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_tables: int = 6,
    multiprobe_bits: int = 1,
    target_candidates: int = 96,
    corpus_n: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cross-corpus SEMANTIC decontamination: flag training vectors
    whose meaning duplicates a held-out benchmark item even when the
    surface text differs — the contamination the n-gram paths
    (q106/q139 shingle decontamination) cannot see (paraphrased eval
    questions, translated prompts, templated rewrites).

    Same bucketed, pair-ids-first discipline as ``semantic_dedup``:
    both corpora hash with the SAME deterministic hyperplane family
    (``_lsh_signatures`` — reproducible across frames), candidate
    (train_id, bench_id) pairs come from (table, bucket) equi-joins
    plus Hamming-1 probes exploded on the BENCH side only (eval sets
    are orders of magnitude smaller than the train corpus — the
    explode rides the small frame), dedup while still 16-byte id
    pairs, then one id-keyed re-join per side scores exact cosine.
    The train corpus is never self-paired and never exploded.

    Plane depth derives from the TRAIN corpus size (pass ``corpus_n``
    to skip the count job) — bucket occupancy, and with it the join
    fan-out, tracks the big side. No false positives by construction
    (every flagged pair is exactly scored); recall < 1 is the LSH
    trade, gated by the q166 invariant against a brute-force numpy
    cross-check.

    Returns one row per CONTAMINATED train vector:
    (vec_id, bench_id, cosine) for its best-matching benchmark item
    (ties broken toward the smallest bench id).
    """
    if n_planes is None:
        n = corpus_n if corpus_n is not None else train.count()
        n_planes = derive_lsh_planes(
            n, n_tables, target_candidates, multiprobe=multiprobe_bits >= 1
        )
    train = spread_for_cpu(train)

    # LAZY checkpoints (r14, verdict item 4): the three eager barriers
    # here (train-side normalize, bench-side normalize, bench buckets)
    # serialized three driver round-trips before the query's own job —
    # the dominant share of q166's wall at sf0.1, where each barrier
    # costs ~0.3 s of protocol latency. Lazy keeps the identical block
    # storage and reuse (each table still computes once) but
    # materializes inside the single consuming action.
    def normed(frame):
        return frame.select(
            F.col(id_col), l2_normalize(vec_col).alias("_vn")
        ).localCheckpoint(eager=False)

    def bucketed(vn):
        return vn.select(
            F.col(id_col),
            F.posexplode(_lsh_signatures("_vn", n_tables, n_planes)).alias(
                "table", "bucket"
            ),
        )

    vn_t, vn_b = normed(train), normed(bench)
    bt = bucketed(vn_t)
    bb = bucketed(vn_b).localCheckpoint(eager=False)

    t_ids = bt.select("table", "bucket", F.col(id_col).alias("train_id"))
    b_ids = bb.select("table", "bucket", F.col(id_col).alias("bench_id"))
    cand = t_ids.join(b_ids, ["table", "bucket"]).select("train_id", "bench_id")
    if multiprobe_bits >= 1 and n_planes > 0:
        probes = bb.select(
            F.col(id_col).alias("bench_id"), "table",
            F.explode(
                F.array(*[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(n_planes)
                ])
            ).alias("bucket"),
        )
        cand = cand.unionByName(
            t_ids.join(probes, ["table", "bucket"]).select(
                "train_id", "bench_id"
            )
        )
    # threshold on the SAME rounded value the output carries: the
    # DuckDB twin rounds before its WHERE, so filtering the raw dot
    # here would disagree on any pair in the ~5e-7 band just below
    # threshold (r6 code-review finding)
    scored = (
        cand.distinct()
        .join(
            vn_t.select(F.col(id_col).alias("train_id"), F.col("_vn").alias("_vt")),
            "train_id",
        )
        .join(
            vn_b.select(F.col(id_col).alias("bench_id"), F.col("_vn").alias("_vb")),
            "bench_id",
        )
        .select(
            F.col("train_id").alias(id_col),
            "bench_id",
            oracle_round(dot("_vt", "_vb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    # best benchmark match per train vector: one keyed max_by — ties
    # (same rounded cosine) go to the smallest bench id via the
    # negated-id struct ordering
    best = F.max(
        F.struct(F.col("cosine"), (-F.col("bench_id")).alias("_nid"))
    ).alias("_best")
    return (
        scored.groupBy(id_col)
        .agg(best)
        .select(
            id_col,
            (-F.col("_best._nid")).alias("bench_id"),
            F.col("_best.cosine").alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-compression scale path
# ---------------------------------------------------------------------------


def _pq_codebooks(sample, m: int, n_codes: int, seed: int, iters: int = 15):
    """Train per-subspace k-means codebooks on a (n, dim) numpy sample.

    Deterministic: seeded Generator per subspace, fixed Lloyd
    iteration count, empty clusters re-seeded to the point farthest
    from its centroid (ties broken by row index). Returns
    (m, n_codes, dim//m) float64.
    """
    import numpy as np

    n, dim = sample.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    books = np.empty((m, n_codes, dsub))
    for s in range(m):
        X = sample[:, s * dsub : (s + 1) * dsub]
        rng = np.random.default_rng(seed + 7919 * s)
        cent = X[rng.choice(n, size=min(n_codes, n), replace=False)].copy()
        if len(cent) < n_codes:  # tiny sample: pad by repeating rows
            cent = cent[np.arange(n_codes) % len(cent)]
        x_sq = (X**2).sum(axis=1, keepdims=True)
        for _ in range(iters):
            # ||x-c||² = ||x||² + ||c||² - 2<x,c> — one matmul, no
            # (n, k, dsub) broadcast tensor
            d2 = x_sq + (cent**2).sum(axis=1)[None, :] - 2.0 * (X @ cent.T)
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                mask = assign == c
                if mask.any():
                    cent[c] = X[mask].mean(axis=0)
                else:  # deterministic re-seed: farthest point overall
                    cent[c] = X[d2.min(axis=1).argmax()]
        books[s] = cent
    return books


def pq_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    m: int = 16,
    n_codes: int = 256,
    train_n: int = 2048,
    rerank_factor: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k via product quantization (ADC) + exact
    re-rank — the ANN variant whose point is MEMORY, not candidate
    pruning: each unit-normalized corpus vector compresses to ``m``
    sub-codes (m bytes at n_codes<=256; dim·4 bytes → m bytes is
    16x at the defaults on the 64-dim fixture, recall@10 = 1.0
    measured at both the 500- and 2,000-vector corpora; m=8 doubles
    compression at ~0.77 recall), so at 100 TB the ADC scan reads a
    code table orders of magnitude smaller than the raw embedding
    column — and the scan itself is pure JVM expression work.

    1. TRAIN (driver, bounded): deterministic hash-ordered sample of
       ``train_n`` unit vectors → per-subspace k-means codebooks
       (standard PQ; sample-based training is how every production PQ
       index is built — the sample is O(train_n·dim), never O(corpus)).
    2. ENCODE (distributed, Arrow): one pandas_udf batch-argmins each
       subspace against its codebook → ``codes array<int>`` — the only
       Python in the operator, amortized over whole batches.
    3. ADC SCAN (distributed, expression-only): per query a lookup
       table lut[s·n_codes + c] = <q_sub, codebook[s][c]> (tiny:
       m·n_codes doubles/query, broadcast); approximate dot =
       aggregate(transform(codes, (c, s) -> lut[s·n_codes + c]), sum)
       — bracket indexing + higher-order functions, whole-stage
       codegen, no UDF on the 100 TB side.
    4. RE-RANK (distributed): exact cosine only for the top
       ``rerank_factor·k`` ADC candidates per query (joined back to
       the raw vectors by id) → final rank window keeps k.

    Approximate by construction → rows-only query; the invariant gate
    is recall@10 vs the exact q38 baseline (same contract as the
    LSH/IVF paths).
    """
    import numpy as np

    spark = df.sparkSession
    # queries are few by contract; their dim fixes the codebook shape
    # (no extra corpus job)
    q_rows = query_df.select(
        "query_id", l2_normalize("query_vec").alias("_nq")
    ).collect()
    if not q_rows:
        raise ValueError("pq_topk: query_df is empty")
    dim = len(q_rows[0]["_nq"])

    # -- 1. train: hash-ordered deterministic sample (content-stable,
    # no full-corpus collect; xxhash64 order is shuffle-independent).
    # Null embeddings are excluded — a None in the sample would turn
    # np.asarray ragged and crash the codebook fit.
    sample_rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), l2_normalize(vec_col).alias("_nv"))
        .orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(train_n)
        .collect()
    )
    sample = np.asarray([r["_nv"] for r in sample_rows], dtype=np.float64)
    books = _pq_codebooks(sample, m=m, n_codes=n_codes, seed=seed)
    dsub = dim // m
    flat_books = books.reshape(m * n_codes, dsub)

    # -- 2. encode corpus to sub-codes (Arrow batches; codebook ships
    # in the closure — m·n_codes·dsub doubles, KBs)
    @F.pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        out = []
        M = np.asarray(
            [np.zeros(dim) if x is None else np.asarray(x, dtype=np.float64) for x in v]
        )
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        M = M / norms
        codes = np.empty((len(M), m), dtype=np.int32)
        for s in range(m):
            X = M[:, s * dsub : (s + 1) * dsub]
            # ||x-c||² argmin == (||c||² - 2<x,c>) argmin per subspace
            d2 = (books[s] ** 2).sum(axis=1)[None, :] - 2.0 * (X @ books[s].T)
            codes[:, s] = d2.argmin(axis=1)
        for x, row in zip(v, codes):
            out.append(None if x is None else [int(c) for c in row])
        return pd.Series(out, dtype=object)

    coded = spread_for_cpu(df).select(
        F.col(id_col), encode(F.col(vec_col)).alias("codes")
    )

    # -- 3. per-query LUTs (queries are few; computed driver-side from
    # the same codebooks, broadcast as literal arrays)
    lut_rows = []
    for r in q_rows:
        q = np.asarray(r["_nq"], dtype=np.float64)
        qsubs = q.reshape(m, dsub)
        lut = np.einsum("sd,scd->sc", qsubs, books).reshape(-1)
        lut_rows.append((r["query_id"], [float(x) for x in lut]))
    # Arrow-path creation: no Python-worker tasks per broadcast build
    luts = local_df(spark, lut_rows, "query_id bigint, lut array<double>")

    adc = (
        coded.filter(F.col("codes").isNotNull())
        .join(F.broadcast(luts))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            F.expr(
                f"aggregate(transform(codes, (c, s) -> lut[s * {n_codes} + c]), "
                "0D, (acc, x) -> acc + x)"
            ).alias("_adc"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("_adc"), F.asc(id_col))
    cand = (
        adc.withColumn("_r", F.row_number().over(wa))
        .filter(F.col("_r") <= rerank_factor * k)
        .select("query_id", id_col)
    )

    # -- 4. exact re-rank of the short candidate list
    scored = (
        cand.join(df.select(F.col(id_col), F.col(vec_col)), id_col)
        .join(F.broadcast(query_df), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            oracle_round(cosine_similarity(vec_col, "query_vec"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def _kmeans_assign(vec_col: str, centroids) -> F.Column:
    """Nearest-centroid assignment for one Lloyd round as ONE
    vectorized pandas kernel — a (batch×dim)@(dim×k) matmul + argmin
    instead of k interpreted zip_with/aggregate distances per row
    (the `_lsh_signatures` precedent: the sanctioned Arrow-batched
    exception to the no-UDF rule; k·dim = 1-4k multiply-adds per row
    cannot stay in codegen at acceptable cost). ``centroids`` is a
    (k, dim) numpy array captured by closure — k·dim floats shipped
    once per task via the serialized udf, the Spark-idiomatic
    equivalent of a broadcast variable at this size. Returns
    struct(cluster int, d2 double); null/ragged vectors get cluster
    -1 so they never perturb a mean."""
    import numpy as np

    C = centroids.astype(np.float64)  # (k, dim)
    c_sq = (C**2).sum(axis=1)  # (k,)

    @F.pandas_udf("cluster int, d2 double")
    def assign(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cluster": [], "d2": []})
        dim = C.shape[1]
        ok = np.array(
            [x is not None and len(x) == dim for x in v], dtype=bool
        )
        M = np.stack(
            [
                np.zeros(dim) if not o else np.asarray(x, dtype=np.float64)
                for x, o in zip(v, ok)
            ]
        )
        # ||x-c||² = ||x||² + ||c||² - 2<x,c> — one matmul, no
        # (n, k, dim) broadcast tensor (the _pq_codebooks identity)
        d2 = (M**2).sum(axis=1, keepdims=True) + c_sq[None, :] - 2.0 * (M @ C.T)
        best = d2.argmin(axis=1)
        out = pd.DataFrame(
            {
                "cluster": best.astype("int32"),
                "d2": d2[np.arange(len(M)), best],
            }
        )
        out.loc[~ok, "cluster"] = -1
        out.loc[~ok, "d2"] = None
        return out

    return assign(F.col(vec_col))


def _kmeans_assign_frame(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    keep_vec: bool = True,
) -> DataFrame:
    """`_kmeans_assign` as a `mapInArrow` pass over an (id, vec)
    frame — the flat-buffer form of the same kernel (optimization
    guide §4.2): the list column's contiguous values buffer reshapes
    to the (n, dim) matrix in ONE `np.asarray` instead of the
    pandas_udf path's per-row ndarray objects (`np.stack` over a
    Series), and the vector column passes through to the output
    batch zero-copy for the update stage's posexplode. The math is
    the identical float64 matmul+argmin, so clusters AND d2 are
    bitwise equal to `_kmeans_assign` (asserted in
    tests/test_similarity.py). Irregular rows (null or wrong-dim)
    take the old kernel's defensive row path: cluster -1, d2 null —
    unreachable from `kmeans_clusters` (inputs pass
    `usable_vectors`) but kept so the two kernels stay contracts-
    equal. Output columns: (id[, vec], cluster, d2)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    C = centroids.astype(np.float64)  # (k, dim)
    c_sq = (C**2).sum(axis=1)
    dim = C.shape[1]
    in_fields = {f.name: f for f in vecs.schema.fields}
    out = [in_fields[id_col]]
    if keep_vec:
        out.append(in_fields[vec_col])
    out += [
        T.StructField("cluster", T.IntegerType()),
        T.StructField("d2", T.DoubleType()),
    ]
    out_schema = T.StructType(out)
    src = vecs.select(id_col, vec_col)

    def gen(batches):
        for b in batches:
            n = b.num_rows
            vec = b.column(1)
            counts = np.diff(vec.offsets.to_numpy(zero_copy_only=False))
            ok = (counts == dim) & np.asarray(
                vec.is_valid(), dtype=bool
            )[: len(counts)]
            if ok.all():
                M = np.asarray(
                    vec.flatten(), dtype=np.float64
                ).reshape(n, dim)
            else:
                M = np.zeros((n, dim))
                rows = vec.to_pylist()
                for i, (o, x) in enumerate(zip(ok, rows)):
                    if o:
                        M[i] = np.asarray(x, dtype=np.float64)
            d2 = (M**2).sum(axis=1, keepdims=True) + c_sq[None, :] - 2.0 * (
                M @ C.T
            )
            best = d2.argmin(axis=1)
            cl = best.astype("int32")
            dd = d2[np.arange(n), best]
            cols = [b.column(0)]
            if keep_vec:
                cols.append(vec)
            if ok.all():
                cols.append(pa.array(cl, type=pa.int32()))
                cols.append(pa.array(dd, type=pa.float64()))
            else:
                cols.append(
                    pa.array(
                        [int(c) if o else -1 for c, o in zip(cl, ok)],
                        type=pa.int32(),
                    )
                )
                cols.append(
                    pa.array(
                        [float(v) if o else None for v, o in zip(dd, ok)],
                        type=pa.float64(),
                    )
                )
            yield pa.RecordBatch.from_arrays(
                cols, names=[f.name for f in out_schema.fields]
            )

    return src.mapInArrow(gen, out_schema)


def _kmeans_round_stats(vecs: DataFrame, vec_col: str, centroids) -> DataFrame:
    """ONE Lloyd round's assign + per-cluster sufficient statistics
    fused into a single `mapInArrow` pass (guide §4.2; r13 verdict
    item 3): the kernel runs the identical float64 matmul+argmin as
    `_kmeans_assign_frame`, then accumulates (count, Σx per dim, Σd2)
    per cluster ACROSS its partition's batches in numpy — the map-side
    combine the old plan paid a JVM posexplode (n·dim rows) + hash
    aggregate for. Output: k rows per TASK with columns
    (cluster int, n long, sd2 double, sx array<double>) — corpus-size-
    independent per task, so the whole frame is |tasks|·k rows.

    Rows the assign kernel would mark invalid (null / wrong-dim — the
    defensive path, unreachable from `kmeans_clusters` whose inputs
    pass `usable_vectors`) are excluded from every statistic, exactly
    as cluster -1 rows never reached the old per-dim aggregate."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    C = centroids.astype(np.float64)  # (k, dim)
    c_sq = (C**2).sum(axis=1)
    kk, dim = C.shape
    out_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("sd2", T.DoubleType()),
            T.StructField("sx", T.ArrayType(T.DoubleType())),
        ]
    )

    def gen(batches):
        counts = np.zeros(kk, dtype=np.int64)
        sums = np.zeros((kk, dim))
        sd2s = np.zeros(kk)
        for b in batches:
            n = b.num_rows
            vec = b.column(0)
            lens = np.diff(vec.offsets.to_numpy(zero_copy_only=False))
            ok = (lens == dim) & np.asarray(
                vec.is_valid(), dtype=bool
            )[: len(lens)]
            if ok.all():
                M = np.asarray(vec.flatten(), dtype=np.float64).reshape(n, dim)
            else:
                M = np.zeros((n, dim))
                rows = vec.to_pylist()
                for i, (o, x) in enumerate(zip(ok, rows)):
                    if o:
                        M[i] = np.asarray(x, dtype=np.float64)
            d2 = (M**2).sum(axis=1, keepdims=True) + c_sq[None, :] - 2.0 * (
                M @ C.T
            )
            best = d2.argmin(axis=1)
            dd = d2[np.arange(n), best]
            if not ok.all():
                best, dd, M = best[ok], dd[ok], M[ok]
            np.add.at(counts, best, 1)
            np.add.at(sd2s, best, dd)
            np.add.at(sums, best, M)
        # flat-buffer list column: one offsets array over the ravelled
        # (k, dim) sums — no per-row Python list materialization
        sx = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (kk + 1) * dim, dim, dtype=np.int32)),
            pa.array(sums.ravel(), type=pa.float64()),
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.arange(kk, dtype=np.int32)),
                pa.array(counts, type=pa.int64()),
                pa.array(sd2s, type=pa.float64()),
                sx,
            ],
            names=["cluster", "n", "sd2", "sx"],
        )

    return vecs.select(vec_col).mapInArrow(gen, out_schema)


def usable_vectors(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[DataFrame | None, int | None]:
    """The kernel-usable subset of an embedding frame — THE single
    definition of which vectors the clustering kernels accept: null
    vectors dropped, dim probed from the first non-empty vector,
    ragged (wrong-dim) rows excluded. Returns ``(frame, dim)``, or
    ``(None, None)`` when no usable vector exists.

    Shared by ``kmeans_clusters`` and the curation pipeline's
    cluster-mix stage (plans/llm_curation.py), whose
    keep-on-missing-evidence rule requires its drop-set frame to be
    EXACTLY the set of vectors that got clustered — one shared
    predicate means the two can never diverge (r13 review)."""
    vecs = df.filter(F.col(vec_col).isNotNull())
    probe = vecs.select(vec_col).filter(F.size(vec_col) > 0).first()
    if probe is None:
        return None, None
    dim = len(probe[0])
    return vecs.filter(F.size(vec_col) == dim), dim


def kmeans_clusters(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    iters: int = 8,
) -> tuple[DataFrame, list[float]]:
    """Distributed Lloyd k-means over an embedding column — the
    coarse clustering behind semantic data mixing (SemDeDup, Abbas et
    al. 2023 cluster-then-prune; cluster-balanced sampling in DoReMi-
    style mixture tuning) and a trainable IVF coarse quantizer.

    Spark-first shape, per iteration (plan depth CONSTANT — centroids
    leave the plan as numpy between rounds, so no lineage growth and
    no checkpoints):
      - ASSIGN + UPDATE fused: ONE Arrow-batched matmul+argmin kernel
        (`_kmeans_round_stats`) that also accumulates per-cluster
        (count, Σx, Σd2) sufficient statistics in numpy as it assigns
        — the map-side combine the pre-r14 plan paid a JVM posexplode
        (n·dim rows) + hash aggregate for. Per task the output is k
        rows, summed by ``scale.sum_partials``: at or under
        ``scale.DRIVER_LOCAL_MAX["kmeans"]`` total partial rows they
        are collected directly (one map-only job per round, no
        exchange), above it they posexplode to (cluster, dim) and keep
        the corpus-size-independent k·dim collect (the classifier's
        (dim+1)-float gradient precedent, operators/classifier.py).
      - empty clusters re-seed deterministically to up to |empty|
        DISTINCT farthest points (desc d2, min-id tiebreak; the
        `_pq_codebooks` rule in distributed form) — one extra
        assignment-kernel pass over the checkpointed corpus per
        round that actually has an empty cluster; when the corpus
        has fewer points than empty clusters the surplus stay empty
        (duplicating a point would recreate the argmin tie).

    Storage note (r11 verdict watch-item): the eager localCheckpoint
    below pins the FILTERED (id, vector) projection — not the source
    rows — in executor storage for the duration of the fit, because
    every Lloyd round re-reads it (the q136/q122 must-materialize
    lesson). That is 8·dim bytes per vector: ~3 TB at 10⁹ vectors ×
    dim 384 — executor-memory+disk scale, not driver scale; local
    checkpoints spill to executor disk (MEMORY_AND_DISK) when RAM is
    short. If even the projection exceeds cluster storage, the
    alternatives are a persisted parquet staging table (pay one write,
    read per round) or fewer iterations — NOT dropping the
    materialization, which re-runs the upstream scan k·iters times.

    Practical k ceiling (measured, SCALEPROOF `q187_kmeans_k`): the
    three k-growing terms are the per-round driver collect (k·dim
    rows), the broadcast centroid closure (k·dim·8 bytes per task),
    and the assignment matmul (k·dim FLOPs/row). At the IVF-coarse-
    quantizer shape k=256 on the x10 fixture the round cost is ×3.3
    k=16's with driver traffic at 0.5 MB/round and a 131 KB closure —
    comfortable; at k≈4096 and dim 1024 the closure alone is 32 MB
    into every task and the collect ~134 MB/round, so treat k in the
    low thousands as the ceiling and shard the quantizer (train per
    coarse partition) beyond it.

    Init is sample-free and engine-portable: the k rows with the
    smallest ``xxhash64(id)`` (deterministic, no RNG, no collect of
    raw vectors beyond k of them). Returns ``(assignments, inertia)``
    — assignments (id, cluster, d2) for every non-null vector, and
    the per-iteration total inertia list, which is NON-INCREASING by
    Lloyd's monotonicity; the replay invariant pins that property
    plus assignment parity vs a numpy reference on the driver-checked
    fixture (tests/test_similarity.py)."""
    import numpy as np

    vecs, dim = usable_vectors(df.select(id_col, vec_col), vec_col)
    if vecs is None:
        raise ValueError("kmeans_clusters: no non-empty vectors")
    # spread BEFORE the checkpoint: the checkpoint pins the scan's
    # partitioning for every Lloyd round, and a single-split embedding
    # file otherwise runs EVERY round's assign+update single-threaded
    # (measured: 6 serial 1-task stages of ~0.15 s each at sf0.1).
    # spread_for_cpu's size/shuffle guards make it a no-op at scale.
    # LAZY checkpoint (r14): the seed job below is the first consumer
    # and materializes the blocks as a side effect — same storage,
    # same per-round block reuse, one fewer serial driver round-trip
    # than the eager barrier (the BPE-train pipelining pattern).
    vecs = spread_for_cpu(vecs).localCheckpoint(eager=False)

    seed_rows = (
        vecs.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    C = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in seed_rows]
    )
    if len(C) < k:
        C = C[np.arange(k) % len(C)]

    # each round: one fused assign+statistics pass, k partial rows per
    # task, summed by scale.sum_partials (see the docstring)
    inertia: list[float] = []
    for _ in range(iters):
        part = sum_partials(
            _kmeans_round_stats(vecs, vec_col, C),
            "cluster", ["n", "sd2", "sx"], k, "kmeans",
        )
        counts, sums = part["n"], part["sx"]
        inertia.append(float(part["sd2"].sum()))
        nonempty = counts > 0
        C_prev = C
        if nonempty.any():  # else no sums (width 0): the reseed reports it
            C = np.where(
                nonempty[:, None], sums / np.maximum(counts, 1)[:, None], C
            )
        if nonempty.all() and np.array_equal(C, C_prev):
            # exact fixpoint (and no reseed pending): every remaining
            # round would recompute the identical assignment, the
            # identical per-round inertia, and the identical
            # centroids, so the final assignment below is unchanged —
            # stop paying a full corpus pass per no-op round. The
            # inertia trajectory those rounds would report is the
            # fixpoint value, so pad it (contract: one entry per
            # requested iteration)
            inertia.extend([inertia[-1]] * (iters - len(inertia)))
            break
        if not nonempty.all():
            # deterministic re-seed: the |empty| DISTINCT farthest
            # points (desc d2, min-id tiebreak) in ONE pass — seeding
            # every empty cluster with the same point would leave all
            # but one of them empty again (they tie on argmin). This
            # probe re-runs the assignment kernel over the (local-
            # checkpointed) corpus under THIS round's pre-update
            # centroids (C_prev — the same frame the pre-r14 loop
            # ordered by, and the lazy frame replayed its kernel here
            # anyway) — one extra Arrow pass per round that HAS an
            # empty cluster, which is rare after the hash-ranked init
            # and absent on the test fixtures.
            empty = np.flatnonzero(~nonempty)
            assigned = _kmeans_assign_frame(vecs, id_col, vec_col, C_prev)
            far = (
                assigned.orderBy(F.desc("d2"), F.col(id_col))
                .select(vec_col)
                .limit(len(empty))
                .collect()
            )
            if not far:
                raise ValueError(
                    "kmeans_clusters: cannot reseed empty clusters — "
                    "assignment table has no rows"
                )
            # fewer distinct farthest points than empty clusters
            # (corpus smaller than |empty|): reseed only the first
            # len(far) — duplicating the last point across the rest
            # would recreate the argmin tie this pass exists to avoid,
            # and those clusters stay empty either way
            for i, c in enumerate(empty[: len(far)]):
                C[c] = np.asarray(far[i][vec_col], dtype=np.float64)

    final = _kmeans_assign_frame(vecs, id_col, vec_col, C, keep_vec=False)
    return final, inertia


def cluster_balanced_mix(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    iters: int = 8,
    per_cluster_cap: int | None = None,
) -> DataFrame:
    """Cluster-balanced selection over an embedding corpus: k-means,
    then keep up to ``per_cluster_cap`` members per cluster by
    CENTRALITY (smallest d2 first, id tiebreak) — the semantic twin
    of the per-domain cap (operators/training.py domain_cap): a
    corpus dominated by one semantic mode (100 TB of near-identical
    boilerplate pages) is rebalanced once at its cluster rows, not
    row-by-row downstream. Default cap = ceil(2·n/k) (soft balance:
    clusters under the cap keep everything).

    The rank window partitions by CLUSTER — at most k partitions of
    bounded skew after the cap rationale, and the window input is the
    (id, cluster, d2) assignment table, never the vectors. Returns
    (id, cluster, d2, cluster_n) for kept rows."""
    assigned, _ = kmeans_clusters(
        df, vec_col=vec_col, id_col=id_col, k=k, iters=iters
    )
    # materialize the (id, cluster, d2) table ONCE: it is referenced
    # three ways (the cap count, the sizes aggregate, the window
    # input) and each un-checkpointed reference re-runs the final
    # assignment kernel — the explain showed the ArrowEvalPython
    # matmul duplicated per subtree, i.e. three corpus passes for one
    # logical table (the q136/q122 candidate-table lesson). 16 bytes
    # per row, freed by the caller's action. LAZY (r14): the count()
    # below is the first action and materializes the blocks in the
    # same job — one fewer serial kernel pass than the eager barrier
    # (eager ran the kernel, then count re-read the stored blocks).
    assigned = assigned.localCheckpoint(eager=False)
    n = assigned.count()
    cap = per_cluster_cap or -(-2 * n // k)
    w = Window.partitionBy("cluster").orderBy("d2", id_col)
    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("cluster_n"))
    return (
        assigned.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= cap)
        .drop("_r")
        .join(F.broadcast(sizes), "cluster")
    )


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    n_components: int = 16,
    prefold_threshold: int = 4096,
):
    """Fit PCA over an embedding corpus — the dimensionality-reduction
    step a training-data pipeline runs ahead of ANN indexing, k-means
    mixing, and embedding-drift dashboards (and the classical
    whitening stage before PQ, Jégou et al. 2011).

    Spark-first shape — the corpus is touched ONCE and never
    shuffled: a `mapInPandas` kernel reduces each Arrow batch to the
    sufficient statistics (n, Σx, XᵀX), emitted CHUNKED as dim rows
    (i, n, s_i, gram_row_i) per partition, and ONE groupBy(i) Arrow
    fold sums them with dim-way reducer parallelism — no single
    reducer ever sees more than P rows of ~8·dim bytes, and the
    driver collect is exactly the dim×dim gram (the fold-shape
    measurements behind this layout are documented at the fold).
    Driver state is the dim×dim Gram matrix (64×64 = 4 KB at the
    fixture dim; 4 MB at dim 1024), on which numpy's `eigh` runs the
    eigendecomposition — the same bounded-driver-work contract as the
    classifier's (dim+1)-float gradient and k-means' k·dim centroid
    collect. An explode-based (i, j) pair aggregate was rejected:
    dim² rows per VECTOR through a shuffle (0.8B rows at 200k×64)
    versus dim² floats per PARTITION here.

    Deterministic: covariance is exact (no sampling), `eigh` returns
    ascending eigenvalues (we take the top ``n_components`` reversed),
    and each component's sign is canonicalized (largest-|coefficient|
    entry made positive) so results are reproducible across sessions
    and engines. Null/ragged vectors are excluded.

    Returns ``(components, mean, explained_variance_ratio)`` — numpy
    arrays of shape (n_components, dim), (dim,), (n_components,).
    """
    import numpy as np

    probe = df.select(vec_col).filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    ).first()
    if probe is None:
        raise ValueError("pca_fit: no non-empty vectors")
    dim = len(probe[0])
    vecs = df.select(F.col(vec_col).alias("v")).filter(
        F.col("v").isNotNull() & (F.size("v") == dim)
    )

    # The gram is reduced CHUNKED BY ROW, never as one wide cell. A
    # single global fold of per-partition (n, Σx, XᵀX) rows would
    # funnel EVERY partial — (1 + dim + dim²) doubles, ~4.7 MB at dim
    # 768 — into one reducer (10k input partitions at dim 768 is
    # ~47 GB through one task, the scale shape the r11 verdict
    # flagged). The two fold shapes that keep the partial as one wide
    # row both measured badly at dim 768 (50k×768 fixture, 64
    # partitions): a JVM collect_list + zip_with fold costs ~8 s for
    # 64 partials — higher-order-function lambdas are interpreted per
    # element, never codegen'd (75M interpreted adds vs ~2 s for the
    # whole kernel) — and a grouped applyInPandas fold of the same 64
    # rows costs 36-42 s (FlatMapGroupsInPandas degrades on multi-MB
    # cells; an Arrow collect of the identical rows takes 1.4 s).
    # Emitting the gram as dim rows (i, n, s_i, g_row_i) of ~8·dim
    # bytes instead gives ONE groupBy(i) fold with dim-way reducer
    # parallelism, small Arrow cells, numpy vectorization inside the
    # fold, and a driver collect of exactly dim×(dim+2) doubles — the
    # gram the driver needs anyway (4.7 MB at dim 768), independent of
    # corpus size and partition count. Per-group reducer input is
    # P × 8·dim bytes (60 MB at 10k partitions, dim 768); sub-chunk
    # the key to (i, pid % c) if P ever makes that the binding term.
    stat_schema = "i int, n long, s double, g array<double>"

    def stats(batches):
        n = 0
        s = np.zeros(dim)
        g = np.zeros((dim, dim))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            n += len(M)
            s += M.sum(axis=0)
            g += M.T @ M
        if n:
            idx = np.arange(dim)
            yield pd.DataFrame(
                {
                    "i": idx.astype("int32"),
                    "n": np.where(idx == 0, n, 0),
                    "s": s,
                    "g": [row.tolist() for row in g],
                }
            )

    partials = vecs.mapInPandas(stats, schema=stat_schema)

    def fold(pdf):
        return pd.DataFrame(
            {
                "i": [int(pdf["i"].iloc[0])],
                "n": [int(pdf["n"].sum())],
                "s": [float(pdf["s"].sum())],
                "g": [
                    np.sum(
                        np.stack([np.asarray(x) for x in pdf["g"]]), axis=0
                    ).tolist()
                ],
            }
        )

    # A single groupBy(i) fold's reducer input is P rows of ~8·dim
    # bytes per dim-group — fine into the tens of thousands of
    # partitions (4096 × 6 KB = 25 MB), but a 100 TB scan is ~800k
    # 128 MB splits, i.e. ~5 GB per group, and applyInPandas
    # MATERIALIZES its group. Above ``prefold_threshold`` partitions
    # an extra (i, spark_partition_id()%64)-keyed fold bounds level 1
    # to P/64 rows per group and level 2 to exactly <=64 rows per i.
    # The pre-fold is NOT unconditional: at normal P it creates
    # dim×64 one-row Arrow groups whose per-invocation overhead
    # measured ×4 on the dim-768 fixture (2.8 → 11.1 s) — it only
    # pays when P/64 rows amortize it, which is exactly when it is
    # needed.
    if num_partitions(vecs) > prefold_threshold:
        partials = (
            partials.withColumn("_p", F.spark_partition_id() % 64)
            .groupBy("i", "_p")
            .applyInPandas(lambda _k, pdf: fold(pdf), schema=stat_schema)
        )
    folded = partials.groupBy("i").applyInPandas(fold, schema=stat_schema)
    # audit hook: tests/test_similarity.py asserts the chunked-fold
    # shape (one hashpartitioning(i) exchange feeding the Arrow fold)
    # on the plan the fit ACTUALLY ran, not a replica
    global _LAST_FIT_PLAN
    _LAST_FIT_PLAN = folded._jdf.queryExecution().executedPlan().toString()
    rows = folded.collect()  # dim rows — dim×(dim+2) doubles total
    if len(rows) != dim:
        raise ValueError(
            f"pca_fit: gram fold returned {len(rows)} rows, expected {dim}"
        )
    n = sum(r["n"] for r in rows)
    mean = np.zeros(dim)
    gram = np.zeros((dim, dim))
    for r in rows:
        mean[r["i"]] = r["s"]
        gram[r["i"]] = r["g"]
    mean /= n
    cov = gram / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T  # (k, dim)
    # sign canonicalization: make each component's largest-|coef|
    # entry positive (ties broken by lowest index via argmax)
    for i in range(len(comps)):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(np.trace(cov))
    evr = (
        np.maximum(evals[order], 0.0) / total_var
        if total_var > 0
        else np.zeros(len(order))
    )
    return comps, mean, evr


def pca_project(
    df: DataFrame,
    components,
    mean,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto fitted PCA components — one Arrow-batched
    (batch×dim)@(dim×k) matmul kernel (the `_kmeans_assign` shape);
    components/mean travel as numpy closure state, k·dim floats per
    task. Null/ragged vectors project to null."""
    import numpy as np

    C = np.asarray(components, dtype=np.float64)  # (k, dim)
    mu = np.asarray(mean, dtype=np.float64)
    dim = C.shape[1]

    @F.pandas_udf("array<double>")
    def proj(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        ok = np.array([x is not None and len(x) == dim for x in v], dtype=bool)
        M = np.stack(
            [
                np.zeros(dim) if not o else np.asarray(x, dtype=np.float64)
                for x, o in zip(v, ok)
            ]
        )
        P = (M - mu) @ C.T
        return pd.Series(
            [None if not o else row.tolist() for o, row in zip(ok, P)]
        )

    return df.withColumn(out_col, proj(F.col(vec_col)))
