"""Training-data assembly operators (SURVEY.md §2.11 north star):
benchmark decontamination, deterministic hash splits, sequence
packing, TF-IDF term weighting.

These are the corpus-preparation steps downstream of dedup/quality
filtering in an LLM data pipeline. All pure Column expressions —
portable hashing (md5, reproducible in the DuckDB oracle), no Python
in the plan, and every shuffle is keyed so the plans scale: the
benchmark shingle set broadcasts (benchmarks are MBs against a
multi-TB train corpus), splits are stateless per-row hashes, packing
is one bounded window per shard.

Decontamination has one entry point for pipelines,
``decontaminate_any_size``: exact, against the benchmark's shingle
set fetched to the driver, while that set is within
``scale.DRIVER_LOCAL_MAX["decon"]``; above it, the Bloom prefilter
(the ``bloom_decontaminate`` body) over that set, materialized once.
Both keep the same docs.
"""

from __future__ import annotations

import math

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from climate_data_pipelines_spark.functions.text import shingles, tokens
from climate_data_pipelines_spark.operators.scale import (
    CPU_CHUNK_BYTES,
    fetch_at_most,
    spread_for_cpu,
)


def _md5_bucket(col, seed: str, n_buckets: int):
    """Deterministic bucket in [0, n_buckets): md5 of seed||value, top
    15 hex digits as a bigint (same expression is expressible in ANSI
    SQL / DuckDB, so splits are reproducible across engines)."""
    h = F.md5(F.concat(F.lit(seed), col.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % n_buckets


def contaminated_ids(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Benchmark-contamination detection: train docs sharing any
    k-token shingle with a benchmark doc (the n-gram overlap rule used
    to decontaminate pretraining corpora against eval sets).

    Plan shape: benchmark → distinct shingles (tiny: broadcast);
    train → exploded distinct shingles → broadcast LEFT SEMI join →
    distinct doc_id. One shuffle (the final distinct on doc_id); the
    100 TB train side is never shuffled on the shingle key.
    """
    return _ids_sharing_a_shingle(
        train, _shingle_set(benchmark, text_col, k), text_col, id_col, k
    )


def _shingle_set(benchmark: DataFrame, text_col: str, k: int) -> DataFrame:
    """The distinct k-token shingles of ``benchmark`` (one ``shingle``
    column); a null text contributes none."""
    return benchmark.select(
        F.explode(F.array_distinct(shingles(text_col, k))).alias("shingle")
    ).distinct()


def _ids_sharing_a_shingle(
    train: DataFrame, shingle_set: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Distinct ids of the ``train`` docs with a k-token shingle in
    ``shingle_set``: the exploded train shingles probe the broadcast
    set in a LEFT SEMI join."""
    train_sh = train.select(
        F.col(id_col), F.explode(F.array_distinct(shingles(text_col, k))).alias("shingle")
    )
    return (
        train_sh.join(F.broadcast(shingle_set), "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Drop contaminated train docs (left anti against the flagged id
    set — ids are small relative to the corpus, broadcastable)."""
    return _drop_sharing(train, _shingle_set(benchmark, text_col, k), text_col, id_col, k)


def _drop_sharing(
    train: DataFrame, shingle_set: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """``train`` without the docs that share a k-token shingle with
    ``shingle_set``: the broadcast anti-join against their ids."""
    bad = _ids_sharing_a_shingle(train, shingle_set, text_col, id_col, k)
    return train.join(F.broadcast(bad), id_col, "left_anti")


def contamination_rate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document benchmark-overlap FRACTION — the graded
    decontamination signal (vs ``contaminated_ids``' binary flag):
    |distinct k-shingles(doc) ∩ benchmark| / |distinct k-shingles(doc)|.
    A doc quoting one benchmark line scores near 0; a verbatim eval
    copy scores ~1 — the number a curator thresholds on instead of
    dropping every doc that shares a single common trigram.

    Same scale shape as ``contaminated_ids``: benchmark shingles are
    tiny and broadcast; the train side explodes once and aggregates on
    its own id — it is never shuffled on the shingle key, so the plan
    holds when train is 100 TB and the benchmark is MBs. Returns
    (id, n_shingles, n_contaminated, contamination_rate).
    """
    bench_sh = (
        benchmark.select(
            F.explode(F.array_distinct(shingles(text_col, k))).alias("shingle")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train_sh = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, k))).alias("shingle"),
    )
    return (
        train_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_rate",
            F.col("n_contaminated") / F.col("n_shingles"),
        )
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Compressibility quality signal (the Gopher/MassiveText-family
    heuristic): zlib-compressed size over raw utf-8 size per document.
    Boilerplate/templated/repeated text compresses far below normal
    prose, high-entropy noise sits near (or above) 1.0 — cheap,
    language-agnostic, and orthogonal to token-level quality scores.

    DEFLATE at a fixed level is deterministic, so the score is stable
    across reruns/executors. Arrow-batched pandas UDF (stdlib zlib —
    a byte-level codec is exactly the sanctioned vectorized-Python
    case); narrow map over the corpus, no shuffle anywhere.
    Returns (id, n_bytes, n_compressed, compression_ratio).
    """
    import zlib

    @F.pandas_udf("long")
    def _zsize(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: len(zlib.compress((t or "").encode("utf-8"), level))
        )

    raw_len = F.length(F.encode(F.col(text_col), "UTF-8")).cast("long")
    return df.select(
        F.col(id_col),
        raw_len.alias("n_bytes"),
        _zsize(F.col(text_col)).alias("n_compressed"),
    ).withColumn(
        "compression_ratio",
        F.when(
            F.col("n_bytes") > 0, F.col("n_compressed") / F.col("n_bytes")
        ).otherwise(F.lit(None).cast("double")),
    )


def dsir_logratio(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    seed: str = "dsir-v1",
) -> DataFrame:
    """DSIR-style importance weight ("Data Selection for Language
    Models via Importance Resampling", Xie et al. 2023 — simplified to
    hashed unigram features): score each raw-corpus document by
    Σ_tokens log p_target(bucket(tok)) / p_raw(bucket(tok)), add-one
    smoothed over the hashed feature space. Docs that look like the
    target domain score high; importance resampling keeps raw docs
    proportionally — the data-SELECTION counterpart of the quality/
    dedup filters.

    Plan: two bucket-count aggregates (map-side combined, ≤n_buckets
    rows each), totals as 1-row broadcasts, a log-ratio weight dim of
    n_buckets rows joined broadcast onto the raw side's exploded
    tokens, one per-doc sum keyed on the doc id. The raw corpus
    shuffles only on its own id; the feature dim is KBs at any corpus
    size. md5 bucketing keeps the score bit-portable to the DuckDB
    oracle. Returns (id, n_tokens, dsir_logratio) for every raw doc
    with ≥1 token.
    """
    def bucket_tokens(df: DataFrame, keep_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if keep_id else []
        return df.select(
            *cols, F.explode(tokens(text_col)).alias("_tok")
        ).select(*cols, _md5_bucket(F.col("_tok"), seed, n_buckets).alias("b"))

    tc = bucket_tokens(target, False).groupBy("b").agg(F.count("*").alias("_ct"))
    rc = bucket_tokens(raw, False).groupBy("b").agg(F.count("*").alias("_cr"))
    t_tot = tc.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_tt"))
    r_tot = rc.agg(F.coalesce(F.sum("_cr"), F.lit(0)).alias("_rt"))
    weights = (
        rc.join(tc, "b", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("_ct"), F.lit(0)) + 1.0)
                    / (F.col("_tt") + F.lit(float(n_buckets)))
                )
                - F.log((F.col("_cr") + 1.0) / (F.col("_rt") + F.lit(float(n_buckets))))
            ).alias("_w"),
        )
    )
    return (
        bucket_tokens(raw, True)
        .join(F.broadcast(weights), "b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("_w").alias("dsir_logratio"),
        )
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: str = "strat-v1",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling — downsample over-represented
    corpus slices (by language/source/quality band) to a target mix.

    Unlike ``df.sampleBy`` (partition-order-dependent RNG: a task
    retry or AQE re-plan changes the sample), the keep decision is a
    pure content hash — ``md5(seed‖id) mod 10000 < fraction·10000`` —
    so the sample is reproducible across engines, retries and corpus
    growth (a kept doc stays kept when other docs arrive; the same
    property ``hash_split`` relies on). Stateless per-row predicate:
    no shuffle, no sampling state, pushes down past column pruning.

    ``fractions`` maps stratum value → keep fraction (resolution
    1/10000); unlisted strata keep ``default_fraction``.
    """
    bucket = _md5_bucket(F.col(id_col), seed, 10000)
    keep = F.lit(int(round(default_fraction * 10000)))
    for val, frac in sorted(fractions.items()):
        keep = F.when(
            F.col(strata_col) == F.lit(val), F.lit(int(round(frac * 10000)))
        ).otherwise(keep)
    return df.filter(bucket < keep)


def domain_cap(
    df: DataFrame,
    cap: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "cap-v1",
) -> DataFrame:
    """Cap the number of documents kept per domain/source — the C4-style
    guard against a single crawl domain dominating the training mix.

    Selection is a deterministic hash ORDER within each group
    (``md5(seed‖id)``, id tiebreak), so the kept set is a uniform
    per-domain sample that is reproducible across engines and runs,
    and SHRINK-STABLE: lowering the cap keeps a subset of the higher
    cap's picks (the hash order never changes), so re-capping a
    published corpus never churns documents that both caps admit.

    One shuffle (group key) + per-group sort. A 100 TB hot domain
    lands on one reducer here; the scale mitigation is a two-phase
    pick — broadcast an approximate per-group hash-quantile threshold
    at ~1.1·cap selectivity, prefilter, THEN run this exact window on
    the survivors — same output, bounded reducer input. The window
    ranks only (group, hash) pairs, never the document bodies, if the
    caller projects first.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def bloom_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    expected_items: int = 100_000,
    fpp: float = 0.01,
    n_hashes: int = 3,
) -> DataFrame:
    """``decontaminate`` scale path: an expression-level BLOOM FILTER
    prefilter in front of the exact shingle join — for when the
    benchmark shingle set is too big to broadcast as row strings
    (10⁹ k-grams ≈ tens of GB) but its bit-position set still fits.

    The filter is factored as relational algebra instead of a bitmap
    blob (Spark 4 does not expose ``bloom_filter_agg``/``might_contain``
    in the public registry): each shingle maps to ``n_hashes``
    positions ``xxhash64(seedᵢ‖shingle) mod n_bits``; the benchmark's
    DISTINCT position set — **bounded by n_bits ints regardless of
    benchmark size**, vs O(items·bytes) for the raw strings — is
    broadcast, and a train shingle survives only if ALL of its
    positions hit (``n_hashes`` broadcast semi-joins = O(1) hash-set
    probes per row, whole-stage codegen, no UDF). Standard Bloom
    math: fill = fpp^(1/h), n_bits = h·n / -ln(1-fill).

    EXACT-equal output to ``decontaminate``: a Bloom filter has no
    false negatives (same shingle → same positions), so every true
    hit survives to the exact semi-join, which kills the ~fpp false
    positives. The prefilter only shrinks the exploded train-shingle
    stream before the (now much smaller) exact join — so the DuckDB
    oracle is the plain exact decontamination SQL, hash-checkable.
    """
    # the benchmark shingle set is referenced 4x (3 position dims +
    # the exact verify join) but stays LAZY: it is the SMALL side by
    # the operator's own premise (a fixed eval set), the recomputes
    # fuse into pipelined stages, and an eager checkpoint here both
    # ran jobs at plan-construction time and measured SLOWER at x100
    # (6.9 s vs 5.8 s — r6 third-review finding)
    return _bloom_drop(
        train, _shingle_set(benchmark, text_col, k), text_col, id_col, k,
        expected_items, fpp, n_hashes,
    )


def _bloom_drop(
    train: DataFrame,
    bench_sh: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    expected_items: int,
    fpp: float,
    n_hashes: int = 3,
) -> DataFrame:
    """The ``bloom_decontaminate`` body against the benchmark's
    shingle set ``bench_sh``, lazy or materialized."""
    fill = fpp ** (1.0 / n_hashes)
    n_bits = max(64, int(math.ceil(n_hashes * expected_items / -math.log(1.0 - fill))))

    def pos(i: int, col):
        return F.pmod(F.xxhash64(F.concat(F.lit(f"bf{i}|"), col)), F.lit(n_bits))

    # one distinct-position dim per hash seed; each is ≤ n_bits ints.
    # spread_for_cpu: the shingle explode + 3 hash probes per row are
    # the CPU-bound stage, and a small parquet file scans as ONE split
    # — without the spread the whole prefilter runs single-threaded
    # (the minhash lesson, operators/scale.py). Derived post-shuffle
    # inputs short-circuit inside spread_for_cpu itself, so this is
    # safe for any caller.
    train_sh = spread_for_cpu(train, chunk_bytes=CPU_CHUNK_BYTES).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, k))).alias("shingle"),
    )
    prefiltered = train_sh
    for i in range(n_hashes):
        bits_i = bench_sh.select(pos(i, F.col("shingle")).alias(f"_b{i}")).distinct()
        prefiltered = prefiltered.withColumn(f"_b{i}", pos(i, F.col("shingle"))).join(
            F.broadcast(bits_i), f"_b{i}", "left_semi"
        )
    bad = (
        # the exact verify join must NOT force-broadcast bench_sh —
        # the whole premise of the bloom stage is that the raw
        # benchmark shingle strings are too big to broadcast; a plain
        # shuffle semi-join is correct at any size (AQE still picks a
        # broadcast strategy on its own when the set is small)
        prefiltered.join(bench_sh, "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )
    return train.join(bad, id_col, "left_anti")


def decontaminate_any_size(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    expected_items: int = 100_000,
    fpp: float = 0.01,
) -> DataFrame:
    """Decontamination for an eval set of any size, the curation
    pipeline's entry point: exact under the driver budget, the Bloom
    prefilter above it. Both keep the same docs as ``decontaminate``.

    The benchmark's distinct shingle set is built and materialized
    once, and at most cap + 1 of its rows reach the driver
    (``scale.fetch_at_most`` under ``DRIVER_LOCAL_MAX["decon"]``). At
    or under the cap it becomes a local Arrow frame; the exploded train
    shingles probe it in one broadcast semi-join and the distinct
    flagged ids are anti-joined away (the ``decontaminate`` body). An
    empty set keeps every train doc. Above the cap the Bloom body runs
    with ``expected_items`` and ``fpp`` against the materialized set,
    so the probe's distinct is not run again; its storage is freed
    once the returned frame is no longer referenced."""
    pdf, bench_sh = fetch_at_most(_shingle_set(benchmark, text_col, k), "decon")
    if bench_sh is not None:
        return _bloom_drop(train, bench_sh, text_col, id_col, k, expected_items, fpp)
    if pdf.empty:
        return train
    local = train.sparkSession.createDataFrame(pdf, "shingle STRING")
    return _drop_sharing(train, local, text_col, id_col, k)


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "split-v1",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic train/val/test split by content-stable hash
    bucketing — no sampling state, no shuffle, stable under corpus
    growth (a doc's split never changes when other docs are added).
    Adds `bucket` (0-99) and `split` columns.
    """
    bucket = _md5_bucket(F.col(id_col), seed, 100)
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("bucket", bucket).withColumn("split", split)


def leakage_safe_split(
    clusters: DataFrame,
    component_col: str = "component",
    seed: str = "split-v1",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Train/val/test split keyed on the dedup-cluster representative,
    never the document id: every member of a verified near-dup
    cluster lands in the SAME split, so an eval document can never be
    a near-duplicate of a training document — the split-leakage hole
    a per-doc ``hash_split`` leaves open (Lee et al. 2022 §6.2
    measure exactly this train/eval near-dup overlap inflating
    benchmark scores; the reference pipeline has no split stage at
    all — its train/eval separation is by dataset file,
    pipelines/pipeline_config.py:9-65).

    ``clusters`` is a (doc, component) assignment — e.g. the verified
    LSH connected components (q122) or exact-digest classes; the
    component id is whatever stable key the clustering elected (min
    member id here). Adds the same ``bucket``/``split`` columns as
    ``hash_split`` so the two are drop-in interchangeable downstream.

    Scale shape: stateless md5 over the component id — zero shuffles
    beyond whatever produced the clusters.

    Growth semantics, stated precisely: a cluster's split is a pure
    function of its elected representative. New docs joining OTHER
    clusters change nothing; a doc joining an existing cluster
    WITHOUT changing its representative adopts that cluster's split.
    When growth DOES change the representative — a smaller-id joiner
    under the min-id election, or a bridge doc merging two clusters —
    the merged cluster re-hashes to ONE split together: members may
    migrate across runs, but a cluster never straddles splits, which
    is the leakage-safety contract. Pipelines that also need
    day-over-day membership stability should pin prior assignments
    downstream (the append-only stance of ``curate_increment``) or
    elect a growth-stable representative (e.g. min content digest)
    before calling this."""
    return hash_split(
        clusters,
        id_col=component_col,
        seed=seed,
        train_pct=train_pct,
        val_pct=val_pct,
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    budget: int = 2048,
    shard_col: str | None = None,
) -> DataFrame:
    """Budget-quantized contiguous sequence packing: docs in stable
    id order are assigned to packs so each pack holds ~`budget`
    tokens — `pack_id = floor(cum_tokens_before / budget)`, one
    running-sum window per shard.

    Distributed-friendly by construction: with `shard_col` set the
    window is per-shard (bounded state, parallel across shards), which
    is how a 100 TB corpus packs — shard first (e.g. by hash_split
    bucket), pack within shards. Exact first-fit packing is inherently
    sequential; boundary docs straddling two packs are re-chunked by
    the tokenizer downstream, so quantized boundaries are the standard
    distributed compromise.
    """
    part = [shard_col] if shard_col else []
    w = (
        Window.partitionBy(*part)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n_tokens_col).over(w)
    return df.withColumn(
        "pack_id", F.floor((cum - F.col(n_tokens_col)) / F.lit(budget))
    )


def length_bucket_batches(
    df: DataFrame,
    batch_size: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_size: int = 4096,
) -> DataFrame:
    """Length-bucketed batch manifest — the dynamic-batching prep
    every inference/eval dataloader runs (and SFT collators mirror):
    docs are bucketed by ``ceil(log2(token_count))`` so a batch holds
    similar-length members, tiled into fixed-size batches in
    deterministic id order, and the output is one row PER BATCH —
    member count, max/sum token lengths, and the padding fraction a
    rectangular batch pays ((B·max − Σ)/(B·max)): padding is wasted
    FLOPs, and bucketing by length is the standard fix (a single
    global batch order pads every batch to its longest straggler).
    Zero-token docs batch nothing and are excluded.

    Scale shape: NO corpus-sized ordered window. Ranking within a
    length bucket is hierarchical exactly like the q171 prefix sum:
    per-(bucket, id-block) counts, an exclusive running offset over
    the tiny (bucket, block) table (the only ordered window —
    |buckets|·|blocks| rows), then ``row_number`` within
    (bucket, block) partitions only; global rank = block offset +
    in-block rank, exact because blocks partition the id order. The
    DuckDB oracle is the naive per-bucket global-window twin — same
    rows, two execution strategies (the q171/q189 pattern).
    Returns (len_bucket, batch, n_docs, max_tok, sum_tok,
    padding_frac)."""
    toks = (
        spread_for_cpu(df, chunk_bytes=CPU_CHUNK_BYTES)
        .select(F.col(id_col), F.size(tokens(text_col)).alias("n_tok"))
        .filter(F.col("n_tok") > 0)
        .withColumn("len_bucket", F.ceil(F.log2("n_tok")).cast("long"))
        .withColumn(
            "_blk", F.expr(f"CAST(`{id_col}` AS BIGINT) DIV {int(block_size)}")
        )
    )
    per_blk = toks.groupBy("len_bucket", "_blk").agg(F.count("*").alias("_c"))
    w_b = (
        Window.partitionBy("len_bucket")
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_blk.select(
        "len_bucket",
        "_blk",
        F.coalesce(F.sum("_c").over(w_b), F.lit(0)).alias("_off"),
    )
    w_in = Window.partitionBy("len_bucket", "_blk").orderBy(id_col)
    ranked = toks.join(F.broadcast(offsets), ["len_bucket", "_blk"]).withColumn(
        "_rn", F.col("_off") + F.row_number().over(w_in)
    )
    batched = ranked.withColumn(
        "batch", F.floor((F.col("_rn") - 1) / batch_size).cast("long")
    )
    n = F.count("*")
    mx = F.max("n_tok")
    sm = F.sum("n_tok")
    # bit-parity with the DuckDB oracle requires the SAME operation
    # order: (diff * 1e6) / total, not (diff / total) * 1e6 — the two
    # differ at half-way rounding boundaries (e.g. diff 41, total 640:
    # 41/640*1e6 = 64062.49999999999 but 41e6/640 = 64062.5), the
    # quality_select discipline
    pad = (n * mx - sm).cast("double") * 1e6 / (n * mx).cast("double")
    return batched.groupBy("len_bucket", "batch").agg(
        n.alias("n_docs"),
        mx.alias("max_tok"),
        sm.alias("sum_tok"),
        (F.round(pad, 0) / 1e6).alias("padding_frac"),
    )


def tfidf_top_term(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top TF-IDF term: tf(doc,term) * ln(N / df(term)),
    ties broken by token order. The corpus-keyword primitive behind
    topic bucketing / domain mixing of training data.

    explode → two keyed aggs (term-per-doc, doc-freq) → broadcast of
    the doc-frequency dim (vocabulary ≪ corpus) → per-doc top-1 via
    max_by on a (score, token) struct — no rank window over the full
    exploded table.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tok.distinct().groupBy("token").agg(F.count("*").alias("dfreq"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score", F.col("tf") * F.log(F.col("n_docs") / F.col("dfreq"))
        )
    )
    # max_by over a struct: one hash agg (partial+final), no window sort.
    # Order by (score desc, token asc) == max of (score, negated token);
    # strings don't negate, so invert via min_by on (-score, token).
    return scored.groupBy(id_col).agg(
        F.min_by(
            F.struct(F.col("token"), F.col("score")),
            F.struct((-F.col("score")).alias("ns"), F.col("token")),
        ).alias("top"),
    ).select(
        id_col,
        F.col("top.token").alias("top_token"),
        F.col("top.score").alias("score"),
    )


def shuffle_batches(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "shuffle-v1",
    n_batches: int = 16,
) -> DataFrame:
    """Deterministic global corpus shuffle into fixed microbatches:
    batch = content-stable hash bucket, position = rank of the hash
    within the batch. Reproducible across runs and engines (md5, not
    engine-partitioning-dependent rand()).

    Scale shape: no global sort — the only window is per-batch
    (bounded partitions, parallel across batches); at 100 TB n_batches
    is sized so a batch fits an executor's sort spill budget.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    with_key = df.withColumn("shuffle_key", h).withColumn(
        "batch_id", _md5_bucket(F.col(id_col), seed + "|b", n_batches)
    )
    w = Window.partitionBy("batch_id").orderBy("shuffle_key", id_col)
    return with_key.withColumn("pos", F.row_number().over(w))


def curate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "split-v1",
) -> DataFrame:
    """End-to-end corpus curation: quality filter → exact dedup →
    deterministic split, composed from the standalone operators as one
    lazy plan (Catalyst fuses the stages; no intermediate
    materialization — the Spark analog of the reference's
    file-per-stage pipeline, cf. reference pipelines/
    precipitation_pipeline.py stage chain).

    Shuffles: one on the content digest (dedup) — the quality filter
    is shuffle-free and the split is a stateless projection, so the
    whole curation pass costs a single exchange of 32-byte keys.
    """
    from climate_data_pipelines_spark.operators.dedup import exact_dedup
    from climate_data_pipelines_spark.operators.textops import quality_score

    qs = quality_score(df, text_col, id_col).filter(F.col("passes_quality"))
    passed = df.join(qs.select(id_col), id_col, "left_semi")
    unique = exact_dedup(passed, text_col, id_col)
    return hash_split(unique, id_col, seed)


def upsample_by_weight(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic integer upsampling for domain mixing: each row is
    repeated `weight` times (posexplode of a sequence — a generated
    column, not a join), tagged with `copy_idx`. Epoch-level corpus
    mixing (e.g. 3x a high-quality source) without sampling
    randomness; weights come from a mix-config dimension joined
    upstream. Fractional weights = integer part here + a hash_split
    bucket threshold for the remainder.
    """
    n = F.col(weight_col).cast("int")
    # sequence(1, 0) is DESCENDING [1,0] in Spark, not empty — clamp
    # non-positive weights to an explicit empty array instead.
    seq = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("copy_idx", F.explode(seq))


def upsample_fractional(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    seed: str = "upsample-v1",
    resolution: int = 10_000,
) -> DataFrame:
    """Deterministic FRACTIONAL upsampling: weight 2.4 gives every row
    2 copies, and the deterministic 40% of rows (by md5 hash bucket of
    the id, `resolution` buckets) a 3rd. Stateless per row — no
    sampling RNG, no shuffle, reproducible across engines/runs, and
    the realized mix converges to the target weight at corpus scale.
    The remainder selection reuses the hash_split bucket expression so
    a DuckDB twin can reproduce it bit-for-bit.
    """
    w = F.col(weight_col).cast("double")
    base = F.floor(w).cast("int")
    frac = w - F.floor(w)
    bucket = _md5_bucket(F.col(id_col), seed, resolution)
    extra = (bucket < F.round(frac * resolution, 0).cast("long")).cast("int")
    n = F.when(w > 0, base + extra).otherwise(F.lit(0)).cast("int")
    # sequence(1, 0) is DESCENDING [1,0] in Spark, not empty — clamp.
    seq = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("copy_idx", F.explode(seq))


def bigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained bigram language-model fluency score (the
    perplexity-style quality signal of training-data pipelines): train
    MLE bigram probabilities P(w2|w1) = c(w1 w2)/c(w1 ·) on the corpus
    itself, then score each document by its mean log-probability.
    Low-scoring docs are the disfluent/boilerplate tail.

    Plan: one explode to bigrams; two vocab-sized hash aggs (bigram
    counts, then context counts derived FROM the bigram counts — the
    corpus is never re-scanned). The per-bigram probability dim is
    assembled by joining the two VOCAB-sized tables first, so the big
    exploded side is joined exactly once (broadcast while the vocab
    fits, AQE decides; co-partitioned hash join beyond that). Docs
    under 2 tokens are excluded (no bigram evidence). Trained-on-self
    means every doc bigram has count >= 1 — no zero probabilities, no
    smoothing constant to pick.
    """
    from climate_data_pipelines_spark.functions.text import shingles, tokens

    # spread_for_cpu: tokenizing + shingling + exploding every doc is
    # CPU-bound on a tiny byte footprint; a single-split scan left the
    # whole explode (and BOTH its consumers — counts and the final
    # doc-score join side) on one core (~1.9 s of serial single-task
    # stages, r13 stage profile; guide §2.6 idle capacity). At scale
    # the scan has >> cores splits and the spread's guard no-ops.
    eligible = spread_for_cpu(df, chunk_bytes=CPU_CHUNK_BYTES).filter(
        F.size(tokens(text_col)) >= 2
    )
    bi = eligible.select(
        F.col(id_col), F.explode(shingles(text_col, 2)).alias("bigram")
    )
    bigram_counts = bi.groupBy("bigram").agg(F.count("*").alias("c_bi"))
    w1 = F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
    ctx_counts = bigram_counts.groupBy(w1.alias("w1")).agg(
        F.sum("c_bi").alias("c_w1")
    )
    prob_dim = (
        bigram_counts.withColumn("w1", w1)
        .join(ctx_counts, "w1")
        .select(
            "bigram",
            F.log(F.col("c_bi").cast("double") / F.col("c_w1").cast("double")).alias(
                "logprob"
            ),
        )
    )
    return (
        bi.join(prob_dim, "bigram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg("logprob").alias("avg_logprob"),
        )
    )


def chunk_windows(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping fixed-width context windows (the training-example
    chunker: long documents become window-sized examples every
    `stride` tokens, so content near chunk boundaries appears in two
    examples and no context is lost).

    Each exploded token emits the (bounded, <= ceil(window/stride))
    chunk ids it belongs to, then one keyed agg per (doc, chunk)
    reassembles ordered chunk text — linear in corpus size times the
    overlap factor, map-side combined; no per-row quadratic
    expression (the projection-collapse trap) and no window function
    over the exploded table.

    Returns (doc_id, chunk_id, n_tokens, chunk_text).
    """
    from climate_data_pipelines_spark.functions.text import tokens

    if not (0 < stride <= window):
        raise ValueError("need 0 < stride <= window")
    tok = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "token")
    )
    pos = F.col("pos").cast("double")
    lo = F.greatest(
        F.lit(0), F.ceil((pos - F.lit(window - 1)) / F.lit(stride)).cast("int")
    )
    hi = F.floor(pos / F.lit(stride)).cast("int")
    chunked = tok.withColumn("chunk_id", F.explode(F.sequence(lo, hi)))
    return chunked.groupBy(id_col, "chunk_id").agg(
        F.count("*").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("chunk_text"),
    )


def token_budget_mix(
    df: DataFrame,
    targets: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    seed: str = "mix-v1",
    resolution: int = 10_000,
) -> DataFrame:
    """Token-budget mixture sampling: downsample each domain so its
    share of surviving TOKENS tracks a target mix — the last step
    before a training run, where the recipe says e.g. 30% web / 40%
    code / 30% books by tokens, not by documents.

    ``targets``: small dim (domain, target_frac). Per-domain keep rate
    = min(1, target_frac × total_tokens / domain_tokens) — domains
    over budget are thinned, domains under budget are kept whole
    (upsampling beyond 1.0 is ``upsample_fractional``'s job). The
    Bernoulli draw is the stateless md5 bucket of the id, so the
    sample is reproducible across engines and stable under reruns —
    adding documents to one domain never flips another domain's keeps.

    Plan shape: one groupBy(domain) token count (map-side combined),
    total via a single-row aggregate cross-joined back (broadcast of
    one row), targets broadcast (tiny dim), then a stateless per-row
    filter. The corpus is never shuffled — only scanned — so at 100 TB
    this costs one pass plus a |domains|-row exchange.

    Returns the surviving rows with ``n_tok`` and ``keep_rate``.
    """
    toks = df.withColumn("n_tok", F.size(tokens(text_col)))
    dom = toks.groupBy(domain_col).agg(F.sum("n_tok").alias("dom_tokens"))
    total = toks.agg(F.sum("n_tok").alias("total_tokens"))
    rates = (
        dom.crossJoin(F.broadcast(total))
        .join(F.broadcast(targets), domain_col)
        .select(
            domain_col,
            F.least(
                F.lit(1.0),
                F.col("target_frac") * F.col("total_tokens") / F.col("dom_tokens"),
            ).alias("keep_rate"),
        )
    )
    bucket = _md5_bucket(F.col(id_col), seed, resolution)
    return (
        toks.join(F.broadcast(rates), domain_col)
        .filter(bucket < F.round(F.col("keep_rate") * resolution, 0).cast("long"))
    )


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    seed: str = "tmix-v1",
    resolution: int = 10_000,
) -> DataFrame:
    """Temperature-based mixture sampling: derive the per-domain
    target shares from the corpus itself as share_i^alpha, normalized
    — the multilingual/multi-source rebalancing rule (alpha < 1
    flattens the mix toward uniform, boosting low-resource domains;
    alpha = 1 keeps natural proportions; alpha = 0 is uniform).
    ``token_budget_mix`` takes the recipe as an explicit target table;
    this DERIVES the recipe and reuses the same stateless keep rule.

    Plan: ONE groupBy(domain) token count (|domains| rows) serves both
    the alpha-power normalization AND the keep-rate derivation —
    total_tokens is the window-sum of the per-domain sums (integer
    arithmetic, exactly equal to a separate corpus aggregate), so the
    corpus is scanned once, never twice (r6 code-review finding:
    delegating to ``token_budget_mix`` recomputed the identical domain
    aggregate from scratch) and never shuffled. The keep rule is the
    same stateless md5-bucket Bernoulli as ``token_budget_mix``.

    Returns surviving rows + (n_tok, keep_rate) like
    ``token_budget_mix``.
    """
    toks = df.withColumn("n_tok", F.size(tokens(text_col)))
    dom = toks.groupBy(domain_col).agg(F.sum("n_tok").alias("dom_tokens"))
    w = Window.partitionBy()
    powered = F.pow(F.col("dom_tokens").cast("double"), F.lit(alpha))
    rates = dom.select(
        F.col(domain_col),
        F.least(
            F.lit(1.0),
            (powered / F.sum(powered).over(w))
            * F.sum("dom_tokens").over(w)
            / F.col("dom_tokens"),
        ).alias("keep_rate"),
    )
    bucket = _md5_bucket(F.col(id_col), seed, resolution)
    return (
        toks.join(F.broadcast(rates), domain_col)
        .filter(bucket < F.round(F.col("keep_rate") * resolution, 0).cast("long"))
    )


def shard_assign(
    df: DataFrame,
    tokens_per_shard: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_size: int = 4096,
) -> DataFrame:
    """Training-shard assignment: walk the corpus in deterministic
    ``id_col`` order and cut a new shard every ``tokens_per_shard``
    tokens — the pack-into-shards step between curation and the
    trainer's dataloader. shard = floor(exclusive-prefix-sum / cap),
    so a document straddling a boundary belongs to the shard where it
    STARTS (the dataloader convention; shards overshoot by at most one
    document).

    The naive plan is ``SUM(n_tok) OVER (ORDER BY id)`` — a GLOBAL
    window, which Spark executes on ONE partition: the whole corpus
    through a single task at 100 TB. This is the scalable twin — the
    classic hierarchical prefix sum:

    1. bucket = id-range block (``id_col`` div ``bucket_size``) —
       deterministic, order-preserving across buckets;
    2. per-bucket token totals (one map-side-combined aggregate,
       |buckets| rows);
    3. exclusive running offset OVER the tiny bucket table (the only
       ordered window, |buckets| rows on one partition — fine: at
       10^9 docs and bucket 4096 that is ~250k rows);
    4. broadcast-join offsets back; within-bucket exclusive cumsum is
       a window PARTITIONED by bucket (parallel), + the bucket offset.

    Output equals the single-window plan row-for-row (q171's DuckDB
    oracle IS that plan), but every corpus-sized stage is partitioned.
    Returns (id, n_tok, shard).
    """
    return _exclusive_prefix_tokens(
        df, text_col=text_col, id_col=id_col, bucket_size=bucket_size
    ).select(
        id_col,
        "n_tok",
        F.floor(F.col("_excl") / tokens_per_shard).alias("shard"),
    )


def _exclusive_prefix_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_size: int = 4096,
) -> DataFrame:
    """The hierarchical exclusive prefix sum of per-doc token counts in
    deterministic ``id_col`` order — the shared core of ``shard_assign``
    (q171) and ``pack_contexts`` (q189). Returns (id, n_tok, _excl)
    with every corpus-sized stage partitioned; the only ordered window
    runs over the |buckets|-row offset table (see shard_assign's
    docstring for the full plan argument)."""
    # the tokenize pass is the map-side CPU stage; spread it past a
    # small file's single scan split (SCALEPROOF.md Finding 7 pattern)
    toks = spread_for_cpu(df, chunk_bytes=CPU_CHUNK_BYTES).select(
        F.col(id_col), F.size(tokens(text_col)).alias("n_tok")
    ).withColumn(
        # integer DIV, never double division: (id / 4096).cast("long")
        # routes a bigint through a float64, whose 53-bit mantissa
        # could break bucket monotonicity (and thus the prefix sum's
        # id-order contract) above ~9e15 ids; DIV is exact at any id
        # and truncates toward zero exactly like the old cast did
        "_bkt",
        F.expr(f"CAST(`{id_col}` AS BIGINT) DIV {int(bucket_size)}"),
    )
    per_bucket = toks.groupBy("_bkt").agg(F.sum("n_tok").alias("_bkt_tok"))
    w_b = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "_bkt",
        F.coalesce(F.sum("_bkt_tok").over(w_b), F.lit(0)).alias("_off"),
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        toks.join(F.broadcast(offsets), "_bkt")
        .withColumn(
            "_excl",
            F.col("_off") + F.coalesce(F.sum("n_tok").over(w_in), F.lit(0)),
        )
        .select(id_col, "n_tok", "_excl")
    )


def pack_contexts(
    df: DataFrame,
    ctx_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_size: int = 4096,
) -> DataFrame:
    """Context-window packing with document spanning — the
    concatenate-and-split convention GPT/T5-style pretraining uses to
    build fixed-length training sequences with ZERO padding (Brown et
    al. 2020 appendix B; Raffel et al. 2020 §2.2): the corpus is one
    global token stream in deterministic ``id_col`` order, cut every
    ``ctx_len`` tokens; a document straddling a cut contributes a
    piece to EACH sequence it spans. The last stage before the
    trainer's dataloader — ``shard_assign`` (q171) packs whole docs
    into coarse shards; this packs token spans into exact-length
    contexts.

    Output: one row per (document, sequence) piece —
      (id, seq, doc_offset, seq_offset, n_tok_piece)
    where ``doc_offset`` is the piece's first token within the doc,
    ``seq_offset`` its position within the sequence, and pieces tile
    every sequence exactly (Σ n_tok_piece per seq == ctx_len, except
    the corpus tail). Zero-token docs pack nothing and are excluded.

    Scale shape: the prefix sum is the shared hierarchical plan
    (``_exclusive_prefix_tokens`` — no global ordered window); the
    span fan-out is a pure-expression ``explode(sequence(s0, s1))``
    whose per-doc width is 1 + n_tok/ctx_len (bounded by document
    length, independent of corpus size); everything after is
    arithmetic on (8-byte) offsets — the text never moves past the
    tokenize pass. The DuckDB oracle is the naive global-window twin
    with unnest(generate_series(...)).
    """
    # ONE implementation for both packers: day-0 packing IS the
    # increment continuing an empty base (offset 0). The parity
    # property test pins the contract; this delegation keeps the span
    # arithmetic from ever diverging between the twins.
    return pack_contexts_increment(
        df,
        base_total_tokens=0,
        ctx_len=ctx_len,
        text_col=text_col,
        id_col=id_col,
        bucket_size=bucket_size,
    )


def pack_contexts_increment(
    df: DataFrame,
    base_total_tokens: int,
    ctx_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_size: int = 4096,
) -> DataFrame:
    """Day-N packing: continue the global token stream AFTER an
    existing packed corpus — the batch's first token lands at
    ``base_total_tokens`` (the base manifest's token total), so the
    increment's pieces fill the base's partially-full tail sequence
    first and then open fresh ones. With batch ids sorting after base
    ids, the output is row-identical to ``pack_contexts`` over the
    union restricted to batch docs (pinned by pytest) — the same
    append-only contract as ``curate_increment``: base rows are never
    recut, and cost is O(batch), never O(total)."""
    t = _exclusive_prefix_tokens(
        df, text_col=text_col, id_col=id_col, bucket_size=bucket_size
    ).filter(F.col("n_tok") > 0)
    t = t.withColumn("_excl", F.col("_excl") + F.lit(base_total_tokens))
    s0 = F.floor(F.col("_excl") / ctx_len).cast("long")
    s1 = F.floor((F.col("_excl") + F.col("n_tok") - 1) / ctx_len).cast("long")
    spans = t.withColumn("seq", F.explode(F.sequence(s0, s1)))
    start = F.greatest(F.col("_excl"), F.col("seq") * ctx_len)
    end = F.least(
        F.col("_excl") + F.col("n_tok"), (F.col("seq") + 1) * ctx_len
    )
    return spans.select(
        id_col,
        "seq",
        (start - F.col("_excl")).alias("doc_offset"),
        (start - F.col("seq") * ctx_len).alias("seq_offset"),
        (end - start).alias("n_tok_piece"),
    )


def pack_increment_with_totals(
    df: DataFrame,
    base_total_tokens: int,
    ctx_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, int, int]:
    """``pack_contexts_increment`` plus the totals every continuation
    commit needs — ONE implementation of the (pieces, piece count,
    batch tokens) bookkeeping shared by the batch pipeline's packing
    stage (plans/llm_curation.py ``_write_packing``) and the
    streaming job (streaming/jobs.py ``pack_documents_stream``), so
    the twins cannot drift (r13 review). The pieces frame comes back
    eagerly checkpointed (callers reference it at least twice: the
    write and any further derivation) — the CALLER unpersists."""
    pieces = pack_contexts_increment(
        df, base_total_tokens, ctx_len=ctx_len,
        text_col=text_col, id_col=id_col,
    ).localCheckpoint(eager=True)
    agg = pieces.agg(
        F.sum("n_tok_piece").alias("t"), F.count("*").alias("p")
    ).collect()[0]
    return pieces, int(agg["p"]), int(agg["t"] or 0)


def sequence_manifest(
    pieces: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-sequence boundary manifest over ``pack_contexts`` output —
    the row the trainer's dataloader actually consumes: for each
    packed sequence, its piece count, token fill, and the ordered
    document-boundary list (`seq_offset:doc_id` pairs) that drives
    cross-document attention masking (packed samples must not attend
    across boundaries — the packing caveat in Raffel et al. 2020 §2.2
    and every FlashAttention varlen dataloader since).

    Scale shape: ONE seq-keyed exchange of 24-byte piece rows; the
    per-sequence ``collect_list`` is bounded by pieces-per-sequence —
    at most ctx_len (every piece carries ≥1 token), typically
    ~ctx_len/avg_doc_tokens + 1 — never corpus-sized. Boundaries are
    serialized to an ordered string because list cells are not
    hash-comparable by the oracle canonicalizer (the q113 lesson)."""
    return (
        pieces.groupBy("seq")
        .agg(
            F.count("*").alias("n_pieces"),
            F.sum("n_tok_piece").alias("seq_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seq_offset", id_col))
                    ),
                    lambda x: F.concat_ws(
                        ":",
                        x["seq_offset"].cast("string"),
                        x[id_col].cast("string"),
                    ),
                ),
                ",",
            ).alias("boundaries"),
        )
    )


def quality_select(
    df: DataFrame,
    keep_frac: float = 0.5,
    exact: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Global quality-percentile corpus selection — "keep the best X%
    of the corpus by quality score", the budgeted variant of a fixed
    quality gate (a fixed threshold keeps an unpredictable volume; a
    percentile keeps exactly the budgeted share as the corpus grows).

    Score = distinct-token ratio + min(stopword ratio, 0.2) — more
    lexical diversity is better, and SOME function words indicate
    prose rather than keyword soup; both terms are integer-count
    ratios so Spark and the DuckDB oracle compute bit-identical
    doubles. Quantized to 6dp before thresholding.

    The threshold is ONE scalar: an aggregate over the scored corpus,
    broadcast back via a 1-row cross join — the corpus is scanned
    twice but never shuffled. ``exact=True`` uses exact
    ``percentile`` (sorts values inside the aggregate — fine up to
    ~1e8 rows, and required for oracle bit-parity); at 100 TB pass
    ``exact=False`` for ``approx_percentile`` (t-digest sketch,
    mergeable, bounded memory) and accept the sketch's rank error on
    the boundary documents.

    Returns surviving (doc_id, source, n_tokens, q_score, q_threshold).
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    toks = tokens(text_col)
    n = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin("the", "a", "an", "of", "to", "and")))
        .cast("double")
        / n.cast("double")
    )
    score = F.round((distinct_ratio + F.least(stop_ratio, F.lit(0.2))) * 1e6, 0) / 1e6
    scored = df.select(
        F.col(id_col),
        F.col("source"),
        n.alias("n_tokens"),
        score.alias("q_score"),
    )
    q = 1.0 - keep_frac
    if exact:
        thr = scored.agg(F.expr(f"percentile(q_score, {q!r})").alias("q_threshold"))
    else:
        thr = scored.agg(
            F.percentile_approx("q_score", F.lit(q), F.lit(10000)).alias("q_threshold")
        )
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("q_score") >= F.col("q_threshold"))
    )


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    stratify_col: str | None = None,
    seed: str = "aes-v1",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): each row draws key = ln(u)/w with u ~ U(0,1); the k largest
    keys ARE a weighted sample without replacement — e.g. "sample
    documents proportional to token count / quality weight" ahead of
    a training run.

    u is the deterministic md5 bucket of the id (+0.5 midpoint over
    1e6 buckets), so the sample is reproducible across engines
    (DuckDB oracle bit-equal), stable under reruns, and — like all
    the hash-gate samplers here — adding rows never flips another
    row's draw. Weights must be positive; ONLY non-positive weights
    are clamped to 1 (a 0-weight row would be ln(u)/0 = -inf, i.e.
    never sampled — clamping keeps it merely unlikely, not
    impossible). Fractional weights in (0, 1) are honored as-is —
    quality scores are the advertised use case.

    Plan shape: stateless per-row key, then either one
    TakeOrderedAndProject (global top-k, no full sort at scale) or a
    per-stratum window rank (one shuffle on the stratum key, per-group
    heap via WindowGroupLimit). The key column is dropped from the
    output so downstream hashes never see engine-specific float
    formatting.
    """
    u = (_md5_bucket(F.col(id_col), seed, 1_000_000) + F.lit(0.5)) / 1_000_000.0
    w_col = F.col(weight_col).cast("double")
    key = F.log(u) / F.when(w_col > 0, w_col).otherwise(F.lit(1.0))
    scored = df.withColumn("_aes_key", key)
    if stratify_col is None:
        return scored.orderBy(F.col("_aes_key").desc(), id_col).limit(k).drop("_aes_key")
    w = Window.partitionBy(stratify_col).orderBy(
        F.col("_aes_key").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_aes_key")
    )


def trigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    heldout_mod: int = 5,
    alpha: float = 0.4,
    score_all: bool = False,
) -> DataFrame:
    """Stupid-backoff trigram LM fluency score (Brants et al.,
    EMNLP 2007 "Large Language Models in Machine Translation" — the
    backoff scheme DESIGNED for distributed count tables: no
    discounting pass, every score is a ratio of counts, so training is
    exactly three hash aggregations). The CCNet-style perplexity
    filter one order up from ``bigram_lm_score`` (q118), with a real
    train/score split so scored docs can contain unseen n-grams:

      S(w3 | w1 w2) = c3(w1w2w3)/c2(w1w2)        if c3 > 0
                      α · c2(w2w3)/c1(w2)         elif c2(w2w3) > 0
                      α² · c1(w3)/N               elif c1(w3) > 0
                      α² · 0.5/N                  else (OOV floor)

    Train split: ``doc_id % heldout_mod != 0``; scored split is the
    complement. Per scored doc: trigram count and mean ln S.

    Plan — NO n-gram string ever shuffles (r10 rewrite; the r9 z100
    profile showed the old five string-keyed vocab×vocab dim joins
    were the whole q181 wall, because on Zipf-realistic text the
    trigram vocabulary is ~90% of occurrences — "vocab-sized" IS
    corpus-sized, and every exchange carried ~40-byte gram strings):

    - counts c3/c2/c1 aggregate on ``xxhash64`` of the gram, with the
      backoff probe key (prefix-bigram hash for c3, first-word hash
      for c2) carried THROUGH the agg — 16-byte shuffle rows;
    - per-TRAIN-type score tables are precomputed once:
      ``score3 = c3 ⋈ c2`` on the prefix hash (S3 = c3/c2(w1w2)),
      ``score2 = c2 ⋈ c1`` on the first-word hash (S2 = α·c2/c1(w2)),
      ``score1 = α²·c1/N`` — all train-vocab-sized, hash-keyed;
    - the scored split explodes once; every probe hash (trigram,
      backoff bigram, last word) is derived map-side BEFORE the
      distinct, so the vocab groupBy and the three backoff left joins
      shuffle three longs per row and the final occurrence join-back
      carries (id, hash) only. Backoff precedence is a coalesce.

    64-bit hash keys merge colliding gram types (counts and scores).
    Over a 24M-type vocabulary P(any collision) ≈ 1.5e-5 and a
    collision perturbs one trigram's fluency score, never a keep/drop
    rule directly — the same bound q179's xxhash64-keyed df agg
    documents. At 100 TB the occurrence table is corpus-sized and
    touches up to FOUR hash-keyed exchanges — the three backoff left
    joins (score3/score2/score1) re-shuffle the occurrence stream
    whenever a train-vocab-sized score table exceeds the broadcast
    threshold (on Zipf-realistic text it will), plus the doc agg —
    but each exchange row is 16-byte longs, vs the old plan's five
    ~40-byte string-keyed vocab×vocab joins; every other exchange is
    hash-keyed and vocabulary-sized.
    """
    from climate_data_pipelines_spark.functions.scalar import oracle_round
    from climate_data_pipelines_spark.functions.text import shingles, tokens

    # spread_for_cpu: the three count passes explode every train
    # trigram/bigram/token and the scored side explodes once more —
    # all pure per-row CPU downstream of a parquet scan whose split
    # count is whatever the file layout gives (a 58 MB single-file
    # corpus scans as ONE task and the whole LM trains on one core;
    # measured 160 s -> ~25 s at the x100 fixture). The repartition
    # exchange is identical across c3/c2/c1, so ReusedExchange serves
    # all three from one shuffle write; at 100 TB the guard no-ops.
    train = spread_for_cpu(
        df.filter((F.col(id_col) % heldout_mod) != 0),
        chunk_bytes=CPU_CHUNK_BYTES,
    )
    # score_all (the CCNet deployment shape): the LM still trains on
    # the %heldout_mod reference split, but EVERY scoreable doc gets a
    # fluency score — perplexity_bucket_mix ranks the whole corpus
    held_src = df if score_all else df.filter(
        (F.col(id_col) % heldout_mod) == 0
    )
    held = spread_for_cpu(
        held_src.filter(F.size(tokens(text_col)) >= 3),
        chunk_bytes=CPU_CHUNK_BYTES,
    )

    # count tables aggregate on xxhash64 of the gram; the backoff
    # probe hash (functionally dependent on the gram) rides through
    # the agg as a second grouping key, so no string reaches any
    # exchange and the score-table joins below need no re-derivation.
    # (A single tagged-union explode feeding one (kind, h, hp) agg was
    # tried and measured 1.5-3x SLOWER at z100 — building 3n struct
    # arrays per doc plus one 44M-group hash agg costs more than the
    # two extra tokenize passes it saves. Three separate aggs stay.)
    tri_raw = train.filter(F.size(tokens(text_col)) >= 3).select(
        F.explode(shingles(text_col, 3)).alias("tri")
    )
    c3 = (
        tri_raw.select(
            F.xxhash64("tri").alias("h3"),
            F.xxhash64(F.substring_index(F.col("tri"), " ", 2)).alias("hb12"),
        )
        .groupBy("h3", "hb12")
        .agg(F.count("*").alias("c3"))
    )
    bi_raw = train.filter(F.size(tokens(text_col)) >= 2).select(
        F.explode(shingles(text_col, 2)).alias("bi")
    )
    c2 = (
        bi_raw.select(
            F.xxhash64("bi").alias("h2"),
            F.xxhash64(
                F.split_part(F.col("bi"), F.lit(" "), F.lit(1))
            ).alias("hw1"),
        )
        .groupBy("h2", "hw1")
        .agg(F.count("*").alias("c2"))
    )
    c1 = (
        train.select(F.explode(tokens(text_col)).alias("w"))
        .select(F.xxhash64("w").alias("hw"))
        .groupBy("hw")
        .agg(F.count("*").alias("c1"))
    )
    # NOTE: c2's two references (score3's prefix probe and score2's
    # own build) and c1's references do NOT recompute their
    # explode+aggregate — the count-table exchanges are identical
    # subtrees and Spark's ReusedExchange serves every reference from
    # one shuffle write (verified: eager localCheckpoints here made
    # the x100 scale run ~75% SLOWER by paying materialization for
    # reuse Spark already had). Keep the plan lazy.
    n_total = c1.agg(F.sum("c1").cast("double").alias("n_total"))

    a = F.lit(float(alpha))
    # per-TRAIN-type score tables (hash-keyed, train-vocab-sized):
    # every train trigram's prefix bigram is a train bigram and every
    # train bigram's first word is a train word, so the inner joins
    # are exact
    score3 = c3.join(
        c2.select(F.col("h2").alias("hb12"), F.col("c2").alias("c2_12")),
        "hb12",
    ).select(
        "h3",
        (F.col("c3").cast("double") / F.col("c2_12").cast("double")).alias(
            "s3"
        ),
    )
    score2 = c2.join(
        c1.select(F.col("hw").alias("hw1"), F.col("c1").alias("c1_w1")),
        "hw1",
    ).select(
        F.col("h2").alias("hb23"),
        (a * F.col("c2").cast("double") / F.col("c1_w1").cast("double")).alias(
            "s2"
        ),
    )
    score1 = c1.crossJoin(F.broadcast(n_total)).select(
        F.col("hw").alias("hw3"),
        (a * a * F.col("c1").cast("double") / F.col("n_total")).alias("s1"),
    )

    # scored split: every probe hash is derived MAP-SIDE at explode
    # time (never a gram string past this projection), and the score
    # joins happen at the OCCURRENCE level — no distinct-vocab dim, no
    # join-back, no second explode pass. On realistic (Zipf) text the
    # trigram vocabulary is ~90% of occurrences, so a dim table saves
    # nothing and costs one groupBy + one extra corpus join + a full
    # explode recompute (the r9 z100 profile's missing ~25 s); on
    # low-entropy corpora the score tables are tiny and AQE broadcasts
    # them, so the occurrence stream never shuffles before the doc agg
    # either way.
    exploded = held.select(
        F.col(id_col), F.explode(shingles(text_col, 3)).alias("tri")
    ).select(
        F.col(id_col),
        F.xxhash64("tri").alias("h3"),
        F.xxhash64(F.substring_index(F.col("tri"), " ", -2)).alias("hb23"),
        F.xxhash64(
            F.split_part(F.col("tri"), F.lit(" "), F.lit(3))
        ).alias("hw3"),
    )
    scored = (
        exploded.join(score3, "h3", "left")
        .join(score2, "hb23", "left")
        .join(score1, "hw3", "left")
        .crossJoin(F.broadcast(n_total))
    )
    score = F.coalesce(
        F.col("s3"),
        F.col("s2"),
        F.col("s1"),
        a * a * F.lit(0.5) / F.col("n_total"),
    )
    return (
        scored.select(F.col(id_col), F.log(score).alias("logscore"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_trigrams"),
            oracle_round(F.avg("logscore"), 4).alias("avg_logscore"),
        )
    )


def perplexity_bucket_mix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    heldout_mod: int = 5,
    rates: tuple[float, float, float] = (1.0, 0.5, 0.1),
    salt: str = "ppl-v1",
) -> DataFrame:
    """CCNet-style perplexity-bucket mixing (Wenzek et al., LREC 2020
    — the curation stage LLaMA's data recipe popularized): score every
    document with the self-trained trigram LM, rank WITHIN its
    language, cut the ranking into head / middle / tail thirds, and
    keep each bucket at its own rate (head kept whole, tail thinned).
    Per-language ranking is the q143 calibration lesson: one absolute
    fluency threshold penalizes whole languages, because an LM scores
    morphologically rich languages systematically lower.

    Determinism end-to-end: the LM is counts-only (trigram_lm_score),
    ranking uses percent_rank over the ROUNDED score (tie-stable, no
    tiebreak column needed), and the keep decision is the engine-wide
    salted-md5 rule (q138's stratified sampler) — reproducible across
    engines, retries, and corpus growth, never partition-order RNG.

    Scale shape: trigram_lm_score's two corpus-sized shuffles, plus
    ONE lang-keyed exchange for the ranking window (the window sorts
    (id, score) pairs, never document bodies), plus a stateless keep
    predicate. Docs too short to score (< 3 tokens) are excluded —
    same contract as the scorer.

    Returns kept docs: (doc_id, lang, bucket, avg_logscore).
    """
    from pyspark.sql import Window

    scores = trigram_lm_score(
        df, text_col=text_col, id_col=id_col,
        heldout_mod=heldout_mod, score_all=True,
    )
    scored = df.select(F.col(id_col), F.col(lang_col)).join(scores, id_col)
    w = Window.partitionBy(lang_col).orderBy(F.col("avg_logscore").asc())
    pr = F.percent_rank().over(w)
    bucket = (
        F.when(pr >= F.lit(2.0 / 3.0), F.lit("head"))
        .when(pr >= F.lit(1.0 / 3.0), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    head_r, mid_r, tail_r = rates
    # int(round(...)): bare int() truncates the float product —
    # int(0.57 * 10000) == 5699 — silently shifting the keep threshold
    # (stratified_sample learned this first; r8 review finding)
    rate = (
        F.when(F.col("bucket") == "head", F.lit(int(round(head_r * 10000))))
        .when(F.col("bucket") == "middle", F.lit(int(round(mid_r * 10000))))
        .otherwise(F.lit(int(round(tail_r * 10000))))
    )
    # the one engine-wide salted-md5 keep rule (shared with
    # stratified_sample/hash_split) — a second inline copy is where
    # the truncation bug above crept in
    u = _md5_bucket(F.col(id_col), salt, 10000)
    return (
        scored.withColumn("bucket", bucket)
        .filter(u < rate)
        .select(id_col, lang_col, "bucket", "avg_logscore")
    )


def contamination_report(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: str = "source",
    k: int = 8,
) -> DataFrame:
    """Per-slice benchmark-contamination REPORT (the table GPT-3's
    App. C and PaLM's dataset card publish): for every train slice
    (source/domain/shard), how many docs share at least one distinct
    k-token shingle with the benchmark, and the rate. The REMOVAL
    stages already exist (`decontaminate`/`bloom_decontaminate`/
    q166's semantic twin) — this is the measurement a release ships
    even when it chooses NOT to remove (n-gram hits in code corpora
    are often legitimate reuse, so the report, not the filter, is the
    deliverable).

    Plan: the benchmark's distinct shingle set stays the SMALL side
    by premise (a fixed eval set) and semi-joins the exploded train
    shingles (AQE broadcasts it at this size; at 10⁹-gram benchmark
    scale swap in bloom_decontaminate's position-set prefilter — same
    report, bounded broadcast). Hit doc-ids dedup on (id, slice) —
    an id-pair exchange, never text — then ONE |slices|-row agg joins
    the per-slice doc totals. Zero-hit slices keep their row (left
    join + coalesce 0): an auditor reads "0" as evidence, absence as
    a bug.

    Returns (``by``, n_docs, n_contaminated, contamination_rate).
    """
    from climate_data_pipelines_spark.functions.scalar import oracle_round

    bench_sh = benchmark.select(
        F.explode(F.array_distinct(shingles(text_col, k))).alias("shingle")
    ).distinct()
    hits = (
        spread_for_cpu(train, chunk_bytes=CPU_CHUNK_BYTES)
        .select(
            F.col(id_col),
            F.col(by),
            F.explode(F.array_distinct(shingles(text_col, k))).alias("shingle"),
        )
        .join(bench_sh, "shingle", "left_semi")
        .select(id_col, by)
        .distinct()
        .groupBy(by)
        .agg(F.count("*").alias("n_contaminated"))
    )
    totals = train.groupBy(by).agg(F.count("*").alias("n_docs"))
    n_cont = F.coalesce(F.col("n_contaminated"), F.lit(0))
    return totals.join(hits, by, "left").select(
        F.col(by),
        F.col("n_docs"),
        n_cont.alias("n_contaminated"),
        oracle_round(
            n_cont.cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("contamination_rate"),
    )
