"""Deduplication operators for the LLM-training-data surface.

North-star mandate (SURVEY.md §2.11): exact, MinHash/LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup. All distributed-first:

- exact dedup hashes content, then one hash-keyed shuffle — at 100 TB
  the shuffle key is the 32-byte digest, never the document body;
- MinHash/LSH follows shingle→signature→band→bucket-join: candidate
  generation is an equi-join on (band, band_hash), so the quadratic
  all-pairs comparison never materializes;
- SimHash reduces each doc to one 64-bit key; near-dup candidates are
  bucket-joins on rotated key prefixes;
- exact n-gram Jaccard is the verification step on candidate pairs
  (or on small blocked partitions), expressed as explode + equi-join +
  group-count — pure relational, AQE-skew-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from climate_data_pipelines_spark.functions.scalar import oracle_round
from climate_data_pipelines_spark.functions.text import normalize_text, shingles, tokens
from climate_data_pipelines_spark.operators.scale import (
    CPU_CHUNK_BYTES,
    fetch_if_small,
    localcheckpoint_capped,
    spread_for_cpu,
    unpersist_checkpoint,
)

# Spread size gate for the digest kernels (md5 + salted sha256 per
# shingle + 15-hex conv splits): ~6-10 CPU-s/MB measured on the
# 32/64-hash signature stages. The default 64 KB/core gate gave the
# sf0.1 sig stage 10 tasks with 22 cores idle (6.0 s task time,
# 0.6 s stage wall in the q122 profile); a 16 KB gate runs it
# core-wide (measured r13: q129 1.47->1.29 s, q41 0.73->0.58,
# q176 2.08->1.82 median-of-3, 8 KB gains nothing further). At
# production scale the scan split count exceeds the trigger and the
# spread is a no-op exactly as before (same rule as
# multimodal.CODEC_CHUNK_BYTES).
HASH_CHUNK_BYTES = CPU_CHUNK_BYTES


def _content_digest(text_col: str):
    """THE exact-dedup keying digest — sha256 over normalized text as
    a 16-byte-shuffled BINARY column (guide §2.5: identical group
    identity at a quarter the key bytes of the 64-hex string; the
    declared hex surface re-derives per group via lower(hex(x))).
    Single definition shared by exact_dedup_keys / exact_dedup /
    exact_dedup_best so a future change to normalization or digest
    choice cannot drift between them (ADVICE r13)."""
    return F.unhex(F.sha2(normalize_text(F.col(text_col)), 256))


def _free_col(df: DataFrame, base: str) -> str:
    """A staging-column name absent from ``df`` — withColumn silently
    REPLACES an existing column, so staging the digest under a fixed
    name would destroy a caller's same-named data (ADVICE r13; the
    old ``content_hash`` temp column had the same latent bug)."""
    name = base
    while name in df.columns:
        name = "_" + name
    return name


def exact_dedup_keys(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash (SURVEY.md Q36).

    Returns one row per distinct content: (content_hash, keep_id,
    n_dupes). Deterministic keeper = min id. The groupBy key is the
    sha256 digest of the *normalized* text (``_content_digest``), so
    the shuffle carries 16-byte binary keys + ids, not bodies.
    """
    return (
        df.select(_content_digest(text_col).alias("_hbin"), F.col(id_col))
        .groupBy("_hbin")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dupes"))
        .select(
            F.lower(F.hex("_hbin")).alias("content_hash"), "keep_id", "n_dupes"
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row per distinct content (the keeper join).

    Broadcast-free: semi-join on (hash, id) against the keeper set —
    both sides shuffle on the binary digest, co-partitioned.
    """
    hb = _content_digest(text_col)
    hcol = _free_col(df, "_hbin")
    keys = (
        df.select(hb.alias(hcol), F.col(id_col))
        .groupBy(hcol)
        .agg(F.min(id_col).alias(id_col))
    )
    return (
        df.withColumn(hcol, hb)
        .join(keys, on=[hcol, id_col], how="left_semi")
        .drop(hcol)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 8,
) -> DataFrame:
    """Portable MinHash signatures (SURVEY.md Q37 scale path).

    Double hashing (Kirsch–Mitzenmacher): ONE md5 per shingle yields
    two independent 60-bit integers (hex halves of the digest); the
    i-th hash function is ``h1 + i·h2`` and the signature column is
    ``mh_i = min(h1 + i·h2)`` over the doc's k-token shingles. This
    replaces n_hashes md5 evaluations per shingle with one — ~3× less
    hash work in the hot loop — while staying bit-reproducible in the
    DuckDB oracle (``CAST('0x'||substring(md5(s),…) AS BIGINT)``).

    One (h1, h2) pair supports 8 hash functions without overflow
    (h1,h2 < 2^60 and mult ≤ 7 keeps h1 + 7·h2 < 2^63); wider
    families come from ADDITIONAL salted sha2-256 digests: each
    64-hex-char digest splits into FOUR 60-bit integers = two
    (h1, h2) pairs. Family 0 is the unsalted md5 pair, so n_hashes ≤ 8
    output is bit-identical to the original scheme (q41's oracle).
    n_hashes=64 costs 1 md5 + 4 sha256 per shingle — half the r4
    all-md5 digest count.

    **Index→family STRIPING (the r5 scale fix).** Hash index i maps to
    ``family = i %% n_fam, mult = i // n_fam`` (n_fam = ⌈n_hashes/8⌉),
    NOT to blocks of 8 consecutive indices per family. Two minhashes
    from the SAME family are strongly correlated: ``argmin(h1 + m·h2)``
    is piecewise-constant in m, so two docs sharing one argmin shingle
    agree on most of the family's minima at once. With block layout an
    LSH band's rows all came from one family and the band behaved like
    ~ONE hash (collision prob ≈ J instead of J^rows) — measured on the
    r5 scale-proof corpus as ~94%% of band-collision candidates having
    J < 0.1 and candidate counts growing ~n². Striping gives any block
    of ``rows ≤ n_fam`` consecutive indices one row from each of
    ``rows`` DISTINCT digest families, restoring the J^rows band
    threshold. Choose band width ≤ n_fam (``minhash_lsh_candidates``
    enforces this).

    Plan shape: explode(distinct shingles) → groupBy(id) with n_hashes
    min() partial aggregates — map-side combined, single shuffle on id.
    ``array_distinct`` before the explode cuts the exploded row count
    without changing any min() — a minhash is a min over the shingle
    *set*.
    """
    if not 1 <= n_hashes <= 64:
        raise ValueError(f"n_hashes must be in [1, 64], got {n_hashes}")
    # Hash-COST-aware spread width (r13): the size gate's bytes→tasks
    # cap assumes the default kernel cost of ~1 digest/shingle, but a
    # 64-hash family computes 5 digests (1 md5 + 4 sha256) per
    # shingle, so the same bytes carry ~5x the CPU — at sf0.1 the
    # 64-hash digest stage ran 8.3 CPU-s over the 10 tasks the
    # byte cap allowed, leaving 22 cores idle (r13 stage profile).
    # Scaling the chunk divisor by the digest count widens exactly
    # the expensive families (width still capped at 1x cores by
    # spread_for_cpu); the n_hashes<=8 single-digest path keeps the
    # measured 64 KB default.
    n_digests = 1 + ((n_hashes + 7) // 8) // 2  # md5 + ceil((n_pairs-1)/2) sha256
    df = spread_for_cpu(df, chunk_bytes=max(1, HASH_CHUNK_BYTES // n_digests))
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, k))).alias("shingle"),
    )
    # The hash projection and the n_hashes min() aggregates are built
    # as SQL strings, not chained Column calls: every F.* call is a
    # py4j round trip, and the original per-column construction spent
    # ~0.3 s of DRIVER wall per query building ~200 JVM objects
    # (optimization guide §4 — the Python boundary — applied to plan
    # construction). One parsed expression string per output column is
    # the identical Catalyst tree in one round trip.
    n_pairs = (n_hashes + 7) // 8
    pair_sql = []

    def _split60(digest_sql: str, lo: int, j: int) -> list[str]:
        return [
            f"cast(conv(substring({digest_sql}, {lo}, 15), 16, 10) as bigint)"
            f" as _h1_{j}",
            f"cast(conv(substring({digest_sql}, {lo + 15}, 15), 16, 10) as bigint)"
            f" as _h2_{j}",
        ]

    pair_sql += _split60("md5(shingle)", 1, 0)
    for w in range((n_pairs - 1 + 1) // 2):  # ceil((n_pairs-1)/2) sha digests
        hs = f"sha2(concat('mh{w}|', shingle), 256)"
        for half in range(2):
            j = 1 + 2 * w + half
            if j >= n_pairs:
                break
            pair_sql += _split60(hs, 1 + 30 * half, j)
    sh = sh.select(F.col(id_col), *[F.expr(s) for s in pair_sql])
    aggs = []
    for i in range(n_hashes):
        j, off = i % n_pairs, i // n_pairs  # striped: see docstring
        aggs.append(F.expr(f"min(_h1_{j} + {off} * _h2_{j}) as mh{i}"))
    return sh.groupBy(id_col).agg(*aggs)


def derive_minhash_bands(n_hashes: int, target_jaccard: float = 0.7) -> int:
    """Pick the band count whose LSH threshold clears a target Jaccard.

    Banded MinHash's similarity threshold is t ≈ (1/bands)^(1/rows)
    with rows = n_hashes // bands. Too-shallow bands (large ``bands``,
    few rows each) set t below the corpus's random-pair Jaccard noise
    floor and candidate pairs grow ~quadratically with corpus size —
    the r5 scale-proof measured exactly that on the fixture corpus
    (J_noise ≈ 0.14, 2-row bands → t ≈ 0.35 → ~n² collisions). This
    helper returns the LARGEST band count (= cheapest per-doc bucket
    fan-out × highest recall) whose threshold still meets
    ``target_jaccard``; callers set the target just below the Jaccard
    of the duplicates they must catch (near-dup dedup convention:
    0.7–0.8, e.g. Lee et al. 2021 use 0.8).
    """
    if not 0 < target_jaccard < 1:
        raise ValueError(f"target_jaccard must be in (0,1), got {target_jaccard}")
    n_fam = (n_hashes + 7) // 8
    best = None
    for bands in range(n_hashes, 0, -1):
        if n_hashes % bands:
            continue
        rows = n_hashes // bands
        if n_fam > 1 and rows > n_fam:
            # deeper bands would reuse a digest family within a band —
            # correlated rows, threshold collapses (see
            # minhash_lsh_candidates guard); stop at the deepest
            # INDEPENDENT configuration even if the target is
            # unreachable (the remedy is widening n_hashes)
            break
        t = (1.0 / bands) ** (1.0 / rows) if bands > 1 else 0.0
        best = bands
        if t >= target_jaccard or bands == 1:
            break
    return best or 1


def _band_buckets(
    sigs: DataFrame,
    id_col: str,
    n_hashes: int,
    bands: int,
    allow_correlated_bands: bool = False,
) -> DataFrame:
    """(id, band, band_hash) bucket table for LSH banding — shared by
    the self-join and cross-corpus candidate generators. Enforces the
    distinct-digest-family band constraint (see minhash_lsh_candidates)."""
    rows_per_band = n_hashes // bands
    n_fam = (n_hashes + 7) // 8
    # n_fam == 1 (width ≤ 8) cannot avoid same-family rows — allowed
    # as the toy configuration; multi-family widths must band cleanly
    if n_fam > 1 and rows_per_band > n_fam and not allow_correlated_bands:
        raise ValueError(
            f"band width {rows_per_band} > {n_fam} digest families: "
            "same-family rows are correlated and the band threshold "
            "collapses to ~J (quadratic candidates); widen n_hashes, "
            "increase bands, or pass allow_correlated_bands=True"
        )
    # one parsed expression instead of bands x (struct+lit+md5+concat)
    # Column calls — py4j round-trip economy, identical tree.
    # bh is unhex(md5): the bucket hash is join-internal (never
    # output), and the 16-byte BINARY joins exactly like the 32-hex
    # string (unhex is injective on md5's hex, so equality — and any
    # collision — is bit-identical to the oracle's md5 banding) at
    # half the key bytes on the candidate join, the minhash family's
    # dominant exchange at scale (guide §2.5, r13).
    band_sql = ", ".join(
        "struct({b} as band, unhex(md5(concat_ws('|', {cols}))) as bh)".format(
            b=b,
            cols=", ".join(
                f"mh{i}"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sigs.select(
        F.col(id_col), F.explode(F.expr(f"array({band_sql})")).alias("b")
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    allow_correlated_bands: bool = False,
) -> DataFrame:
    """LSH banding over minhash signatures → candidate pairs.

    Groups the signature columns into ``bands`` bands, hashes each
    band, and equi-joins on (band_idx, band_hash). Returns distinct
    candidate (id_a < id_b) pairs. The join is the only shuffle and
    its key space is the band-hash domain — no quadratic blow-up.

    Band rows must come from DISTINCT digest families to deliver the
    J^rows threshold (``minhash_signatures`` stripes index→family for
    exactly this reason — see its docstring for the r5 measurement of
    what same-family bands do: collision prob ≈ J, candidates ~n²).
    Raises when rows-per-band exceeds the family count (⌈n_hashes/8⌉)
    unless ``allow_correlated_bands`` — legitimate only for toy widths
    (n_hashes ≤ 8 has a single family by construction).
    """
    buckets = _band_buckets(sigs, id_col, n_hashes, bands, allow_correlated_bands)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_candidates_cross(
    sigs_new: DataFrame,
    sigs_base: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    allow_correlated_bands: bool = False,
) -> DataFrame:
    """LSH candidates BETWEEN two corpora — the incremental-dedup
    shape: a new crawl deduped against an existing training set
    without ever re-pairing the base corpus with itself.

    Both signature frames use the same hash family (per-doc
    signatures are frame-independent), so the (band, band_hash)
    equi-join across the two bucket tables yields exactly the
    cross-corpus subset of the full self-join candidate set. At
    100 TB the base side's buckets are computed ONCE and persisted
    (bucketed by band_hash); each incremental batch hashes only its
    own docs and joins — no O(base²) work and no base reshuffle on
    re-crawl. Returns distinct (id_a = new id, id_b = base id).
    """
    a = _band_buckets(sigs_new, id_col, n_hashes, bands, allow_correlated_bands).alias("a")
    b = _band_buckets(sigs_base, id_col, n_hashes, bands, allow_correlated_bands).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "source",
    k: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity on blocked pairs (SURVEY.md §2.11).

    tokens → distinct k-shingles → explode → self-equi-join on
    (shingle [, block]) → per-pair common count → |A∪B| via per-doc
    sizes → Jaccard filter. Blocking bounds the join fan-out; at scale
    the block key is an LSH bucket instead of a metadata column (same
    plan). Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    base_cols = [F.col(id_col)] + ([F.col(block_col)] if block_col else [])
    sh = df.select(
        *base_cols, F.explode(F.array_distinct(shingles(text_col, k))).alias("shingle")
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    join_cond = [sh["shingle"]]
    a = sh.alias("a")
    b = sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    common = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _set_or_empty(col: str):
    """A shingle-set array column with NULL (missing endpoint or null
    text) read as the empty set, so ``size`` of it is 0 under every
    session config (``size(NULL)`` is NULL with ANSI on, -1 under
    legacy ``sizeOfNull``)."""
    return F.coalesce(F.col(col), F.array().cast("array<string>"))


def jaccard_on_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for an EXPLICIT candidate pair list — the
    verification stage that runs after LSH banding: per-pair cost, never
    all-pairs. ``pairs`` has (id_a, id_b); returns (id_a, id_b, jaccard).

    Plan: per-doc shingle-SET table (semi-joined down to pair
    endpoints, so only candidate documents are ever shingled — at 100
    TB the endpoint set is ≪1% of the corpus), kept as an array column
    → two id-keyed joins pairs⋈sets → size/array_intersect expressions
    per pair. Pairs sharing zero shingles still return (jaccard = 0)
    via a left join, so thresholding is the caller's choice.

    Mega-documents: with each set kept as one array, a document with
    millions of distinct shingles becomes one mega-row in the
    pair-verify join, held whole by a single task, once per pair it
    is in.
    """
    endpoints = pairs.select(F.col("id_a").alias(id_col)).unionByName(
        pairs.select(F.col("id_b").alias(id_col))
    ).distinct()
    # spread_for_cpu: the endpoint semi-join broadcasts (endpoints are
    # tiny), so the shingling inherits the SCAN's split count — a
    # single-file corpus would shingle every endpoint doc on one core.
    #
    # r14 (guide §2.4, verdict item 2): keep the per-doc shingle SET
    # as an ARRAY — no explode, no groupBy, no materialization. The
    # r13 shape exploded to (id, shingle) rows with FOUR consumers
    # (sizes read twice + two common-count joins), patched with a lazy
    # localCheckpoint the advisor flagged for unbounded retention
    # inside a library operator. Sets-as-arrays removes the problem
    # instead: per-pair arithmetic is size(array_intersect(sa, sb))
    # over two id-keyed joins — inputs are distinct arrays, so the
    # intersection size equals the old per-shingle equi-join count.
    # Corpus subtrees 4 → 2, the explode + two hash aggregates and the
    # checkpoint all gone; shuffle rows drop from |endpoint shingles|
    # to |endpoints| at the same bytes.
    sets = spread_for_cpu(
        df.join(endpoints, id_col, "left_semi"),
        chunk_bytes=HASH_CHUNK_BYTES,
    ).select(
        F.col(id_col),
        F.array_distinct(shingles(text_col, k)).alias("_sh_set"),
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("_sh_set").alias("_sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("_sh_set").alias("_sb"))
    # BOTH joins are left joins with null-safe sizes: an endpoint
    # missing from df (or a null text, whose shingle set is null) must
    # return the promised jaccard = 0, never drop the pair. The sets
    # are coalesced to empty arrays BEFORE size(): size(NULL) is NULL
    # only with ANSI on, and -1 under legacy sizeOfNull; casts keep the
    # old COUNT(*) bigint arithmetic.
    set_a, set_b = _set_or_empty("_sa"), _set_or_empty("_sb")
    n_common = F.size(F.array_intersect(set_a, set_b)).cast("long")
    union = (
        F.size(set_a).cast("long") + F.size(set_b).cast("long") - n_common
    )
    return (
        pairs.join(sa, "id_a", "left")
        .join(sb, "id_b", "left")
        .select(
            "id_a",
            "id_b",
            F.when(union > 0, n_common / union).otherwise(F.lit(0.0)).alias(
                "jaccard"
            ),
        )
    )


def levenshtein_on_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_similarity: float | None = None,
) -> DataFrame:
    """Edit-distance verification for an explicit candidate pair list —
    the character-level sibling of ``jaccard_on_pairs``, for near-dup
    classes token shingles miss (single-char typos, whitespace drift,
    OCR noise) where Jaccard over 3-gram tokens under-scores.

    Per pair: Levenshtein distance (built-in JVM codegen, no UDF) and
    ``edit_similarity = 1 - dist / max(len_a, len_b)``. With
    ``min_similarity`` set, a LENGTH-GAP PREFILTER runs before the
    O(|a|·|b|) DP: dist >= |len_a - len_b| always, so any pair whose
    length gap alone exceeds (1 - min_similarity) · max_len cannot
    pass. The prefilter runs on a NARROW (id, length) projection —
    the pair join shuffles 12-byte rows, the gap filter prunes, and
    only surviving pairs' endpoints ship their text into the DP
    joins (r7: previously the texts joined first and the filter ran
    after, so every candidate pair's text crossed the wire at 100
    TB). The prefilter is a pure optimization: the surviving set is
    identical to filtering afterward, so the DuckDB oracle is plain
    levenshtein() + the same threshold.

    The DP itself is BANDED when ``min_similarity`` is set: Spark's
    thresholded ``levenshtein(a, b, k)`` (3.5+) early-exits once the
    distance provably exceeds k, computing only the 2k+1-wide diagonal
    band — O(max_len · k) cells instead of O(|a|·|b|). The per-pair
    bound k = floor((1 - min_similarity) · max_len) is exactly the
    survival cutoff, so every surviving pair gets its exact distance
    and every -1 (band exceeded) is a pair the similarity filter would
    have dropped anyway — output identical, oracle unchanged.

    Scale shape mirrors ``jaccard_on_pairs``: semi-join endpoints
    first (only surviving candidate docs ship their text), two
    broadcast-able id equi-joins; cost is per-pair, never all-pairs.
    Returns (id_a, id_b, len_a, len_b, edit_distance,
    edit_similarity).
    """
    lens = df.select(F.col(id_col), F.length(text_col).alias("_len"))
    pairs = (
        pairs.join(
            lens.select(
                F.col(id_col).alias("id_a"), F.col("_len").alias("len_a")
            ),
            "id_a",
        )
        .join(
            lens.select(
                F.col(id_col).alias("id_b"), F.col("_len").alias("len_b")
            ),
            "id_b",
        )
    )
    max_len = F.greatest("len_a", "len_b")
    if min_similarity is not None:
        gap_bound = (F.lit(1.0) - F.lit(min_similarity)) * max_len
        pairs = pairs.filter(
            F.abs(F.col("len_a") - F.col("len_b")) <= gap_bound
        )
    endpoints = pairs.select(F.col("id_a").alias(id_col)).unionByName(
        pairs.select(F.col("id_b").alias(id_col))
    ).distinct()
    texts = df.join(endpoints, id_col, "left_semi").select(
        F.col(id_col), F.col(text_col).alias("_txt")
    )
    joined = (
        pairs.join(
            texts.select(
                F.col(id_col).alias("id_a"), F.col("_txt").alias("_ta")
            ),
            "id_a",
        )
        .join(
            texts.select(
                F.col(id_col).alias("id_b"), F.col("_txt").alias("_tb")
            ),
            "id_b",
        )
    )
    if min_similarity is not None:
        # banded DP: per-pair diagonal bound = the survival cutoff.
        # levenshtein(a, b, k) returns -1 when dist > k — those pairs
        # fail the similarity filter below by construction.
        joined = joined.withColumn(
            "_thr",
            F.floor(
                (F.lit(1.0) - F.lit(min_similarity))
                * F.greatest("len_a", "len_b")
            ).cast("int"),
        )
        dist_expr = F.expr("levenshtein(_ta, _tb, _thr)")
    else:
        dist_expr = F.levenshtein("_ta", "_tb")
    # The DP is the inverse of AQE's cost model: tiny BYTES (id pairs +
    # two texts), huge CPU (O(max_len·k) cells per pair) — byte-based
    # partition coalescing collapses the joined frame to ONE partition,
    # and predicate pushdown inlines the DP into the final join's
    # condition, evaluating it TWICE (condition + projection) on that
    # single thread (measured: 42 s for 26k pairs at the x100 fixture).
    # Round-robin the pair table across cores, then cut optimizer
    # lineage with a LAZY localCheckpoint on the DP projection so the
    # similarity filter below cannot be pushed back into the join: the
    # DP runs exactly once per pair, fully parallel (42 s -> ~2 s).
    # Storage is the per-pair OUTPUT rows (ids + 3 ints), never texts.
    # Target max(defaultParallelism, shuffle.partitions), not bare
    # defaultParallelism (round-8 advice): on a cluster where the
    # joined pair table is already wider than defaultParallelism,
    # forcing it DOWN would both add a shuffle and reduce DP
    # parallelism. AQE's post-shuffle coalescing never widens beyond
    # spark.sql.shuffle.partitions (its initialPartitionNum default),
    # so this ceiling keeps at least the width any upstream exchange
    # produced without probing the physical plan (a ``df.rdd`` probe
    # on a post-join frame would force AQE query-stage execution).
    sess = joined.sparkSession
    joined = joined.repartition(
        max(
            sess.sparkContext.defaultParallelism,
            int(sess.conf.get("spark.sql.shuffle.partitions", "200")),
        )
    )
    out = joined.select(
        "id_a",
        "id_b",
        "len_a",
        "len_b",
        dist_expr.alias("edit_distance"),
    ).localCheckpoint(eager=False).withColumn(
        # greatest(·, 1) guards the both-empty pair (0/0 → engine-
        # dependent NaN/NULL); empty-vs-empty then scores 1.0 exactly
        "edit_similarity",
        F.lit(1.0)
        - F.col("edit_distance")
        / F.greatest(F.greatest("len_a", "len_b"), F.lit(1)).cast("double"),
    )
    if min_similarity is not None:
        # edit_distance = -1 marks band-exceeded pairs (dist > cutoff);
        # without the >= 0 guard their similarity computes as > 1.0
        out = out.filter(
            (F.col("edit_distance") >= 0)
            & (F.col("edit_similarity") >= F.lit(min_similarity))
        )
    return out


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """SimHash document fingerprints (SURVEY.md §2.11), expression-level.

    Per token: 64-bit xxhash64; per bit position the +1/-1 votes are
    summed across tokens (weighted by term frequency via the explode);
    the sign vector packs back into one BIGINT. Entirely built-in
    functions: explode → bit tests → groupBy(id) with 64 conditional
    sums → bit-OR pack. One shuffle on id.
    """
    df = spread_for_cpu(df, chunk_bytes=HASH_CHUNK_BYTES)
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    # SQL-string construction (see minhash_signatures): the 64 vote
    # aggregates + 64-term pack chain cost ~1 s of driver wall as
    # chained Column calls (py4j round trip per F.* call); parsed
    # expression strings build the identical trees in ~65 round trips.
    votes = [
        F.expr(
            "sum(CASE WHEN (xxhash64(tok) & "
            f"shiftleft(cast(1 as bigint), {i})) != 0 "
            f"THEN 1 ELSE -1 END) as v{i}"
        )
        for i in range(bits)
    ]
    voted = tok.groupBy(id_col).agg(*votes)
    packed = " | ".join(
        f"(CASE WHEN v{i} > 0 THEN shiftleft(cast(1 as bigint), {i}) "
        "ELSE cast(0 as bigint) END)"
        for i in range(bits)
    )
    return voted.select(F.col(id_col), F.expr(f"({packed}) as simhash"))


def simhash_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
) -> DataFrame:
    """Oracle-reproducible SimHash: identical semantics to ``simhash``
    but the per-token hash is the md5 60-bit split (same family as the
    MinHash path) instead of xxhash64, so a DuckDB twin can reproduce
    the fingerprint bit-for-bit. 60 bits (not 64) keeps the packed
    fingerprint strictly positive in a signed BIGINT on both engines —
    no sign-bit edge cases in either optimizer.

    explode(tokens) → one md5 per token → per-bit ±1 votes summed in a
    single groupBy(id) with ``bits`` conditional-sum aggregates
    (map-side combined, one shuffle) → sign vector packed to BIGINT.
    """
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    df = spread_for_cpu(df, chunk_bytes=HASH_CHUNK_BYTES)
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    # SQL-string construction (see minhash_signatures/simhash): the
    # per-Column build of 60 vote aggregates + the 60-term pack chain
    # was ~1.2 s of driver wall PER QUERY CALL in py4j round trips —
    # measured as the dominant cost of q123 (build=1.1 s vs
    # exec=0.5 s). Identical Catalyst trees, one parse per column.
    h = "cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright({h}, {i}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) as v{i}"
        )
        for i in range(bits)
    ]
    voted = tok.groupBy(id_col).agg(*votes)
    packed = " | ".join(
        f"(CASE WHEN v{i} > 0 THEN shiftleft(cast(1 as bigint), {i}) "
        "ELSE cast(0 as bigint) END)"
        for i in range(bits)
    )
    return voted.select(F.col(id_col), F.expr(f"({packed}) as simhash"))


def simhash_band_candidates(
    fp: DataFrame,
    id_col: str = "doc_id",
    bits: int = 60,
    bands: int = 4,
    hamming_max: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Hamming-LSH candidate pairs over packed SimHash fingerprints:
    split the ``bits``-bit fingerprint into ``bands`` equal bit-bands
    and equi-join on (band index, band value) — two documents whose
    fingerprints differ in fewer than ``bands`` bits MUST share at
    least one exact band (pigeonhole), so low-Hamming near-dups are
    guaranteed candidates without any pairwise Hamming scan.

    ``hamming_max`` adds the VERIFICATION stage (the q122 pattern for
    MinHash): an exact popcount-of-xor filter applied BEFORE the
    distinct, so the dedup shuffle carries only true near-dups. The r5
    scale-proof measured why this matters: on a distributionally
    homogeneous corpus (word soup — every long doc has near-identical
    term frequencies, which is exactly what SimHash fingerprints),
    raw band collisions grew ~quadratically (286k pairs at 5k docs,
    28M at 50k) while true Hamming<=3 pairs stayed sparse (442 at
    5k). Verified mode keeps the pigeonhole guarantee: with b bands,
    every pair at Hamming < b is found, and ``hamming_max = bands-1``
    makes the output exactly "all pairs within Hamming bands-1".

    ``bucket_cap`` bounds the join itself for degenerate hot band
    values (the semantic_dedup salt-cap pattern): a band bucket wider
    than the cap is split into deterministic md5-salt groups, so one
    hot value generates at most ~width*cap pairs, never width^2.
    Capping can miss cross-salt pairs in the hot bucket (recovered
    across other bands) — leave None for exact-contract queries.

    Returns distinct (id_a, id_b), id_a < id_b.
    """
    if bits % bands:
        raise ValueError(f"bits ({bits}) must divide evenly into bands ({bands})")
    w = bits // bands
    mask = (1 << w) - 1
    band_sql = ", ".join(
        f"struct({b} as band, (shiftright(simhash, {b * w}) & {mask}) as bv)"
        for b in range(bands)
    )
    buckets = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(F.expr(f"array({band_sql})")).alias("b")
    ).select(
        id_col, F.col("simhash"), F.col("b.band").alias("band"), F.col("b.bv").alias("bv")
    )
    if bucket_cap is not None:
        from pyspark.sql import Window

        wspec = Window.partitionBy("band", "bv")
        buckets = buckets.withColumn(
            "_salt",
            F.when(
                F.count("*").over(wspec) > bucket_cap,
                F.pmod(
                    # BAND-keyed salt (the semantic_dedup table-keyed
                    # lesson): salting by id alone splits every band
                    # identically, so two EXACT duplicates — identical
                    # fingerprints, hot in all 4 bands — land in
                    # different salt groups in every band at once and
                    # the pair is unrecoverable. Keying the hash by
                    # (band, id) makes the splits independent: a pair
                    # salted apart in one band meets in another.
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    F.col("band").cast("string"),
                                    F.col(id_col).cast("string"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    )
                    .cast("long"),
                    # ceil, not floor: width 500 at cap 256 must split
                    # into 2 salt groups (floor gave 1 = no split at
                    # all for widths in (cap, 2*cap) — the
                    # semantic_dedup sibling uses ceil for this)
                    F.greatest(
                        F.ceil(F.count("*").over(wspec) / bucket_cap).cast("long"),
                        F.lit(1),
                    ),
                ),
            ).otherwise(F.lit(0)),
        )
    else:
        buckets = buckets.withColumn("_salt", F.lit(0))
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bv") == F.col("b.bv"))
        & (F.col("a._salt") == F.col("b._salt"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    if hamming_max is not None:
        pairs = pairs.filter(
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            <= hamming_max
        )
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_ml(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hash_tables: int = 8,
    max_jaccard_distance: float = 0.9,
) -> DataFrame:
    """MLlib variant of MinHash near-dup (SURVEY.md Q37): HashingTF
    over k-token shingles → ``ml.feature.MinHashLSH`` →
    ``approxSimilarityJoin``. Same banding idea as
    ``minhash_lsh_candidates`` but using Spark's built-in estimator
    (and returning the estimated Jaccard *distance* per pair).

    Rows with zero non-empty shingles are filtered (MinHashLSH
    requires ≥1 non-zero feature). Returns (id_a, id_b, jaccard_dist),
    id_a < id_b.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingled = df.select(
        F.col(id_col), F.array_distinct(shingles(text_col, k)).alias("sh")
    ).filter(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, max_jaccard_distance, distCol="jaccard_dist")
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


def dedup_rows(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Row-level exact dedup on key columns (dropDuplicates) — the
    batch analog of dropDuplicatesWithinWatermark (SURVEY.md §2.10),
    canonicalized to keep the full row via min struct per key for
    determinism (dropDuplicates keeps an arbitrary row)."""
    others = [c for c in df.columns if c not in key_cols]
    packed = df.select(
        *[F.col(c) for c in key_cols], F.struct(*[F.col(c) for c in others]).alias("_rest")
    )
    kept = packed.groupBy(*key_cols).agg(F.min("_rest").alias("_rest"))
    return kept.select(*key_cols, *[F.col(f"_rest.{c}").alias(c) for c in others])


def _cc_driver_local(
    pdf, id_type, spark, nodes: DataFrame | None, node_col: str
) -> DataFrame:
    """Exact driver-side union-find over the fetched symmetric
    (src, dst) rows of a SMALL graph (at most
    ``scale.DRIVER_LOCAL_MAX["cc"]``). The iterative min-label loop
    costs 2 checkpoint jobs + 1 Observation action per round — ~5
    serial sub-second stages even on a 253-pair candidate graph — for
    an answer (min member id per component, exact integer arithmetic)
    that one Arrow fetch of the pairs determines: labels are IDENTICAL
    to the converged propagation's, with no floating point anywhere.
    They ship back via Arrow ``createDataFrame``; singletons attach by
    the distributed path's anti-join, against the (small, broadcast)
    endpoint set. An empty edge table leaves only singletons."""
    import pandas as pd
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rd] = rs
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    rows = sorted((n, comp_min[find(n)]) for n in parent)
    schema = T.StructType(
        [T.StructField(node_col, id_type), T.StructField("component", id_type)]
    )
    labels = spark.createDataFrame(
        pd.DataFrame(rows, columns=[node_col, "component"]) if rows else [], schema
    )
    if not rows:
        # an empty LocalRelation, pruned from the union and anti-join
        # below, where an empty created frame is a Python RDD scan
        labels = labels.limit(0)
    if nodes is not None:
        singletons = (
            nodes.select(F.col(nodes.columns[0]).alias(node_col))
            .distinct()
            .join(F.broadcast(labels.select(node_col)), node_col, "left_anti")
            .select(F.col(node_col), F.col(node_col).alias("component"))
        )
        labels = labels.unionByName(singletons)
    return labels


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "node",
    max_iter: int = 20,
    steps_per_checkpoint: int = 2,
) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    clustering step that turns pairwise near-dup candidates (MinHash/
    Jaccard/SimHash pairs) into dedup GROUPS, so a keeper can be
    chosen per cluster rather than per pair (transitivity: if A~B and
    B~C, all three are one group even if A~C was never scored).

    Each iteration: every node takes the min label among itself and
    its neighbors (one join + one min-aggregate, both on the node
    key), then a POINTER-JUMPING compression round (each node adopts
    its current label's label — one self-join of the label table), so
    convergence needs O(log diameter) iterations instead of
    O(diameter): LSH candidate graphs chain (A~B, B~C through
    different bands), and plain propagation walks chains one hop per
    round. Label = min node id in the component — deterministic
    regardless of partitioning/iteration order. ``localCheckpoint``
    truncates lineage each round so the plan doesn't grow with
    iterations. The per-iteration driver action is a scalar
    convergence sum, never row data.

    ``nodes``: optional 1-column frame of all node ids — ids not on any
    edge come back as singleton components. The ITERATION always runs
    over the edge endpoints only: in a near-dup corpus the candidate
    subgraph is ≪1% of the documents, and carrying billions of
    singleton rows through every propagate+jump+checkpoint round is the
    difference between an O(edges·log d) job and an O(corpus·log d)
    one at 100 TB. Singletons are attached AFTER convergence with one
    left-anti join + union — same output, per-round cost sized by the
    subgraph. This also keeps the monotone-sum convergence invariant
    unconditional: the iterated node set is exactly the endpoint set
    from round 0, so a caller-supplied ``nodes`` frame (superset,
    subset, or overlapping) can never perturb the sum mid-flight.
    Returns (node, component).

    Two r7 scale-curve cuts (the per-ROUND fixed overhead — checkpoint
    job + scalar action — dominated the x100 wall ratio, ×12.8 in
    SCALEPROOF r6):

    - labels INITIALIZE at ``least(node, min neighbor)`` — one
      groupBy over the edge table, which IS the first propagation
      round at strictly lower cost than the generic
      union+groupBy+jump step (no label join, no jump), so one full
      round disappears;
    - ``steps_per_checkpoint`` propagate+jump steps chain LAZILY
      between checkpoints. A chained step references its input twice
      (the jump self-join), so the un-checkpointed plan doubles per
      step — 2 keeps it at ~4 copies of the propagate subplan while
      halving the number of checkpoint jobs + convergence actions.

    The per-round checkpoint is ``scale.localcheckpoint_capped``, not a
    plain ``localCheckpoint``: the jump self-join puts the previous
    round's checkpoint on both sides of a join, and a plain checkpoint
    captures Catalyst's multiplied join-size estimate as the next
    round's origin stats — the estimate SQUARES per round (×4 here,
    with two chained steps) and the BigInt arithmetic alone OOMs the
    driver after ~15-20 rounds. Convergence in a handful of rounds
    masked this; a deep chain graph within ``max_iter`` would have hit
    it. The capped checkpoint re-derives sizes from the constant
    default each round (see the helper's docstring).

    Raises RuntimeError if propagation has not converged after
    ``max_iter`` checkpoint rounds (each applying
    ``steps_per_checkpoint`` steps; a chain longer than the bound
    would otherwise silently split one component into several); raise
    ``max_iter`` for deep graphs. Near-dup graphs converge in a
    handful of rounds — hitting the bound means the input is not the
    shallow cluster graph this is designed for.

    At or under ``scale.DRIVER_LOCAL_MAX["cc"]`` symmetric edge rows
    the exact driver-side union-find (``_cc_driver_local``) answers
    from one Arrow fetch instead of serial propagation rounds —
    identical min-id labels, bounded driver state.
    """
    from pyspark.sql import Observation

    def _sum_metric():
        # exact decimal sum — labels only ever DECREASE under min-
        # propagation, so an unchanged total <=> a fixed point. The sum
        # rides the checkpoint materialization as an Observation metric
        # (one action per round instead of checkpoint + separate
        # scan+agg job — measured to fire on eager localCheckpoint).
        return F.sum(F.col("component").cast("decimal(38,0)")).alias("s")

    sym = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).unionByName(
        edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    # a small graph, the empty one included, goes to the driver
    id_type = sym.schema["src"].dataType
    pdf, sym = fetch_if_small(sym, "cc")
    if pdf is not None:
        return _cc_driver_local(pdf, id_type, edges.sparkSession, nodes, node_col)
    base = sym.select(F.col("src").alias(node_col)).distinct()
    # round 0 folded into initialization: component = least(node,
    # min neighbor) via ONE groupBy over the symmetric edge table —
    # the same result the generic step would produce from identity
    # labels, minus its label join, union, and jump
    obs0 = Observation()
    labels, labels_ckpt = localcheckpoint_capped(
        sym.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias(node_col),
            F.least(F.col("src"), F.col("_mn")).alias("component"),
        )
        .observe(obs0, _sum_metric())
    )
    prev_sum = obs0.get["s"]

    def _step(lbls: DataFrame) -> DataFrame:
        neighbor_lbls = (
            lbls.join(sym, lbls[node_col] == sym["src"])
            .select(F.col("dst").alias(node_col), F.col("component"))
        )
        propagated = (
            lbls.unionByName(neighbor_lbls)
            .groupBy(node_col)
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping: component <- label(component), so
        # compression compounds (long chains need O(diameter) plain-
        # propagation rounds; each jump roughly doubles how far the
        # min label has reached). Every label is a node id and every
        # node has a label row, so the inner join is total; labels
        # only decrease, preserving the monotone-sum convergence
        # invariant. The jump joins are label-table-sized (one row
        # per node), much cheaper than the edge join. ONE jump per
        # step: stacking more jumps re-inlines the propagation join
        # per referenced side (the un-checkpointed plan doubles per
        # jump), and the compounding across steps already yields
        # exponential label reach.
        parent = propagated.select(
            F.col(node_col).alias("component"),
            F.col("component").alias("grandparent"),
        )
        return propagated.join(parent, "component").select(
            F.col(node_col), F.col("grandparent").alias("component")
        )

    for it in range(max_iter):
        stepped = labels
        # ramp-up: the FIRST checkpoint round runs a single step — the
        # init labels (least(node, min neighbor)) already equal one
        # full propagation, and on shallow near-dup graphs (the common
        # case: star-shaped dup clusters, diameter ≤ 2) the first
        # convergence check passes immediately, so the extra chained
        # step was pure cost (2 more shuffles per query, measured
        # ~0.2 s at sf0.1 across the 5 CC-calling queries). Deep
        # graphs pay one extra checkpoint round at most; later rounds
        # chain the full ``steps_per_checkpoint`` as before.
        for _ in range(1 if it == 0 else max(1, steps_per_checkpoint)):
            stepped = _step(stepped)
        obs = Observation()
        prev_ckpt = labels_ckpt
        labels, labels_ckpt = localcheckpoint_capped(
            stepped.observe(obs, _sum_metric())
        )
        # free the previous round's label checkpoint now that the new
        # one is materialized (bounds storage at 2 label tables + the
        # edge table for the whole run, ADVICE r5 pattern)
        unpersist_checkpoint(prev_ckpt)
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(labels still changing); raise max_iter"
        )
    if nodes is not None:
        # attach isolated nodes as singletons: one anti-join against the
        # endpoint set + union — outside the iteration, so the loop cost
        # stays proportional to the candidate subgraph, not the corpus
        singletons = (
            nodes.select(F.col(nodes.columns[0]).alias(node_col))
            .distinct()
            .join(base, node_col, "left_anti")
            .select(F.col(node_col), F.col(node_col).alias("component"))
        )
        labels = labels.unionByName(singletons)
    else:
        # no singleton attachment → nothing in the returned plan
        # references the symmetric edge table; free its checkpoint
        # now instead of pinning an edge-table-sized block for the
        # session (with `nodes`, base = distinct(sym) stays
        # reachable from the returned plan and must persist)
        unpersist_checkpoint(sym)
    return labels


def exact_dedup_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup keeping the BEST copy per content cluster instead
    of the min id — real pipelines keep the longest / highest-quality
    duplicate (e.g. the un-truncated crawl of a page). Keeper = min
    (-score, id): highest score, ties broken deterministically toward
    the smallest id. ``score_col`` must be numeric (it's negated);
    ``id_col`` may be ANY orderable type — string doc_ids included —
    since the id is only ever compared, never negated.

    Same single-exchange shape as ``exact_dedup``: the groupBy key is
    the 32-byte digest of normalized text and the winner is one
    ``min_by`` aggregate (partial+final, no window over the dup
    group), then a co-partitioned semi-join pulls the keeper rows.
    """
    h = _content_digest(text_col)
    hcol = _free_col(df, "_hbin")
    keys = (
        df.select(h.alias(hcol), F.col(id_col), F.col(score_col))
        .groupBy(hcol)
        .agg(
            F.min_by(
                F.col(id_col),
                F.struct((-F.col(score_col)).alias("neg_score"), F.col(id_col)),
            ).alias(id_col)
        )
    )
    return (
        df.withColumn(hcol, h)
        .join(keys, [hcol, id_col], "left_semi")
        .drop(hcol)
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level dedup for crawled corpora (the cheapest dedup pass a
    web-scale pipeline runs — before any content hashing — because a
    re-crawled page shares its canonical URL even when ads/timestamps
    make the bytes differ). Generalizes the reference's fixed-URL
    ingest (`pipelines/precipitation_pipeline.py:33-36`) to the
    many-URL crawl case.

    Keys on ``functions.text.normalize_url`` (expression-only) and
    keeps the highest-``quality_col`` copy per canonical URL, ties to
    the smallest id. One hash-partial ``max_by``/``count`` aggregate —
    a single exchange on the canonical-URL string, no window over the
    corpus, so 100 TB of crawl metadata dedups in one shuffle whose
    key is a short string, never the document body.

    Returns one row per canonical URL: (url_norm, keeper_id,
    dup_count).
    """
    from climate_data_pipelines_spark.functions.text import normalize_url

    return (
        df.select(
            normalize_url(F.col(url_col)).alias("url_norm"),
            F.col(id_col),
            F.col(quality_col),
        )
        .groupBy("url_norm")
        .agg(
            F.min_by(
                F.col(id_col),
                F.struct(
                    (-F.col(quality_col)).alias("neg_q"), F.col(id_col)
                ),
            ).alias("keeper_id"),
            F.count("*").alias("dup_count"),
        )
    )


def containment_on_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """ASYMMETRIC shingle containment for an explicit candidate pair
    list — the verification stage for near-CONTAINMENT dedup, the case
    symmetric Jaccard under-scores: a page re-crawled WITH its comment
    section, a quote-with-attribution, a doc embedded in a digest
    (Broder's containment coefficient; all-pairs similarity joins per
    Vernica et al., SIGMOD'10).

    Per unordered pair returns BOTH directions:
    ``cont_a = |A∩B|/|A|`` (how much of A is inside B) and ``cont_b``,
    plus the raw counts. Same verified-candidates plan shape as
    ``jaccard_on_pairs``: endpoints semi-join → per-doc shingle-SET
    arrays → two id-keyed joins → size/array_intersect. Candidate
    generation stays the banded MinHash join, so recall is floored by
    the pair's JACCARD (a tiny doc inside a huge one has J → 0 and
    won't be banded); for the re-crawl/append case (B ≲ 2×A) Jaccard
    ≥ |A|/|B| ≥ 0.5 and the standard bands fire. The LSH-invisible
    tiny-doc-in-huge-doc range is covered by the prefix-filter join
    ``containment_small_in_large`` (q179) below.

    Mega-documents: as in ``jaccard_on_pairs``, each shingle set is one
    array, so a mega-document becomes a mega-row in the pair-verify
    join.
    """
    endpoints = pairs.select(F.col("id_a").alias(id_col)).unionByName(
        pairs.select(F.col("id_b").alias(id_col))
    ).distinct()
    # spread_for_cpu: same rationale as jaccard_on_pairs — the
    # broadcast semi-join keeps the scan's split count, so shingling
    # must not inherit a one-split file layout.
    #
    # r14 (guide §2.4, verdict item 2): the per-doc shingle SET stays
    # an ARRAY — no explode, no groupBy. The r13 plan carried FOUR
    # corpus subtrees (sizes + the two common-count joins each
    # replanned the endpoint-semi-join + Generate; a localCheckpoint
    # on the exploded table A/B'd SLOWER here, barrier > recompute for
    # q176's tiny candidate set). With sets-as-arrays the per-pair
    # arithmetic is pure expressions over two id-keyed joins:
    # n_common = size(array_intersect(sa, sb)) — inputs are distinct,
    # so the intersection count equals the old per-shingle join count.
    # Corpus subtrees: 4 → 2 (one per join side), and each lost its
    # explode + hash aggregate; shuffle rows drop from |endpoint
    # shingles| to |endpoints|, same bytes.
    sets = spread_for_cpu(
        df.join(endpoints, id_col, "left_semi"),
        chunk_bytes=HASH_CHUNK_BYTES,
    ).select(
        F.col(id_col),
        F.array_distinct(shingles(text_col, k)).alias("_sh_set"),
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("_sh_set").alias("_sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("_sh_set").alias("_sb"))
    # null guards mirror the old left joins exactly: an id missing
    # from df (or a null text, whose shingle set is null) must score
    # n=0 / cont=0.0, never drop the pair — empty-array coalesces, as
    # in jaccard_on_pairs; casts keep the old COUNT(*) bigint schema.
    set_a, set_b = _set_or_empty("_sa"), _set_or_empty("_sb")
    n_common = F.size(F.array_intersect(set_a, set_b)).cast("long")
    n_a = F.size(set_a).cast("long")
    n_b = F.size(set_b).cast("long")
    return (
        pairs.join(sa, "id_a", "left")
        .join(sb, "id_b", "left")
        .select(
            "id_a",
            "id_b",
            n_common.alias("n_common"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            F.when(
                n_a > 0,
                oracle_round(n_common.cast("double") / n_a.cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("cont_a"),
            F.when(
                n_b > 0,
                oracle_round(n_common.cast("double") / n_b.cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("cont_b"),
        )
    )


def containment_small_in_large(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    small_max: int = 64,
    df_cap: int | None = None,
    candidates_only: bool = False,
) -> DataFrame:
    """Small-doc-in-large-doc containment — the recall hole banded
    MinHash CANNOT reach (q176's documented floor): a tiny doc A
    inside a huge doc B has Jaccard |A|/|B| → 0, so no LSH band ever
    fires, while containment |A∩B|/|A| = 1. LSH-Ensemble (Zhu et al.,
    VLDB'16) fixes this with size-partitioned indexes re-tuned per
    partition; the Spark-first equivalent here is the PREFIX-FILTER
    set join (Chaudhuri et al., ICDE'06; Xiao et al., WWW'08 PPJoin),
    which is LOSSLESS for the small side and needs no new index
    structure:

      if cont(A→B) ≥ t then B misses at most (1−t)·|A| of A's
      shingles, so B must contain at least one of ANY
      ⌊(1−t)·|A|⌋ + 1 of them — choose the GLOBALLY RAREST ones
      (ascending document frequency) and the candidate join's fan-out
      per prefix shingle is its df, small by construction.

    Stages — the corpus's shingle ARRAYS are computed exactly ONCE
    (r9: ``shingle_sets`` materialized via localCheckpoint; the
    previous plan recomputed the tokenize→shingle expression — an
    interpreted higher-order function, the single most expensive
    per-row kernel in the text family — in FOUR subtrees: dfreq,
    small-side explode, the semi-filtered index, and the verify
    arrays. On the 50k-type Zipf ×100 fixture one pass costs ~46 s,
    so collapsing 4 passes to 1 + a ~200 MB checkpoint cut the z100
    wall roughly in half). The only corpus-sized SHUFFLE is the df
    aggregation (map-side combined, vocabulary-sized output); at
    100 TB the materialized set table is not a throwaway — it IS the
    ``dedup_index/shingle_sets`` table the incremental path persists,
    written once and probed by every day-N batch:
      1. document-frequency table (sets explode → one hash agg);
      2. small docs (≤ ``small_max`` distinct shingles — an array
         length filter on the set table, NO sizes shuffle) explode
         their own shingles and pick the ⌊(1−t)·n⌋+1 rarest (window
         over the SMALL side only — tiny by definition; ties broken
         by shingle text so both engines pick identical prefixes);
      3. the distinct prefix-shingle set (a few shingles per small
         doc) BROADCASTS against corpus explode #2 as a semi-join, so
         the inverted index is filtered map-side and never shuffles;
         prefix ⋈ filtered-index → candidate pairs (distinct). The
         rarest-first prefix keeps the fan-out per key ~df, small by
         construction; ``df_cap`` optionally hard-ceilings a doc
         whose every shingle is hot (the single rarest shingle is
         always kept so no doc silently loses its whole prefix). At
         a scale where the prefix set outgrows a broadcast, swap the
         semi-join for the expression-level Bloom filter
         (operators/training.py bloom_decontaminate's kernel) — same
         plan shape, probabilistic prefilter, exact verify unchanged.
      4. exact verify WITHOUT re-exploding: each candidate pair joins
         the two docs' distinct-shingle ARRAYS (the small side is ≤
         ``small_max`` elements by definition) and scores
         ``size(array_intersect(sa, sb)) / n_a`` in one vectorized
         JVM expression — per-pair cost with no pair×shingle row
         blow-up (the exploded ``containment_on_pairs`` verify paid
         |pairs|·|shingles| shuffle rows here: measured 184 s → 46 s
         at the x100 fixture), filter cont(small→large) ≥ t.

    Recall: 1.0 for every pair with cont(small→large) ≥ t and
    |A| ≤ small_max, by the pigeonhole above (df_cap=None). The big
    side needs no size bound — B only appears through A's prefix.
    Returns (id_small, id_large, n_common, n_small, n_large,
    containment).
    """
    sets = shingle_sets(df, text_col=text_col, id_col=id_col, k=k).localCheckpoint(
        eager=True
    )
    # df is only consulted to rank the SMALL docs' own shingles —
    # counting the rest of the vocabulary is pure waste (r9: the full
    # 23.8M-group agg on the Zipf ×100 fixture cost 28 s; semi-
    # filtered to the ~600k small-side hashes the agg is broadcast-
    # joined map-side and its output is small-side-sized, so NO
    # vocabulary-sized shuffle remains anywhere in the operator). If
    # the small side ever outgrows a broadcast (billions of tiny
    # docs), fall back to the full aggregation or a Bloom prefilter —
    # recall is unaffected either way, df values for small-doc
    # shingles are exact in both plans.
    small_hashes = (
        sets.filter((F.col("n_sh") <= small_max) & (F.col("n_sh") >= 1))
        .select(F.explode(_hashed_shingles()).alias("shingle_hash"))
        .distinct()
    )
    dfreq = (
        sets.select(F.explode(_hashed_shingles()).alias("shingle_hash"))
        .join(F.broadcast(small_hashes), "shingle_hash", "left_semi")
        .groupBy("shingle_hash")
        .agg(F.count("*").alias("_df"))
    )
    return containment_vs_index(
        sets,
        sets,
        dfreq,
        threshold=threshold,
        small_max=small_max,
        df_cap=df_cap,
        candidates_only=candidates_only,
    )


def _hashed_shingles(col: str = "shingles"):
    """xxhash64 of each shingle — the candidate machinery's join/agg
    key (r9): 8-byte longs instead of ~18-byte strings keep the df
    aggregation's hashmap resident (the string-keyed agg at the Zipf
    ×100 fixture — 23.8M distinct trigrams — fell back to sort+spill
    and cost 42 s of the 87 s wall; hashed it combines in place).
    LOSSLESS: the pigeonhole guarantee holds for ANY ⌊(1−t)n⌋+1
    distinct shingles of the small doc, so a collision-perturbed df
    ordering still yields a valid prefix, and a collision in the
    candidate join can only ADD a pair — the string-array
    ``array_intersect`` verify is exact and kills it. At ~24M keys
    the 64-bit birthday term is ~1e-5 expected collisions."""
    return F.transform(F.col(col), lambda s: F.xxhash64(s))


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(doc_id, shingles ARRAY, n_sh) per doc — the persisted-index
    row shape for containment dedup: `plans/llm_curation` writes this
    for the kept corpus so day-N increments probe PRECOMPUTED sets
    instead of re-tokenizing base text (the same O(batch) contract as
    the digest/signature index)."""
    arr = F.array_distinct(shingles(text_col, k))
    return spread_for_cpu(df, chunk_bytes=HASH_CHUNK_BYTES).select(
        F.col(id_col).alias("doc_id"),
        arr.alias("shingles"),
        F.size(arr).alias("n_sh"),
    )


def containment_vs_index(
    small_sets: DataFrame,
    index_sets: DataFrame,
    dfreq: DataFrame,
    threshold: float = 0.8,
    small_max: int = 64,
    df_cap: int | None = None,
    candidates_only: bool = False,
) -> DataFrame:
    """The pigeonhole prefix-filter containment join over PREBUILT
    distinct-shingle set frames (:func:`shingle_sets` rows) and a
    SUPPLIED document-frequency table — the shared core of BOTH
    containment paths (r9): :func:`containment_small_in_large` calls
    it with one materialized set table on both sides (the batch
    case), and ``plans.llm_curation.curate_increment`` calls it with
    the batch's fresh sets against the persisted index (base ∪ batch)
    plus the merged df table — the base side is never re-tokenized.

    Plan: the small side's prefix picks against ``dfreq`` — keyed on
    ``shingle_hash`` (xxhash64; see :func:`_hashed_shingles` for why
    hashing is lossless here) — rarest ⌊(1−t)·n⌋+1 shingles;
    epsilon'd floor so exact threshold boundaries survive IEEE error;
    ties broken by shingle hash, deterministically; the distinct
    prefix-shingle set broadcast-semi-filters the EXPLODED index sets
    map-side (no index shuffle — at 100 TB the persisted inverted
    index is bucketed by shingle so this probe prunes file groups
    instead of scanning); candidates cross as bare id pairs; verify
    joins the two sides' arrays with ``array_intersect`` (no
    pair×shingle row blow-up). Returns the (id_small, id_large,
    n_common, n_small, n_large, containment) schema.
    """
    from pyspark.sql import Window

    dfreq = dfreq.select(
        "shingle_hash", F.col("_df").cast("long").alias("_df")
    )
    small_sh = (
        small_sets.filter(
            (F.col("n_sh") <= small_max) & (F.col("n_sh") >= 1)
        )
        .select(
            "doc_id", "n_sh",
            F.explode(_hashed_shingles()).alias("shingle_hash"),
        )
        .join(dfreq, "shingle_hash")
    )
    # ⌊(1−t)·n⌋ + 1, with an epsilon so an EXACT integer boundary
    # survives IEEE error: (1−0.9)·10 evaluates to 0.9999999999999998,
    # whose bare floor (0) would shrink the prefix below the
    # pigeonhole bound and silently drop pairs sitting exactly at the
    # threshold (found by the q179 oracle diff). n ≤ small_max ≤ a few
    # thousand, so 1e-9 can never cross a true non-boundary value.
    prefix_len = (
        F.floor(
            (F.lit(1.0) - F.lit(threshold)) * F.col("n_sh") + F.lit(1e-9)
        ).cast("int")
        + F.lit(1)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_df").asc(), F.col("shingle_hash").asc()
    )
    prefix = (
        small_sh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
    )
    cap_obs = None
    if df_cap is not None:
        # The cap TRADES recall for a bounded fan-out, and the loss
        # must be VISIBLE, not an opaque oracle hash mismatch three
        # fixtures later (round-8 advice): observe the pruned-row
        # count on the pre-filter frame — the eager localCheckpoint
        # below is the first action on this subtree, so the metric is
        # populated before this function returns and a non-zero prune
        # raises a Python warning naming the trade-off.
        from pyspark.sql import Observation

        keep = (F.col("_df") <= df_cap) | (F.col("_rn") == 1)
        cap_obs = Observation("containment_df_cap")
        prefix = prefix.observe(
            cap_obs,
            F.sum((~keep).cast("long")).alias("pruned_prefix_rows"),
            F.count(F.lit(1)).alias("prefix_rows"),
        ).filter(keep)
    # the prefix rows are few (≤ a handful per small doc) but feed two
    # joins (the pset semi-join + the pair join); materialize them so
    # the df agg + window never replay
    prefix = prefix.select(
        F.col("doc_id").alias("id_a"), "shingle_hash"
    ).localCheckpoint(eager=True)
    if cap_obs is not None:
        pruned = int(cap_obs.get.get("pruned_prefix_rows") or 0)
        if pruned > 0:
            import warnings

            warnings.warn(
                f"containment df_cap={df_cap} pruned "
                f"{pruned}/{cap_obs.get['prefix_rows']} prefix rows — "
                "recall is no longer lossless for docs whose rarest "
                "shingles exceed the cap (raise df_cap or pass None "
                "for the exact contract)",
                stacklevel=2,
            )
    pset = prefix.select("shingle_hash").distinct()
    idx = index_sets.select(
        F.col("doc_id").alias("id_b"),
        F.explode(_hashed_shingles()).alias("shingle_hash"),
    ).join(F.broadcast(pset), "shingle_hash", "left_semi")
    cand = (
        prefix.join(idx, "shingle_hash")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        # two consumers below (the b_ids endpoint set + the verify
        # join) — materialize the id-pair table once or the prefix
        # join and its distinct replay per reference (at scale:
        # persist/write the candidate table, the q122/q176 pattern)
        .localCheckpoint(eager=False)
    )
    if candidates_only:
        # measurement hook (tools/scale_proof.py): the candidate-pair
        # table before the exact verify — its growth rate IS the
        # operator's scaling claim (O(df) per prefix shingle; ~linear
        # on Zipf text, ~quadratic on the fixed-vocab soup)
        return cand
    a_sets = small_sets.filter(
        (F.col("n_sh") <= small_max) & (F.col("n_sh") >= 1)
    ).select(
        F.col("doc_id").alias("id_a"),
        F.col("shingles").alias("_sa"),
        F.col("n_sh").alias("n_small"),
    )
    b_ids = cand.select(F.col("id_b").alias("doc_id")).distinct()
    b_sets = index_sets.join(b_ids, "doc_id", "left_semi").select(
        F.col("doc_id").alias("id_b"),
        F.col("shingles").alias("_sb"),
        F.col("n_sh").alias("n_large"),
    )
    n_common = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    containment = oracle_round(
        n_common.cast("double") / F.col("n_small").cast("double"), 6
    )
    # JOIN ORDER IS THE SHUFFLE BUDGET: the candidate table (43.6M
    # rows on the adversarial x100 fixture) must cross its one
    # exchange as BARE id pairs. Join b_sets first (cand shuffles by
    # id_b at ~16 bytes/row; b's arrays join in-stage and are consumed
    # by the intersect before any further exchange), then broadcast
    # the small side's arrays (|small docs| rows of ≤ small_max short
    # strings) — a broadcast hash join chains in the same stage, no
    # shuffle. The reverse order measured 8.3 GB of array-laden
    # shuffle write and 2.4k executor-seconds on the final stage.
    out = (
        cand.join(b_sets, "id_b")
        .join(F.broadcast(a_sets), "id_a")
        .filter(
            n_common.cast("double") / F.col("n_small").cast("double")
            >= F.lit(threshold)
        )
        .select(
            F.col("id_a").alias("id_small"),
            F.col("id_b").alias("id_large"),
            n_common.cast("long").alias("n_common"),
            F.col("n_small").cast("long").alias("n_small"),
            F.col("n_large").cast("long").alias("n_large"),
            containment.alias("containment"),
        )
    )
    # measured prune count for tests/scale_proof (0 ⇒ the cap never
    # engaged ⇒ the run was exactly the lossless df_cap=None plan)
    out._df_cap_pruned = (
        int(cap_obs.get.get("pruned_prefix_rows") or 0)
        if cap_obs is not None
        else 0
    )
    return out
