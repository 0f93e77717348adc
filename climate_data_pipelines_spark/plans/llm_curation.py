"""End-to-end LLM training-data curation pipeline.

The flagship composition of the engine's LLM-data surface into the ONE
job a data team actually runs before a training run — the analog of the
reference's staged climate pipelines (reference
pipelines/temperature_pipeline.py run(): download → split → geojson →
tiles), re-expressed as chained lazy DataFrame stages with exactly the
materialization points the algorithms require:

  1. QUALITY gate        — stateless predicate (textops.quality_predicate)
  2. EXACT dedup         — content-digest agg, keep min id (one 32-byte
                           key exchange)
  3. NEAR-dup dedup      — MinHash signatures → banded LSH candidates →
                           exact Jaccard verify → connected components →
                           keep min id per cluster (candidates
                           checkpointed once; CC iterates on the
                           candidate subgraph only)
  4. DECONTAMINATION     — 3-shingle overlap vs the held-out benchmark
                           corpus: exact against its fetched shingle
                           set under the driver budget, Bloom-
                           prefiltered above it (same output)
  5. TEMPERATURE mix     — per-domain share^alpha targets derived from
                           the surviving corpus, stateless md5 keep
  6. SHARD assignment    — hierarchical prefix sum (never a global
                           single-partition window)
  7. SHARD sink          — parquet partitioned by shard + manifest.json

Scale shape: stages 1/5/6 are scans + tiny broadcast dims; stage 2 is
one digest exchange; stage 3's pair shuffles carry 16-byte ids; stage 4
broadcasts only benchmark-sized state. Nothing row-sized ever reaches
the driver — the manifest aggregate (|shards| rows) is the only
collect.

CLI:
    python -m climate_data_pipelines_spark.plans.llm_curation \
        --sf-dir /root/testdata/sf0.001 --out /tmp/curated \
        [--alpha 0.5] [--tokens-per-shard 20000] \
        [--jaccard 0.5] [--benchmark-source src0]
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession, functions as F

from climate_data_pipelines_spark import sinks
from climate_data_pipelines_spark.catalog import load_table
from climate_data_pipelines_spark.operators import dedup, textops, training
from climate_data_pipelines_spark.queries import (
    MINHASH_BANDS,
    MINHASH_N,
)


def neardup_dedup(
    df: DataFrame,
    sigs: DataFrame,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Verified near-dup dedup, keep the min id per cluster (the q122
    pipeline step packaged): signatures → banded candidates → exact
    Jaccard verify on candidate pairs only → connected components →
    left-semi keep of the cluster representatives. ``sigs`` are
    ``df``'s MinHash signatures (``dedup.minhash_signatures`` with
    k=3, MINHASH_N hashes), computed once by the caller, which reads
    them again for its other consumers."""
    from climate_data_pipelines_spark.operators.scale import unpersist_checkpoint

    cand = dedup.minhash_lsh_candidates(
        sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS
    ).localCheckpoint(eager=True)
    ver = (
        dedup.jaccard_on_pairs(df, cand, k=3)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b")
    )
    clusters = dedup.connected_components(
        ver, nodes=df.select(id_col), node_col=id_col
    )
    # connected_components has materialized its own edge + label
    # checkpoints by the time it returns, so the candidate frame is
    # dead — free it instead of pinning it for the session
    # (r6 second-review finding; same rule as bpe_train's final table)
    unpersist_checkpoint(cand)
    keepers = clusters.filter(F.col(id_col) == F.col("component")).select(id_col)
    return df.join(keepers, id_col, "left_semi")


def url_dedup_keep(
    df: DataFrame,
    url_col: str = "url",
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stage-0 URL dedup as a document filter: keep the best copy per
    canonical URL (``dedup.url_dedup``'s keeper, highest quality then
    smallest id) and every row whose URL is NULL/blank — a null
    canonical URL means "no URL known", and collapsing all of those
    into one group would silently drop almost the whole corpus. One
    short-string-keyed exchange (the q175 plan), before any content
    hashing — the cheapest dedup pass a crawl pipeline runs."""
    from climate_data_pipelines_spark.functions.text import normalize_url

    with_url = df.filter(
        F.col(url_col).isNotNull() & (normalize_url(F.col(url_col)) != "")
    )
    keepers = dedup.url_dedup(
        with_url, url_col=url_col, quality_col=quality_col, id_col=id_col
    ).select(F.col("keeper_id").alias(id_col))
    return df.filter(
        F.col(url_col).isNull() | (normalize_url(F.col(url_col)) == "")
    ).unionByName(with_url.join(keepers, id_col, "left_semi"))


def c4_scrub_stage(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The C4 line scrub (q186, textops.c4_line_filter) as a curation
    stage: replace each doc's text with its kept lines and drop docs
    left with fewer than C4_MIN_KEPT_LINES — the pre-quality scrub
    T5's pipeline runs before any doc-level scoring. Zero shuffles
    (one filter() lambda over the line array); every downstream
    stage (quality, dedup digests, LM scoring) sees the CLEANED text,
    which is the point — boilerplate lines must not defeat exact
    dedup or pollute fluency scores."""
    kept = textops.c4_kept_lines(text_col)
    return (
        df.withColumn("_c4_kept", kept)
        .filter(F.size("_c4_kept") >= textops.C4_MIN_KEPT_LINES)
        .withColumn(text_col, F.array_join("_c4_kept", "\n"))
        .drop("_c4_kept")
    )


def domain_gate_drop(df: DataFrame, profile, url_col: str) -> DataFrame:
    """Drop docs whose domain the reputation profile flags (q184) —
    one broadcast anti-join against the |domains|-row flagged set.
    Docs with no parseable URL (host '') are EXEMPT here: the ''
    profile row always fails bad_url by construction, but a missing
    URL is absence of evidence, and the URL-dedup stage already chose
    to keep such docs (url_dedup_keep's null passthrough) — the gate
    drops on bad reputation, not on missing metadata."""
    from climate_data_pipelines_spark.functions.text import url_host

    bad = (
        textops.domain_flags(profile)
        .filter(~F.col("keep") & (F.col("domain") != ""))
        .select("domain")
    )
    return (
        df.withColumn("_dom", url_host(F.col(url_col)))
        .join(F.broadcast(bad), F.col("_dom") == F.col("domain"), "left_anti")
        .drop("_dom")
    )


def containment_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    small_max: int = 16,
    df_cap: int | None = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Small-in-large containment as a document filter (the q179
    operator packaged as a curation stage): drop every SMALL doc whose
    shingles are ≥ ``threshold`` contained in some other kept doc —
    the tiny excerpt adds no training signal its host doesn't already
    carry, and banded MinHash can never pair it (Jaccard → 0).

    Mutual-containment tie-break: if A ⊂ B and B ⊂ A both fire (two
    small near-identical docs the near-dup stage's Jaccard threshold
    happened to spare), dropping both would lose the content entirely
    — the smaller id survives, mirroring the exact/near-dup keeper
    rule. The pair table is candidate-bounded, so these are id-only
    joins on a small frame."""
    pairs = dedup.containment_small_in_large(
        df, text_col=text_col, id_col=id_col, k=3,
        threshold=threshold, small_max=small_max, df_cap=df_cap,
    )
    drop = _containment_drop_ids(pairs, id_col)
    return df.join(F.broadcast(drop), id_col, "left_anti")


def _containment_drop_ids(pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The ids to drop from a containment pair table: every id_small,
    except the smaller id of a MUTUAL pair (A ⊂ B and B ⊂ A — dropping
    both would lose the content entirely; the smaller id survives,
    mirroring the exact/near-dup keeper rule)."""
    p = pairs.select("id_small", "id_large").localCheckpoint(eager=True)
    rev = p.select(
        F.col("id_small").alias("id_large"), F.col("id_large").alias("id_small")
    )
    mutual = p.join(rev, ["id_small", "id_large"], "left_semi")
    return (
        p.join(
            mutual.filter(F.col("id_small") < F.col("id_large")),
            ["id_small", "id_large"],
            "left_anti",
        )
        .select(F.col("id_small").alias(id_col))
        .distinct()
    )


def cluster_mix_stage(
    df: DataFrame,
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 6,
    per_cluster_cap: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-balanced semantic mixing as a curation stage (q187's
    ``cluster_balanced_mix`` composed into the pipeline): k-means the
    surviving docs' embeddings, then cap each semantic cluster at
    ``per_cluster_cap`` members kept by CENTRALITY (smallest d2) — a
    corpus where one semantic mode dominates (100 TB of near-identical
    boilerplate pages that pass every textual gate) is rebalanced ONCE
    at its k cluster rows, before the per-domain temperature mix sees
    it. The semantic twin of ``training.domain_cap``.

    ``embeddings`` carries (id_col, embedding) — an external model's
    output joined by doc id; the pipeline never computes embeddings
    itself. Docs WITHOUT an embedding row are KEPT unconditionally:
    a missing embedding is absence of evidence, the same exemption
    rule as the domain gate's unparseable-URL passthrough — the stage
    drops on demonstrated redundancy, not on missing metadata.

    Scale shape: clustering touches only the embedding frame (the
    kmeans kernel's one-pass-per-round contract, similarity.py); the
    doc table joins by 8-byte ids only — drop set = (embedded ids
    anti-join kept ids), then one id-keyed left_anti against the
    corpus. No vector ever moves through the document exchange.

    INCREMENT SEMANTICS — GLOBAL-ONLY, like temperature mix: cluster
    centroids, sizes, and caps are properties of the WHOLE corpus; a
    day-N batch clustered alone would cap against batch-local modes
    and drift from the recipe. ``curate_increment`` therefore does NOT
    re-run this stage (the manifest records ``global_only: true``);
    rebalance by re-running the full job, exactly as for alpha."""
    from climate_data_pipelines_spark.operators import similarity

    # usable-evidence filter FIRST, via the SHARED predicate the
    # kmeans kernel itself uses (similarity.usable_vectors): the
    # kernel silently excludes null/empty/wrong-dim vectors, so a doc
    # whose embedding row is unusable could never appear in `kept` —
    # without this filter it would land in the drop set, violating
    # the keep-on-missing-evidence rule above. Unusable rows are
    # treated exactly like absent rows: the doc passes
    # unconditionally. One shared definition means the drop-set frame
    # is EXACTLY the set of vectors that get clustered, by
    # construction rather than by mirroring.
    emb, _dim = similarity.usable_vectors(
        embeddings.select(id_col, "embedding").join(
            df.select(id_col), id_col, "left_semi"
        ),
        "embedding",
    )
    if emb is None:
        # no surviving doc carries a usable embedding — nothing to
        # rebalance, every doc keeps (and kmeans would raise)
        return df
    kept = similarity.cluster_balanced_mix(
        emb,
        vec_col="embedding",
        id_col=id_col,
        k=k,
        iters=iters,
        per_cluster_cap=per_cluster_cap,
    ).select(id_col)
    drop = emb.select(id_col).join(kept, id_col, "left_anti")
    return df.join(drop, id_col, "left_anti")


def _rewrite_manifest(out_dir: str, manifest: dict) -> None:
    """Re-dump manifest.json after post-shard-write additions (the
    packing block) — ``sinks.write_training_shards`` writes the file
    from scratch, so top-level keys added later must rewrite it."""
    import json as _json
    import os as _os

    with open(_os.path.join(out_dir, "manifest.json"), "w") as fh:
        _json.dump(manifest, fh, indent=1)


def _packing_actual_total(spark: SparkSession, out_dir: str, ctx_len: int) -> int:
    """Ground truth for the packing staleness probe: the global token
    stream's end offset, recomputed from the pieces table itself —
    every piece's end is ``seq*ctx_len + seq_offset + n_tok_piece``,
    and the max over the table IS the total token count. One agg over
    5-long-column rows; returns -1 when the table is absent (never
    packed / wiped), which never equals a recorded total."""
    from pyspark.errors import AnalysisException

    try:
        row = (
            sinks.read_parquet(spark, f"{out_dir}/packing/pieces")
            .agg(
                F.max(
                    F.col("seq") * ctx_len
                    + F.col("seq_offset")
                    + F.col("n_tok_piece")
                ).alias("t")
            )
            .collect()[0]
        )
    except AnalysisException:
        return -1
    return int(row["t"] or 0)


def _write_packing(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    ctx_len: int,
    base_block: dict | None = None,
) -> dict:
    """Emit the trainer-facing context-packing tables next to the
    shards — ``packing/pieces`` (q189 ``pack_contexts`` rows: one per
    (document, sequence) span) and ``packing/sequences`` (q190
    ``sequence_manifest`` rows: per-sequence piece count, token fill,
    boundary list) — and return the manifest block
    ``{ctx_len, total_tokens, n_pieces, n_sequences}``.

    ``base_block is None`` → full (re)pack: ``docs`` is the whole
    corpus, both tables overwritten, totals computed by READING BACK
    the pieces just written (the shard-manifest verification stance).

    ``base_block`` set → day-N continuation: ``docs`` is the appended
    batch only; ``pack_contexts_increment`` continues the global token
    stream from the recorded ``total_tokens`` (O(batch), the base
    text is never re-tokenized). Pieces rows APPEND. Sequence rows
    append for every sequence the batch touches — including the
    base's partially-filled tail sequence, whose fresh row is rebuilt
    from (base tail pieces ∪ new pieces) via a seq-pushed-down read
    of the pieces table. The sequences table is therefore APPEND-ONLY
    CUMULATIVE: a sequence touched by k increments has k rows, each a
    strict superset of the last — the authoritative row per seq is
    the one with the largest ``n_pieces`` (``read_sequence_manifest``
    applies the rule); rewriting the one stale tail row in place
    would force an O(total-sequences) table rewrite per increment.
    """
    from climate_data_pipelines_spark.operators.scale import unpersist_checkpoint

    pieces_dir = f"{out_dir}/packing/pieces"
    seqs_dir = f"{out_dir}/packing/sequences"
    if base_block is None:
        training.pack_contexts(docs, ctx_len=ctx_len).write.mode(
            "overwrite"
        ).parquet(pieces_dir)
        allp = sinks.read_parquet(spark, pieces_dir)
        training.sequence_manifest(allp).write.mode("overwrite").parquet(
            seqs_dir
        )
        agg = allp.agg(
            F.sum("n_tok_piece").alias("t"),
            F.count("*").alias("p"),
            (F.max("seq") + 1).alias("s"),
        ).collect()[0]
        return {
            "ctx_len": int(ctx_len),
            "total_tokens": int(agg["t"] or 0),
            "n_pieces": int(agg["p"]),
            "n_sequences": int(agg["s"] or 0),
        }

    base_total = int(base_block["total_tokens"])
    # batch-sized and bounded: |batch docs| × (1 + doc_tokens/ctx_len)
    # rows of five longs — checkpointed once, referenced twice (the
    # totals agg and the append); bookkeeping shared with the
    # streaming twin via training.pack_increment_with_totals
    pieces_new, n_new, t_new = training.pack_increment_with_totals(
        docs, base_total, ctx_len=ctx_len
    )
    if n_new == 0:  # zero-token batch: stream unchanged, nothing to cut
        unpersist_checkpoint(pieces_new)
        return dict(base_block)
    pieces_new.write.mode("append").parquet(pieces_dir)
    unpersist_checkpoint(pieces_new)
    # sequences the batch touched: everything from the base's tail
    # sequence on (seq pushdown on the appended table — base tail
    # pieces rejoin so the tail's fresh row is COMPLETE, not a delta)
    first_new_seq = base_total // ctx_len
    seq_in = sinks.read_parquet(spark, pieces_dir).filter(
        F.col("seq") >= first_new_seq
    )
    training.sequence_manifest(seq_in).write.mode("append").parquet(seqs_dir)
    new_total = base_total + t_new
    return {
        "ctx_len": int(ctx_len),
        "total_tokens": new_total,
        "n_pieces": int(base_block["n_pieces"]) + n_new,
        "n_sequences": -(-new_total // ctx_len),
    }


def read_sequence_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The authoritative per-sequence manifest of a packed corpus:
    latest-wins over the append-only cumulative ``packing/sequences``
    rows (see ``_write_packing`` — a sequence touched by k increments
    has k rows, each a strict superset of the last, so the row with
    the largest ``n_pieces`` is the complete one)."""
    from pyspark.sql.window import Window

    seqs = sinks.read_parquet(spark, f"{out_dir}/packing/sequences")
    if "_b" in seqs.columns:
        # streamed layout (pack_documents_stream): rows partitioned by
        # micro-batch id — drop the bookkeeping column so batch and
        # streamed corpora read identically
        seqs = seqs.drop("_b")
    w = Window.partitionBy("seq").orderBy(F.desc("n_pieces"))
    return (
        seqs.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )


def _write_dedup_index(
    kept: DataFrame,
    out_dir: str,
    mode: str = "overwrite",
    url_col: str | None = None,
    containment: bool = False,
    domain_url_col: str | None = None,
    domain_stats_df: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> None:
    """Persist the dedup state of the curated corpus — content digests
    (exact-dedup keys) and MinHash signatures (near-dup LSH input) —
    next to the shards, so day-N increments join against PRECOMPUTED
    state instead of re-hashing the whole base text every day. Without
    this, ``curate_increment``'s ``minhash_signatures(base)`` and
    digest scan are O(total corpus) per increment — the exact cost an
    incremental path exists to avoid; at 100 TB the re-hash dominates
    the batch work. Two tables because they key differently: every
    kept doc has a digest, but docs shorter than the shingle width
    have NO signature row (an all-null signature would bucket every
    short doc into one degenerate LSH band).

    ``kept`` must carry (doc_id, text).

    The signatures come from ``signatures``, the run's MinHash frame
    (computed once on the exact-dedup output, a superset of ``kept``),
    restricted to ``kept``'s ids: a signature is a function of the text
    alone, so the rows equal a re-hash of ``kept``. Only the rebuild
    (self-heal) path passes None and re-hashes ``kept``'s text.

    WRITE ORDER IS LOAD-BEARING — the full commit sequence, in the
    order this function writes, is: (1) ``domain_stats`` (the gate's
    deferred input-stats append, when the domain gate is configured),
    (2) ``signatures``, (3) ``urls`` (optional), (4) ``shingle_sets``
    then ``shingle_df`` (optional), (5) ``digests`` LAST.
    ``curate_increment``'s staleness probe validates the index by
    digest row count alone, so digests must be the COMMIT RECORD — a
    crash between ANY of the earlier writes and the digest write
    leaves digests missing/stale and the probe rebuilds every table
    (including re-deriving domain_stats via the documented rebuild
    fallback). The previous order (digests first) let a crash strand
    a stale signatures table behind a valid-looking digest count,
    silently missing near-dups of the latest increment (r7 advice,
    medium); the deferred domain_stats write exists for the same
    reason (r10 advice, medium).

    r9 optional tables (written only when the corresponding stage is
    configured, so the default pipeline's index cost is unchanged):
      - ``urls``: (doc_id, url_norm) of kept docs — increments
        anti-join new canonical URLs against this instead of re-
        normalizing base metadata;
      - ``shingle_sets``: (doc_id, shingles, n_sh) and
        ``shingle_df``: (shingle, _df) — the containment stage's
        probe side and document-frequency table; increments never
        re-tokenize base text. At 100 TB shingle_sets is written
        bucketed by shingle-hash range so the prefix probe prunes
        file groups. ``shingle_df`` appends PARTIAL counts per
        increment; readers aggregate (groupBy sum — vocabulary-sized)
        so the append path never rewrites the table.

    ``domain_stats_df`` is the domain gate's exact gate-INPUT stats
    frame (already eagerly checkpointed by the caller). It lands here
    — inside the digests-last commit sequence — rather than at gate
    time, so a crash mid-run never strands a stats table behind an
    otherwise-absent/stale index: retrying a failed increment would
    otherwise append the same batch stats twice, doubling ``cnt`` for
    its (domain, _norm) rows while ``n_unique`` stays fixed and
    inflating ``dup_rate`` toward 0.5+ (r10 advice, medium).
    ``domain_url_col`` is the REBUILD fallback (recompute survivor
    stats from ``kept``); the two are mutually exclusive."""
    from climate_data_pipelines_spark.functions.text import (
        normalize_text,
        normalize_url,
    )

    if domain_url_col is not None:
        # REBUILD fallback only (the normal path writes exact
        # gate-INPUT stats inside curate_corpus/curate_increment):
        # survivor-based stats under-count duplicates the pipeline
        # already dropped, so a rebuilt profile skews dup_rate low —
        # self-healing, never silently wrong, but lossier than the
        # gate-time record. Documented in the increment docstring.
        textops.domain_stats(kept, url_col=domain_url_col).write.mode(
            mode
        ).parquet(f"{out_dir}/dedup_index/domain_stats")
    if domain_stats_df is not None:
        domain_stats_df.write.mode(mode).parquet(
            f"{out_dir}/dedup_index/domain_stats"
        )
    if signatures is None:
        signatures = dedup.minhash_signatures(kept, k=3, n_hashes=MINHASH_N)
    else:
        signatures = signatures.join(kept.select("doc_id"), "doc_id", "left_semi")
    signatures.write.mode(mode).parquet(f"{out_dir}/dedup_index/signatures")
    if url_col is not None:
        kept.select(
            "doc_id", normalize_url(F.col(url_col)).alias("url_norm")
        ).write.mode(mode).parquet(f"{out_dir}/dedup_index/urls")
    if containment:
        sets = dedup.shingle_sets(kept).localCheckpoint(eager=True)
        sets.write.mode(mode).parquet(f"{out_dir}/dedup_index/shingle_sets")
        (
            sets.select(F.explode("shingles").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .write.mode(mode)
            .parquet(f"{out_dir}/dedup_index/shingle_df")
        )
        from climate_data_pipelines_spark.operators.scale import (
            unpersist_checkpoint,
        )

        unpersist_checkpoint(sets)
    kept.select(
        "doc_id", F.sha2(normalize_text(F.col("text")), 256).alias("digest")
    ).write.mode(mode).parquet(f"{out_dir}/dedup_index/digests")


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    alpha: float = 0.5,
    tokens_per_shard: int = 20_000,
    jaccard_threshold: float = 0.5,
    benchmark_source: str = "src0",
    bench_stride: int = 1,
    url_col: str | None = None,
    containment: bool = False,
    containment_threshold: float = 0.9,
    containment_small_max: int = 16,
    containment_df_cap: int | None = 64,
    domain_gate: bool = False,
    c4: bool = False,
    gopher: bool = False,
    cluster_mix_embeddings: DataFrame | None = None,
    cluster_k: int = 16,
    cluster_iters: int = 6,
    cluster_cap: int | None = None,
    pack_ctx_len: int | None = None,
) -> dict:
    """Run the full curation chain on the ``documents`` table and
    write trainer shards + manifest to ``out_dir``. The documents
    whose ``source`` equals ``benchmark_source`` play the held-out
    eval set (the q139 convention): they are excluded from training
    and any train document sharing a 3-shingle with them is dropped:
    exactly, against the benchmark's shingle set fetched to the driver,
    while that set is within the driver budget
    (``DRIVER_LOCAL_MAX["decon"]``), and through the Bloom prefilter
    above it (``training.decontaminate_any_size``). ``bench_stride``
    keeps every stride-th benchmark doc — the fixed-eval-set
    convention for scale runs (real eval sets do not
    grow with the train corpus; on the word-soup scale fixtures an
    unpinned benchmark saturates the 3-shingle space and
    decontaminates the entire corpus, docs/SCALEPROOF.md Finding 4).

    r9 optional stages (off by default — existing callers, bench and
    scale runs are unchanged):
      - ``url_col``: STAGE 0, URL-level keep-best dedup before any
        content hashing (crawl corpora arrive with URLs — the
        reference's own ingest is URL-keyed,
        pipelines/precipitation_pipeline.py:33-36);
      - ``containment``: small-in-large containment dedup (q179)
        after the symmetric near-dup stage, closing the
        LSH-invisible tiny-excerpt-inside-host hole.

    r10 optional stages (the q183/q184/q186 gates composed, in the
    order their docstrings claim):
      - ``domain_gate`` (requires ``url_col``): domain-reputation
        gate (q184) between URL dedup and any per-doc scoring — a
        spam farm is killed once at its domain row, not a million
        times at its docs. The gate's MERGEABLE input stats
        (textops.domain_stats over the gate INPUT, i.e. post-URL-
        dedup docs, kept or not) persist to
        ``dedup_index/domain_stats`` so the day-N increment gates on
        the base ∪ batch profile exactly (never a batch-only profile,
        never a base-text re-read);
      - ``c4``: C4 line scrub (q186) as the pre-quality stage —
        replaces text with its kept lines, drops docs under
        C4_MIN_KEPT_LINES; every later stage sees cleaned text;
      - ``gopher``: Gopher repetition/format rules (q183) as an
        additional quality gate next to ``quality_predicate`` — a
        pure Column predicate, zero shuffles.

    r12 optional stage:
      - ``cluster_mix_embeddings``: a (doc_id, embedding) frame
        enabling cluster-balanced semantic mixing (q187) AFTER all
        quality/dedup/decontamination gates and BEFORE the
        temperature mix — over-represented semantic modes are capped
        at their k cluster rows first, then per-domain shares are
        tempered on the rebalanced corpus. GLOBAL-ONLY like
        temperature mix (see ``cluster_mix_stage``): increments do
        not re-run it, the manifest records ``global_only: true``.

    r13 optional stage:
      - ``pack_ctx_len``: context-window packing (q189/q190) as the
        post-shard trainer-prep stage — the curated corpus's token
        stream is cut into exact ``pack_ctx_len``-length sequences;
        ``packing/pieces`` + ``packing/sequences`` land next to the
        shards and the manifest gains a ``packing`` block (ctx_len,
        total_tokens, n_pieces, n_sequences). ``curate_increment``
        CONTINUES the stream from the recorded total via
        ``pack_contexts_increment`` — O(batch), base text never
        re-tokenized — provided batch doc_ids sort after base ids
        (checked; violation or a crash-stale block triggers a full
        repack, self-healing like the dedup index).
    All stage configs land in the manifest (``stages``) and persist
    whatever index tables they need so ``curate_increment`` stays
    O(batch). Returns the manifest dict (per-shard doc/token
    counts)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(
        (F.col("source") == benchmark_source)
        & (F.col("doc_id") % bench_stride == 0)
    )
    train = docs.filter(F.col("source") != benchmark_source)

    from climate_data_pipelines_spark.operators.scale import unpersist_checkpoint

    if domain_gate and url_col is None:
        raise ValueError("domain_gate requires url_col (the gate keys on "
                         "the normalized host of each doc's URL)")
    if url_col is not None:
        train = url_dedup_keep(train, url_col=url_col)
    gate_ckpt = None
    gate_stats = None
    if domain_gate:
        # gate-INPUT stats are computed now (not survivor stats at the
        # end) but WRITTEN at the end, inside _write_dedup_index's
        # digests-last commit sequence — an early write would strand a
        # stats table in an otherwise index-less output dir on a
        # mid-run crash (r10 advice). The increment's parity contract
        # folds base stats ∪ batch stats into the profile a
        # from-scratch run over the union would compute (modulo the
        # documented URL keep-best asymmetry). Both the stats frame
        # and the gate input are checkpointed once; the profile and
        # the deferred write both read the tiny materialized frame.
        train = gate_ckpt = train.localCheckpoint(eager=True)
        gate_stats = textops.domain_stats(
            train, url_col=url_col
        ).localCheckpoint(eager=True)
        profile = textops.domain_profile_from_stats(gate_stats)
        train = domain_gate_drop(train, profile, url_col)
    if c4:
        train = c4_scrub_stage(train)
    passed = train.filter(textops.quality_predicate("text"))
    if gopher:
        passed = passed.filter(textops.gopher_keep("text"))
    # materialize the quality+exact-dedup output ONCE: the near-dup
    # stage references it four ways (signatures, Jaccard endpoint
    # joins, the CC node set, the final keeper semi-join) and the mix
    # checkpoint once more — unmaterialized, each reference re-ran the
    # full scan+filter+digest chain (this one checkpoint cut the x100
    # end-to-end run 165 → 65 s)
    unique = dedup.exact_dedup(passed).localCheckpoint(eager=True)
    # MinHash each document ONCE (64 longs a doc, far smaller than the
    # text): the near-dup LSH and the persisted index both read it
    sigs = dedup.minhash_signatures(
        unique, k=3, n_hashes=MINHASH_N
    ).localCheckpoint(eager=True)
    neardup_free = neardup_dedup(unique, sigs, jaccard_threshold)
    clean = training.decontaminate_any_size(
        neardup_free, bench, k=3, expected_items=20_000, fpp=0.01
    )
    if containment:
        # AFTER decontamination, not before: a tiny doc whose only
        # host was decon-dropped is clean, unique content and must
        # survive — only containment in a KEPT host makes it
        # redundant. (Also the order under which the day-N increment
        # — whose containment index is the kept base corpus — is
        # exactly parity with this full run.)
        clean = containment_dedup(
            clean,
            threshold=containment_threshold,
            small_max=containment_small_max,
            df_cap=containment_df_cap,
        )
    if cluster_mix_embeddings is not None:
        # AFTER every drop gate, BEFORE the temperature mix: the cap
        # should see only docs that will otherwise train, and the
        # per-domain shares should be computed on the semantically
        # rebalanced corpus (a boilerplate mode inflating one domain's
        # share would otherwise survive into the alpha targets)
        clean = cluster_mix_stage(
            clean,
            cluster_mix_embeddings,
            k=cluster_k,
            iters=cluster_iters,
            per_cluster_cap=cluster_cap,
        )
    # materialize the curated corpus ONCE: the shard join below
    # references it on both sides (payload + shard_assign), so an
    # unmaterialized plan would evaluate the whole expensive chain
    # per branch (r6 second-review finding); freed after the sink
    mixed = training.temperature_mix(clean, alpha=alpha).localCheckpoint(
        eager=True
    )
    sharded = training.shard_assign(
        mixed.select("doc_id", "text"), tokens_per_shard
    )
    out = (
        mixed.drop("n_tok")
        .join(sharded.select("doc_id", "n_tok", "shard"), "doc_id")
    )
    stages = {
        "url_dedup": {"url_col": url_col} if url_col is not None else None,
        "containment": {
            "threshold": containment_threshold,
            "small_max": containment_small_max,
            "df_cap": containment_df_cap,
        }
        if containment
        else None,
        "domain_gate": {
            "url_col": url_col,
            "max_dup_rate": textops.DOMAIN_MAX_DUP_RATE,
            "min_quality_rate": textops.DOMAIN_MIN_QUALITY_RATE,
        }
        if domain_gate
        else None,
        "c4": {
            "min_line_words": textops.C4_MIN_LINE_WORDS,
            "min_kept_lines": textops.C4_MIN_KEPT_LINES,
        }
        if c4
        else None,
        "gopher": True if gopher else None,
        "cluster_mix": {
            "k": cluster_k,
            "iters": cluster_iters,
            "per_cluster_cap": cluster_cap,  # None = ceil(2n/k) soft cap
            # centroids/caps are whole-corpus properties: increments do
            # NOT re-run this stage (same contract as alpha below)
            "global_only": True,
        }
        if cluster_mix_embeddings is not None
        else None,
        # static recipe only (carried verbatim through every append by
        # write_training_shards); the DYNAMIC totals live in the
        # top-level "packing" block rewritten after the packing write
        "packing": {"ctx_len": int(pack_ctx_len)} if pack_ctx_len else None,
        "jaccard_threshold": jaccard_threshold,
        "alpha": alpha,
        "benchmark_source": benchmark_source,
    }
    manifest = sinks.write_training_shards(
        out, out_dir, tokens_per_shard=tokens_per_shard, stages=stages
    )
    # persist the dedup index of what actually landed (read back from
    # the shards, same verification stance as the manifest) so day-N
    # increments never re-hash the base corpus
    landed = spark.read.schema(out.schema).parquet(f"{out_dir}/shards")
    index_cols = ["doc_id", "text"] + ([url_col] if url_col else [])
    _write_dedup_index(
        landed.select(*index_cols),
        out_dir,
        url_col=url_col,
        containment=containment,
        domain_stats_df=gate_stats,
        signatures=sigs,
    )
    if pack_ctx_len:
        # pack what actually LANDED (read back from the shards, same
        # verification stance as the manifest/index), then rewrite
        # manifest.json with the packing totals — the block is the
        # increment's continuation record
        manifest["packing"] = _write_packing(
            spark,
            out_dir,
            landed.select("doc_id", "text"),
            int(pack_ctx_len),
        )
        _rewrite_manifest(out_dir, manifest)
    else:
        # a re-curation WITHOUT packing must not strand stale packing
        # tables describing the PREVIOUS corpus next to fresh shards —
        # a reader of packing/sequences would otherwise load sequence
        # boundaries for documents that no longer exist (r13 review)
        import shutil

        shutil.rmtree(f"{out_dir}/packing", ignore_errors=True)
    unpersist_checkpoint(mixed)
    unpersist_checkpoint(sigs)
    unpersist_checkpoint(unique)
    if gate_ckpt is not None:
        unpersist_checkpoint(gate_ckpt)
    if gate_stats is not None:
        unpersist_checkpoint(gate_stats)
    return manifest


def _raise_on_id_clash(batch: DataFrame, base: DataFrame) -> None:
    """Raise ``ValueError`` when a ``doc_id`` of ``batch`` is already in
    ``base``. A crawl that restarts its id sequence per day would put
    two different texts under one id in the cross-corpus verify
    (inflating per-pair shingle counts) and collide appended shard rows
    with base rows. One semi-join on 8-byte keys."""
    clash = batch.select("doc_id").join(base.select("doc_id"), "doc_id", "left_semi")
    if not clash.isEmpty():
        raise ValueError(
            "curate_increment requires globally unique doc_ids: the new "
            "batch reuses ids already present in the base corpus "
            "(namespace the increment ids, e.g. day_offset + doc_id)"
        )


def _observed_range(ids) -> tuple | None:
    """``(lo, hi)`` of the ``Observation`` ``ids``, ``(None, None)`` for
    an empty frame; ``None`` when Spark dropped the metrics, as adaptive
    execution does when a shuffle ABOVE the observed node comes out
    empty and the rest of the plan is replaced by an empty relation."""
    from py4j.protocol import Py4JJavaError

    try:
        got = ids.get
    except Py4JJavaError:
        return None
    return got["lo"], got["hi"]


def curate_increment(
    spark: SparkSession,
    new_docs: DataFrame,
    base_dir: str,
    alpha: float = 0.5,  # noqa: ARG001 — reserved; mixing is global, see note
    jaccard_threshold: float = 0.5,
    benchmark: DataFrame | None = None,
) -> dict:
    """The DAY-N run: curate a new document batch AGAINST an existing
    curated corpus (a ``curate_corpus`` output directory) and append
    the survivors as new shards — the daily-crawl-increment workflow,
    where re-running the full job over the whole history would cost
    O(total) every day instead of O(batch).

    PRECONDITION: ``doc_id`` is globally unique across the base corpus
    and every increment batch (namespace daily ids if the crawler
    restarts its sequence). Every id of ``new_docs`` is checked, also
    those of documents the stages below drop, and a clash raises
    ``ValueError`` before any write. The manifest records the base's
    ``min_doc_id`` and ``max_doc_id``; the batch's range is observed
    on ``new_docs`` as the first batch checkpoint runs, and only when
    the two ranges overlap do the batch ids pay a semi-join against
    the base ids. Without a trusted range (an older manifest, or one
    that is not current), or when the index must first be rebuilt (a
    write), the batch ids are semi-joined up front instead.

    The base's layout, schema and counts come from what is on disk,
    not from Spark jobs: the last shard from the shard-directory
    listing, the base schema from a shard footer, the index staleness
    probe from the digest table's footer row counts against the
    manifest's ``total_docs``. The manifest counts only while its shard list
    equals the shard directories on disk (``sinks.trusted_manifest``);
    a crash between a shard append and the manifest rewrite breaks
    that, and the increment then rebuilds the index and the sink
    re-derives the manifest from a full read-back.

    Stages on the new batch only:
      1. quality gate + exact dedup WITHIN the batch;
      2. exact dedup AGAINST the base: anti-join on the content
         digests read from the PERSISTED dedup index (written at
         ``curate_corpus`` time; 32-byte keys, the base text is
         never re-read or re-hashed);
      3. near-dup WITHIN the batch (``neardup_dedup``);
      4. CROSS-corpus near-dup vs the base:
         ``minhash_lsh_candidates_cross`` over the index's
         precomputed base signatures — the base is never re-hashed
         or self-paired, only (new × base) buckets join — then exact
         Jaccard verify (base text joins only for surviving
         candidate pairs), dropping the NEW member of each pair;
      5. optional benchmark decontamination (pass the eval frame);
      6. shard assignment continuing the numbering AFTER the base's
         last shard; parquet append, then a manifest covering base +
         increment: the base manifest's rows merged with a read-back
         of only the appended shards (``sinks.write_training_shards``);
      7. the dedup index append, from the survivors checkpoint,
         digests last.

    r9: the base manifest's ``stages`` record drives two further
    stages automatically — the increment applies the SAME recipe the
    base was curated with, read from the artifact, never from caller
    arguments:
      - URL dedup (stage 0): keep-best within the batch, then an
        anti-join of the batch's canonical URLs against the persisted
        ``dedup_index/urls`` (short-string keys, O(batch));
      - small-in-large containment (after the cross-corpus near-dup
        AND decontamination — only containment in a KEPT host drops):
        the batch's shingle sets (computed fresh, O(batch)) probe the
        persisted ``shingle_sets``/aggregated ``shingle_df`` via
        :func:`dedup.containment_vs_index` — base text is never
        re-tokenized. New docs contained in base-or-batch hosts are
        dropped; mutual batch-batch pairs keep the smaller id.

    APPEND-ONLY ASYMMETRY (same contract as the near-dup stage's
    drop-the-NEW-member rule): an increment never removes base docs,
    so a base doc contained in a NEW larger host — or a base URL
    whose recrawl is better — stays; reconciling those is a full-run
    event. Temperature mixing is deliberately NOT re-run per
    increment — mix ratios are a global property of the corpus;
    rebalance by running the full job when the recipe changes. The
    r12 cluster-mix stage follows the SAME rule (its manifest entry
    says ``global_only: true``): centroids and per-cluster caps are
    whole-corpus properties, so a batch-local k-means would cap
    against the wrong modes — the stage key is carried through the
    manifest untouched and applied only by full runs.

    r13: when the base was curated with ``pack_ctx_len``, the batch's
    surviving docs are packed as a CONTINUATION of the global token
    stream (``pack_contexts_increment`` from the manifest's recorded
    ``packing.total_tokens`` — O(batch), base text never re-read);
    pieces and touched-sequence manifest rows append, and the
    manifest's packing block advances. A stale block (crash window),
    a ctx change, or batch ids not sorting after base ids triggers a
    full repack instead (self-healing, never silently wrong).
    Returns the combined manifest.
    """
    import json as _json

    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from climate_data_pipelines_spark.operators.scale import unpersist_checkpoint

    # the base manifest is read FIRST: it carries the shard cap, (r9)
    # the stage recipe the base was curated with — the increment
    # applies the same stages, from the artifact — and the base's
    # counts and doc-id range. Those facts hold only while the
    # manifest is current (its shard list equals the shard directories
    # on disk); a crash between a shard append and the manifest
    # rewrite leaves unlisted shards, and the index is rebuilt below.
    base_manifest = sinks.trusted_manifest(base_dir)
    current = base_manifest is not None
    if not current:
        with open(f"{base_dir}/manifest.json") as fh:
            base_manifest = _json.load(fh)
    base_max_shard = max(sinks.shard_ids_on_disk(base_dir), default=-1)
    base = sinks.read_parquet(spark, f"{base_dir}/shards")
    base_range = (
        (base_manifest["min_doc_id"], base_manifest["max_doc_id"])
        if current and "min_doc_id" in base_manifest
        else None
    )
    stages = base_manifest.get("stages") or {}
    url_conf = stages.get("url_dedup")
    cont_conf = stages.get("containment")
    dg_conf = stages.get("domain_gate")
    c4_conf = stages.get("c4")
    gopher_conf = stages.get("gopher")
    pack_conf = stages.get("packing")
    base_max_doc_id = None
    if pack_conf:
        # the packing continuation is only valid when every batch id
        # sorts after every base id — the global token stream is
        # doc_id-ordered. A manifest without the range pays one scan,
        # evaluated BEFORE the shard append below (the lazy `base`
        # frame re-lists files at execution time)
        base_max_doc_id = base_range[1] if base_range else base.agg(
            F.coalesce(F.max("doc_id"), F.lit(-(1 << 62))).alias("m")
        ).collect()[0]["m"]

    # the base's dedup state comes from the PERSISTED index written at
    # curate_corpus time (digests + MinHash signatures of the kept
    # corpus) — the increment never re-hashes base text, so its
    # data-dependent cost is O(batch), not O(total). A missing or
    # stale index (pre-index base dir, or a crash between the shard
    # append and the index append) is detected by the digest row count
    # — summed from the parquet footers — against the manifest's
    # ``total_docs``, and rebuilt; so is any index next to a manifest
    # that is not current — self-healing, never silently wrong.
    index_dir = f"{base_dir}/dedup_index"
    rebuild = (
        not current
        or sinks.parquet_rows(f"{index_dir}/digests") != base_manifest["total_docs"]
        or sinks.parquet_rows(f"{index_dir}/signatures") < 0
    )
    # PRECONDITION: doc_ids are globally unique across the batch and
    # the base corpus (see the docstring). Without a trusted base id
    # range, or before a rebuild (a write), the batch is checked here;
    # otherwise its range is observed on the raw batch and checked
    # after the first batch checkpoint, against the recorded range.
    batch = new_docs
    batch_ids = None
    if rebuild or base_range is None:
        _raise_on_id_clash(batch, base)
    else:
        batch_ids = Observation("batch_ids")
        new_docs = new_docs.observe(
            batch_ids, F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        )
    if rebuild:
        rebuild_cols = ["doc_id", "text"] + (
            [url_conf["url_col"]] if url_conf else []
        )
        _write_dedup_index(
            base.select(*rebuild_cols),
            base_dir,
            url_col=url_conf["url_col"] if url_conf else None,
            containment=bool(cont_conf),
            domain_url_col=dg_conf["url_col"] if dg_conf else None,
        )
    base_digests_df = spark.read.schema("doc_id BIGINT, digest STRING").parquet(
        f"{index_dir}/digests"
    )

    if url_conf:
        # STAGE 0 (manifest-driven): keep-best per canonical URL
        # within the batch, then drop batch docs whose canonical URL
        # the base already kept — short-string keys both sides, the
        # base metadata is read from the persisted urls table, never
        # re-normalized from base rows
        from climate_data_pipelines_spark.functions.text import normalize_url

        uc = url_conf["url_col"]
        new_docs = url_dedup_keep(new_docs, url_col=uc)
        base_urls = (
            sinks.read_parquet(spark, f"{base_dir}/dedup_index/urls")
            .select(F.col("url_norm").alias("_u"))
            .filter(F.col("_u").isNotNull() & (F.col("_u") != ""))
            .distinct()
        )
        new_docs = (
            new_docs.withColumn("_u", normalize_url(F.col(uc)))
            .join(base_urls, "_u", "left_anti")
            .drop("_u")
        )

    gate_ckpt = None
    batch_stats = None
    if dg_conf:
        # domain gate (manifest-driven, mirrors curate_corpus's stage
        # order): the profile folds the PERSISTED base gate-input
        # stats with this batch's stats, so the batch is gated on
        # the profile a from-scratch run over base ∪ batch would
        # compute (exactly, modulo the documented append-only URL
        # keep-best asymmetry: a batch doc sharing a canonical URL
        # with a kept base doc is always dropped here, while a
        # from-scratch run may keep the batch doc) — a batch-only
        # profile would mis-judge any domain that straddles days.
        # The batch stats APPEND IS DEFERRED to the end-of-run
        # _write_dedup_index call (digests-last commit discipline) so
        # a crash + retry never appends the same stats twice (r10
        # advice, medium); day-N+1 still folds them because the final
        # index append is the increment's commit record. Base docs
        # already gated stay (append-only asymmetry, same as the
        # URL/containment rules).
        uc = dg_conf["url_col"]
        new_docs = gate_ckpt = new_docs.localCheckpoint(eager=True)
        # |batch domains|-row frame, checkpointed EAGERLY: it must
        # outlive gate_ckpt (freed before the shard write) to land in
        # the deferred index append
        batch_stats = textops.domain_stats(
            new_docs, url_col=uc
        ).localCheckpoint(eager=True)
        base_stats = sinks.read_parquet(spark, f"{base_dir}/dedup_index/domain_stats")
        profile = textops.domain_profile_from_stats(
            base_stats.unionByName(batch_stats)
        ).localCheckpoint(eager=True)
        new_docs = domain_gate_drop(new_docs, profile, uc)
    if c4_conf:
        new_docs = c4_scrub_stage(new_docs)
    passed = new_docs.filter(textops.quality_predicate("text"))
    if gopher_conf:
        passed = passed.filter(textops.gopher_keep("text"))
    unique = dedup.exact_dedup(passed).localCheckpoint(eager=True)
    if batch_ids is not None:
        # every checkpoint above executed the observed raw batch; the
        # semi-join runs only when the id ranges overlap, or when Spark
        # dropped the metrics (see _observed_range). On overlap only the
        # base ids inside the batch's range can clash: shards are cut
        # in doc_id order, so parquet min/max statistics skip the rest
        ids = _observed_range(batch_ids)
        if ids is None:
            _raise_on_id_clash(batch, base)
        elif ids[0] is not None and ids[0] <= base_range[1] and ids[1] >= base_range[0]:
            _raise_on_id_clash(batch, base.filter(F.col("doc_id").between(*ids)))
    # exact dedup vs base: digest anti-join (32-byte keys both sides).
    # The digest MUST be the same key exact_dedup groups on — sha256 of
    # the NORMALIZED text (dedup.py:37) — or a case/whitespace variant
    # of a base doc would survive the increment while a full re-run
    # drops it (round-6 advice, medium).
    from climate_data_pipelines_spark.functions.text import normalize_text

    digest = F.sha2(normalize_text(F.col("text")), 256)
    base_digests = base_digests_df.select(F.col("digest").alias("_d"))
    fresh = unique.withColumn("_d", digest).join(
        base_digests, "_d", "left_anti"
    ).drop("_d")
    # the batch's MinHash signatures, once: within-batch near-dup, the
    # cross-corpus LSH (batch_clean's rows) and the index append
    # (landed rows) all read this frame
    sigs = dedup.minhash_signatures(
        fresh, k=3, n_hashes=MINHASH_N
    ).localCheckpoint(eager=True)
    batch_clean = neardup_dedup(fresh, sigs, jaccard_threshold)

    sb = spark.read.schema(sigs.schema).parquet(f"{index_dir}/signatures")
    sn = sigs.join(batch_clean.select("doc_id"), "doc_id", "left_semi")
    cand = dedup.minhash_lsh_candidates_cross(
        sn, sb, n_hashes=MINHASH_N, bands=MINHASH_BANDS
    ).localCheckpoint(eager=True)
    both = batch_clean.select("doc_id", "text").unionByName(
        base.select("doc_id", "text")
    )
    ver = dedup.jaccard_on_pairs(both, cand, k=3).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    dup_new = ver.select(F.col("id_a").alias("doc_id")).distinct()
    survivors = batch_clean.join(F.broadcast(dup_new), "doc_id", "left_anti")
    if benchmark is not None:
        survivors = training.decontaminate_any_size(
            survivors, benchmark, k=3, expected_items=20_000, fpp=0.01
        )
    if cont_conf:
        # small-in-large containment vs base ∪ batch (manifest-driven,
        # mirrors curate_corpus's stage order: after near-dup AND
        # decontamination, so only containment in a KEPT host drops a
        # doc). Batch sets are computed fresh (O(batch)); the base
        # side is the persisted shingle_sets/shingle_df — shingle_df
        # holds PARTIAL counts per append, aggregated here
        # (vocabulary-sized agg, never a base-text re-tokenize).
        batch_sets = dedup.shingle_sets(survivors).localCheckpoint(
            eager=True
        )
        base_sets = sinks.read_parquet(spark, f"{base_dir}/dedup_index/shingle_sets")
        # the persisted df table keys on the shingle STRING (stable,
        # auditable format); the candidate core keys on xxhash64 —
        # hash at read and re-aggregate (vocabulary-sized, long keys)
        base_df = sinks.read_parquet(
            spark, f"{base_dir}/dedup_index/shingle_df"
        ).select(F.xxhash64("shingle").alias("shingle_hash"), "_df")
        batch_df = (
            batch_sets.select(
                F.explode(dedup._hashed_shingles()).alias("shingle_hash")
            )
            .groupBy("shingle_hash")
            .agg(F.count("*").alias("_df"))
        )
        dfreq = (
            base_df.unionByName(batch_df)
            .groupBy("shingle_hash")
            .agg(F.sum("_df").alias("_df"))
        )
        pairs = dedup.containment_vs_index(
            batch_sets,
            base_sets.unionByName(batch_sets),
            dfreq,
            threshold=cont_conf["threshold"],
            small_max=cont_conf["small_max"],
            df_cap=cont_conf["df_cap"],
        )
        contained = _containment_drop_ids(pairs)
        survivors = survivors.join(F.broadcast(contained), "doc_id", "left_anti")
        unpersist_checkpoint(batch_sets)
    survivors = survivors.localCheckpoint(eager=True)
    # cand is only safe to free AFTER survivors has materialized — the
    # lazy verify stage reads its blocks (unlike neardup_dedup, where
    # connected_components checkpoints everything first; freeing it
    # earlier raised checkpointRDDBlockIdNotFound in the e2e test)
    unpersist_checkpoint(cand)
    if gate_ckpt is not None:
        unpersist_checkpoint(gate_ckpt)

    # shard cap: the CONFIGURED tokens_per_shard from the base
    # manifest (read once above). Inferring it from max(observed
    # tokens) ratchets upward across successive increments, because
    # shards overshoot the cap at document boundaries and each append
    # rewrites the manifest from the ever-larger union (round-6
    # advice). The observed-max fallback only covers pre-r7 manifests.
    cap = base_manifest.get("tokens_per_shard") or max(
        (s["tokens"] for s in base_manifest["shards"]), default=20_000
    )
    sharded = training.shard_assign(
        survivors.select("doc_id", "text"), int(cap)
    )
    out = (
        survivors.join(sharded.select("doc_id", "n_tok", "shard"), "doc_id")
        .withColumn("shard", F.col("shard") + F.lit(base_max_shard + 1))
        # schema parity with the base shards: increments are not
        # re-mixed, so their keep rate is definitionally 1
        .withColumn("keep_rate", F.lit(1.0))
    )
    out = out.select(*base.columns)
    # re-record the configured cap AND the stage recipe so day-N+1
    # reads the same values (the append rewrites manifest.json)
    manifest = sinks.write_training_shards(
        out, base_dir, mode="append", tokens_per_shard=int(cap),
        stages=stages or None,
    )
    # keep the dedup index in lockstep with the shards so day-N+1
    # joins against today's appends too; a crash before this append
    # leaves a stale index the next increment detects and rebuilds.
    # The rows come from the survivors checkpoint, not `out`: the same
    # ids (the shard join drops only null ids), without re-running
    # the shard-assignment plan
    index_cols = ["doc_id", "text"] + ([url_conf["url_col"]] if url_conf else [])
    _write_dedup_index(
        survivors.filter(F.col("doc_id").isNotNull()).select(*index_cols),
        base_dir,
        mode="append",
        url_col=url_conf["url_col"] if url_conf else None,
        containment=bool(cont_conf),
        domain_stats_df=batch_stats,
        signatures=sigs,
    )
    if pack_conf:
        # manifest-driven packing continuation (r13): the batch's
        # token spans continue the global stream from the recorded
        # total — O(batch). Falls back to a full repack (self-heal,
        # same stance as the dedup-index probe) when the recorded
        # block is missing/stale (crash between the pieces append and
        # the manifest rewrite — detected by recomputing the stream
        # end from the pieces table), the ctx_len changed, or the
        # batch ids do not sort after the base ids.
        ctx = int(pack_conf["ctx_len"])
        block = base_manifest.get("packing")
        landed = (
            sinks.read_parquet(spark, f"{base_dir}/shards")
            .filter(F.col("shard") > base_max_shard)
            .select("doc_id", "text")
        )
        # the sink read back every shard this append landed, so their
        # manifest rows carry the per-shard id range
        batch_min = min(
            (s["min_doc_id"] for s in manifest["shards"] if s["shard"] > base_max_shard),
            default=None,
        )
        fresh = (
            block is not None
            and int(block.get("ctx_len", -1)) == ctx
            and _packing_actual_total(spark, base_dir, ctx)
            == int(block["total_tokens"])
            and (batch_min is None or batch_min > base_max_doc_id)
        )
        if fresh:
            manifest["packing"] = _write_packing(
                spark, base_dir, landed, ctx, base_block=block
            )
        else:
            manifest["packing"] = _write_packing(
                spark,
                base_dir,
                sinks.read_parquet(spark, f"{base_dir}/shards").select(
                    "doc_id", "text"
                ),
                ctx,
            )
        _rewrite_manifest(base_dir, manifest)
    unpersist_checkpoint(survivors)
    unpersist_checkpoint(sigs)
    unpersist_checkpoint(unique)
    if batch_stats is not None:
        unpersist_checkpoint(batch_stats)
    return manifest


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--alpha", type=float, default=0.5)
    p.add_argument("--tokens-per-shard", type=int, default=20_000)
    p.add_argument("--jaccard", type=float, default=0.5)
    p.add_argument("--benchmark-source", default="src0")
    p.add_argument(
        "--bench-stride", type=int, default=1,
        help="keep every Nth benchmark doc (fixed-eval-set convention "
        "for scale runs; SCALEPROOF uses stride == corpus multiplier)",
    )
    p.add_argument(
        "--url-col", default=None,
        help="enable URL-dedup stage 0 on this column",
    )
    p.add_argument(
        "--domain-gate", action="store_true",
        help="enable the domain-reputation gate (requires --url-col)",
    )
    p.add_argument(
        "--c4", action="store_true",
        help="enable the C4 line scrub as the pre-quality stage",
    )
    p.add_argument(
        "--gopher", action="store_true",
        help="enable the Gopher rule gate next to the quality predicate",
    )
    p.add_argument(
        "--cluster-mix", action="store_true",
        help="enable cluster-balanced semantic mixing using the sf "
        "dir's embeddings table (vec_id keyed as doc_id — the test "
        "fixture convention; real corpora pass their own "
        "(doc_id, embedding) frame via the API)",
    )
    p.add_argument("--cluster-k", type=int, default=16)
    p.add_argument("--cluster-cap", type=int, default=None)
    p.add_argument(
        "--pack-ctx-len", type=int, default=None,
        help="emit context-packing tables (q189 pieces + q190 sequence "
        "manifest) next to the shards at this context length; "
        "increments continue the token stream from the manifest",
    )
    return p


def main() -> None:
    from climate_data_pipelines_spark import get_spark

    args = build_parser().parse_args()
    spark = get_spark(app_name="llm-curation")
    cm_emb = None
    if args.cluster_mix:
        cm_emb = load_table(spark, args.sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"), "embedding"
        )
    manifest = curate_corpus(
        spark,
        args.sf_dir,
        args.out,
        alpha=args.alpha,
        tokens_per_shard=args.tokens_per_shard,
        jaccard_threshold=args.jaccard,
        benchmark_source=args.benchmark_source,
        bench_stride=args.bench_stride,
        url_col=args.url_col,
        domain_gate=args.domain_gate,
        c4=args.c4,
        gopher=args.gopher,
        cluster_mix_embeddings=cm_emb,
        cluster_k=args.cluster_k,
        cluster_cap=args.cluster_cap,
        pack_ctx_len=args.pack_ctx_len,
    )
    print(
        f"wrote {manifest['n_shards']} shards / {manifest['total_docs']} docs "
        f"/ {manifest['total_tokens']} tokens to {args.out}"
    )


if __name__ == "__main__":
    main()
