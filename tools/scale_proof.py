"""Measured scaling curves for the engine's scale-sensitive operators.

One case table, one measuring loop, one merge into SCALEPROOF.json
(narrative and retired cases: docs/SCALEPROOF.md). A case is
``(name, fixture, builder, contract)``:

- ``fixture`` names the ``tools/gen_scale_fixture.py`` family the dirs
  must come from: ``x`` (the plain corpus, or ``--zipf`` /
  ``--docs-only`` for a named section) or ``mog`` (``--mog`` clustered
  embeddings). A ``mog`` case runs only when SCALEPROOF_ONLY names it,
  and one invocation never mixes fixtures.
- ``builder`` is either a frame builder ``fn(spark, dir) -> DataFrame``
  (the 27 registry queries and the CUSTOM probes), measured at every
  dir with time and row ratios against the first dir, or a record
  builder ``fn(spark, dirs) -> {section: value}`` that writes its own
  top-level sections (ANN recall, the increments, k-means at IVF k).
- ``contract`` lists the fields every measured entry of the case
  carries; a boolean one (a parity or monotonicity bit) must be True.
  A broken contract fails the run after the results are written.

The contracts the curves back:

- minhash/simhash LSH candidates grow ~linearly (banded buckets pair
  only true near-dups), so pairs/doc stays ~constant;
- ANN LSH candidates/query grow sublinearly at fixed recall, and on
  clustered embeddings LSH/IVF/PQ prune to a few % of the corpus;
- decontamination scales on the realistic axis: the benchmark side is
  pinned to a ~constant slice while the train side grows;
- the day-N increments (``curate_increment``, ``pack_increment``) cost
  O(batch) and keep exactly the survivors / pieces of a full re-run;
- wall time stays near-linear in the data ratio.

Usage (the committed default section covers x1, x10 and x100):
    python tools/gen_scale_fixture.py scaledata/x1 1      # x10 10, x100 100
    python tools/scale_proof.py [--section NAME] scaledata/x1 scaledata/x10
    python tools/gen_scale_fixture.py scaledata/mog_x1 1 --mog
    SCALEPROOF_ONLY=ann_clustered python tools/scale_proof.py scaledata/mog_x1

Frame cases run at every dir. The increments take the last dir as the
base and each earlier dir as a day-N batch; ``q187_kmeans_k`` runs on
the last dir. ``--section NAME`` (e.g. zipf, x1000) writes the frame
cases under ``SCALEPROOF.json[NAME]`` and skips the record cases.

Env: SCALEPROOF_REPEATS (default 3) — timing repeats per case and dir.
     SCALEPROOF_ONLY — comma-separated case-name substrings; limits
       this invocation to matching cases. Results MERGE into the
       existing SCALEPROOF.json, so a long sweep runs in resumable
       chunks (see ``merge``).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from typing import Callable, NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT_PATH = os.path.join(REPO, "SCALEPROOF.json")
REPEATS = int(os.environ.get("SCALEPROOF_REPEATS", "3"))
BASE_DOCS = 5000  # gen_scale_fixture.BASE_DOCS — x1 document count
BATCH_ID_OFFSET = 10_000_000  # day-N batch ids sort after every base id
CTX_LEN = 2048
KMEANS_ITERS = 6

FRAME = ("rows", "sec", "rows_per_doc")
ANN = ("recall@10", "candidates", "cand_frac", "sec")


class Case(NamedTuple):
    name: str
    fixture: str
    builder: Callable
    contract: tuple


# registry queries swept at every dir; a trailing comment names the
# scaling contract a curve backs (docs/SCALEPROOF.md has the findings)
QUERIES = [
    "q129_minhash64_candidates",  # banded LSH: pairs/doc ~constant
    "q122_verified_dedup_clusters",
    "q90_dedup_clusters",
    "q126_semantic_dedup",  # +1 LSH plane per corpus doubling
    "q127_repeated_ngrams",
    "q124_simhash_candidates",
    "q136_edit_distance_verify",  # candidate-bounded verify
    "q141_incremental_dedup",  # cross-corpus dedup, self-contained split
    "q137_sessionize",  # users and events scale together
    "q145_funnel",
    "q159_weighted_sample",  # partial window-limit before the exchange
    "q160_heavy_hitters",  # sample-then-verify, no full-vocab exchange
    "q161_pagerank",  # O(1) rounds on the planted components
    "q171_shard_assign",  # hierarchical prefix sum
    "q175_url_dedup",
    "q176_containment_neardup",
    "q177_trigram_lm_score",
    "q178_simhash_capped_candidates",  # salt-capped hot buckets
    "q179_small_in_large_containment",  # rarest-shingle prefix join
    "q173_quality_classifier",  # one distributed job per epoch
    "q174_warc_ingest",
    "q181_perplexity_bucket_mix",
    "q187_kmeans_mix",
    "q189_context_packing",  # rows ~ docs + tokens/ctx_len
    "q190_sequence_manifest",
    "q191_leakage_safe_split",
    "q192_length_bucket_batches",
]


def _fixed_bench_decontaminate(spark, sf_dir):
    """q139 with the benchmark pinned to a ~constant-size slice (doc_id
    stride = corpus multiplier): the train side grows, the benchmark —
    like every real held-out eval set — does not."""
    from pyspark.sql import functions as F

    from climate_data_pipelines_spark.catalog import load_table, table_rows
    from climate_data_pipelines_spark.operators import training

    docs = load_table(spark, sf_dir, "documents")
    mult = max(1, table_rows(sf_dir, "documents") // BASE_DOCS)
    bench = docs.filter(
        (F.col("source") == "src0") & (F.col("doc_id") % mult == 0)
    )
    train = docs.filter(F.col("source") != "src0")
    out = training.bloom_decontaminate(
        train, bench, k=3, expected_items=20_000, fpp=0.01
    )
    return out.select("doc_id", "lang", "source", "n_chars")


def _fixed_bench_semantic_decontaminate(spark, sf_dir):
    """q166 on the same axis: the benchmark is 100 planted perturbed
    copies of base vectors while the train side scales. Output stays
    the 100 planted hits at every scale, so the curve isolates the
    cross-corpus bucket join and probe."""
    from pyspark.sql import functions as F

    from climate_data_pipelines_spark.catalog import load_table, table_rows
    from climate_data_pipelines_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x, i: x * (1.0 + 0.002 * (i % 3)))
        .cast("array<float>")
        .alias("embedding"),
    )
    return similarity.semantic_decontaminate(
        emb, bench, threshold=0.99,
        corpus_n=table_rows(sf_dir, "embeddings"),
    )


def _q179_candidates(spark, sf_dir):
    """q179's candidate-pair table before the exact verify, on q179's
    corpus (the scan plus 25 planted 16-token excerpts of hosts 0-24
    at id+950000). Candidates grow ~linearly when prefix df is O(1)
    (Zipf text), ~quadratically on the fixed-vocabulary soup."""
    from pyspark.sql import functions as F

    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.functions.text import tokens
    from climate_data_pipelines_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tiny = docs.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 950000).alias("doc_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 5, 16)).alias("text"),
    )
    return dedup.containment_small_in_large(
        docs.unionByName(tiny), k=3, threshold=0.9, small_max=16,
        df_cap=64, candidates_only=True,
    )


def _q179_planted_recovery(spark, sf_dir):
    """Recall floor at every scale: the 25 planted excerpts come back
    as (tiny -> its own host) pairs, so rows == 25."""
    from pyspark.sql import functions as F

    from climate_data_pipelines_spark.queries import REGISTRY

    out = REGISTRY["q179_small_in_large_containment"].fn(spark, sf_dir)
    return out.filter(
        (F.col("id_small") >= 950000)
        & (F.col("id_large") == F.col("id_small") - 950000)
    )


def _minhash(docs):
    from climate_data_pipelines_spark.operators import dedup
    from climate_data_pipelines_spark.queries import MINHASH_N

    return dedup.minhash_signatures(docs, k=3, n_hashes=MINHASH_N)


def _q122_candidates(spark, sf_dir):
    """q122's LSH candidate pairs before verification — the stage the
    banding bounds."""
    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import dedup
    from climate_data_pipelines_spark.queries import MINHASH_BANDS, MINHASH_N

    sigs = _minhash(load_table(spark, sf_dir, "documents"))
    return dedup.minhash_lsh_candidates(
        sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS
    )


def _q122_verified_pairs(spark, sf_dir):
    """q122's verified edges (exact Jaccard >= 0.5 on the candidates):
    candidates minus this is the false-positive volume verify kills."""
    from pyspark.sql import functions as F

    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    cand = _q122_candidates(spark, sf_dir).localCheckpoint(eager=True)
    return (
        dedup.jaccard_on_pairs(docs, cand, k=3)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )


def _q141_candidates(spark, sf_dir):
    """q141's cross-corpus candidates (new x base band buckets; the base
    never self-pairs) — candidates per new doc across Zipf decades."""
    from pyspark.sql import functions as F

    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import dedup
    from climate_data_pipelines_spark.queries import MINHASH_BANDS, MINHASH_N

    docs = load_table(spark, sf_dir, "documents")
    is_base = F.col("source").rlike("^src[0-9]$")
    return dedup.minhash_lsh_candidates_cross(
        _minhash(docs.filter(~is_base)), _minhash(docs.filter(is_base)),
        n_hashes=MINHASH_N, bands=MINHASH_BANDS,
    )


CUSTOM = {
    "q139_fixed_bench_decontaminate": _fixed_bench_decontaminate,
    "q166_fixed_bench_semantic_decon": _fixed_bench_semantic_decontaminate,
    "q179_candidates": _q179_candidates,
    "q179_planted_recovery": _q179_planted_recovery,
    "q122_candidates": _q122_candidates,
    "q122_verified_pairs": _q122_verified_pairs,
    "q141_candidates": _q141_candidates,
}


# -- the measuring loop -----------------------------------------------------


def _drop_stale_checkpoints(spark) -> None:
    """Operators localCheckpoint bounded intermediates that outlive the
    query in the block manager; across a sweep the dead blocks tax late
    cases (a CUSTOM probe measured 38.0 s behind them vs 12.6 s for its
    own superset run early). Untimed, between samples."""
    try:
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
    except Exception:
        pass


def _median_sec(spark, build) -> float:
    """Median wall of REPEATS noop-sink writes of ``build()``."""
    samples = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
        _drop_stale_checkpoints(spark)
    return statistics.median(samples)


def _frames(spark, dirs, fn) -> dict:
    """Materialize once (the rows metric), time over REPEATS, and ratio
    every dir against the first."""
    from climate_data_pipelines_spark.catalog import table_rows

    res: dict = {}
    for d in dirs:
        n_docs = table_rows(d, "documents")
        rows = fn(spark, d).count()
        _drop_stale_checkpoints(spark)
        res[d] = {
            "rows": rows,
            "sec": round(_median_sec(spark, lambda: fn(spark, d)), 3),
            "n_docs": n_docs,
            "rows_per_doc": round(rows / n_docs, 4),
        }
    r1 = res[dirs[0]]
    for d in dirs[1:]:
        mult = res[d]["n_docs"] // max(r1["n_docs"], 1)
        res[f"time_ratio_x{mult}"] = round(res[d]["sec"] / r1["sec"], 2)
        res[f"rows_ratio_x{mult}"] = round(
            res[d]["rows"] / max(r1["rows"], 1), 2
        )
    return res


# -- record cases -------------------------------------------------------------


def _ann_entries(spark, d, methods: dict) -> dict:
    """recall@10 of each method's top-10 against the exact cosine top-10
    (computed once per dir), its candidate count and wall. ``methods``
    maps a name to ``(topk(emb, q, k), n_candidates(n_queries))``; with
    no ``n_candidates`` the row count of a top-k wider than any
    candidate set IS the distinct candidate count."""
    from climate_data_pipelines_spark.catalog import load_table, table_rows
    from climate_data_pipelines_spark.operators import similarity
    from climate_data_pipelines_spark.queries import _query_vectors

    emb = load_table(spark, d, "embeddings")
    q = _query_vectors(spark, d)
    n_vec = table_rows(d, "embeddings")

    def by_query(df):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    exact = by_query(similarity.cosine_topk(emb, q, k=10))
    total = sum(len(v) for v in exact.values())
    out = {}
    for name, (topk, n_candidates) in methods.items():
        t0 = time.perf_counter()
        approx = by_query(topk(emb, q, 10))
        sec = time.perf_counter() - t0
        hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
        n_cand = (
            n_candidates(len(exact)) if n_candidates
            else topk(emb, q, 1 << 30).count()
        )
        out[name] = {
            "recall@10": round(hits / total, 3) if total else 0.0,
            "candidates": n_cand,
            "corpus": n_vec,
            "cand_frac": round(n_cand / (n_vec * max(1, len(exact))), 4),
            "sec": round(sec, 3),
        }
    return out


def _q55_ann_lsh(spark, dirs) -> dict:
    """q55's LSH on the i.i.d. corpus (where no index prunes, Finding 3)
    and the derived semantic-dedup plane depth per dir (+1 plane per
    corpus doubling bounds candidates/member)."""
    from climate_data_pipelines_spark.catalog import table_rows
    from climate_data_pipelines_spark.operators import similarity

    def lsh(emb, q, k):
        return similarity.ann_lsh_topk(
            emb, q, k=k, n_planes=5, n_tables=8, multiprobe_bits=2
        )

    return {
        "q55_ann_lsh": {
            d: _ann_entries(spark, d, {"lsh": (lsh, None)})["lsh"]
            for d in dirs
        },
        "derived_lsh_planes": {
            d: similarity.derive_lsh_planes(table_rows(d, "embeddings"), 6)
            for d in dirs
        },
    }


def _ann_clustered(spark, dirs) -> dict:
    """LSH/IVF/PQ on mixture-of-Gaussians embeddings with corpus-derived
    parameters. PQ's ADC pass scans every code row by design (its win is
    memory), so its candidates are the exact re-rank tail, sized ~1.6 %
    of the corpus so recall holds as clusters densify."""
    from climate_data_pipelines_spark.catalog import table_rows
    from climate_data_pipelines_spark.operators import similarity

    blk: dict = {
        "fixture": (
            "gen_scale_fixture --mog: 64 centers, ~0.92 within-cluster "
            "pairwise cosine, 10% iid background, dim 64"
        )
    }
    for d in dirs:
        b = os.path.basename(d.rstrip("/"))
        n = table_rows(d, "embeddings")
        rf = max(8, -(-n // 625))  # rf*k = 1.6% of the corpus
        entries = _ann_entries(spark, d, {
            "lsh": (lambda emb, q, k: similarity.ann_lsh_topk(
                emb, q, k=k, n_planes=None, n_tables=8, multiprobe_bits=1,
                corpus_n=n,
            ), None),
            "ivf": (lambda emb, q, k: similarity.ann_ivf_topk(
                emb, q, k=k, n_cells=None, n_probe=None, corpus_n=n,
                probe_frac=1.0 / 32.0,
            ), None),
            "pq": (lambda emb, q, k: similarity.pq_topk(
                emb, q, k=k, rerank_factor=rf
            ), lambda n_queries: rf * 10 * n_queries),
        })
        derived = {
            "lsh": ("derived_planes", similarity.derive_lsh_planes(n, 8)),
            "ivf": ("derived_params", list(
                similarity.derive_ivf_params(n, probe_frac=1.0 / 32.0)
            )),
            "pq": ("rerank_factor", rf),
        }
        for method, (key, value) in derived.items():
            blk.setdefault(method, {})[f"{key}_{b}"] = value
            blk[method][b] = entries[method]
    return {"ann_clustered": blk}


def _batch_key(name: str, batch_dir: str) -> str:
    """The x10 batch keeps the unsuffixed section name; other batch
    sizes accumulate as ``name_<batch>`` points."""
    b = os.path.basename(batch_dir.rstrip("/"))
    return name if b == "x10" else f"{name}_{b}"


def _batch(spark, batch_dir):
    from pyspark.sql import functions as F

    from climate_data_pipelines_spark.catalog import load_table

    return load_table(spark, batch_dir, "documents").withColumn(
        "doc_id", F.col("doc_id") + F.lit(BATCH_ID_OFFSET)
    )


def _curate_increment(spark, dirs) -> dict:
    """Day 0 curates the base (last dir); day 1 appends each earlier
    dir's documents as a batch via ``curate_increment`` and, for
    parity, via a from-scratch ``curate_corpus`` over the combined
    universe. alpha=1.0 isolates dedup semantics, and both routes must
    keep the same survivor total (one representative per equivalence
    class). Batch docs exclude the benchmark source, so the combined
    universe's benchmark equals day 0's."""
    from pyspark.sql import functions as F

    from climate_data_pipelines_spark.catalog import load_table, table_rows
    from climate_data_pipelines_spark.plans.llm_curation import (
        curate_corpus,
        curate_increment,
    )

    base_dir = dirs[-1]
    base_n = table_rows(base_dir, "documents")
    mult = max(1, base_n // BASE_DOCS)
    out = {}
    for batch_dir in dirs[:-1]:
        work = tempfile.mkdtemp(prefix="curate_increment_")
        try:
            t0 = time.perf_counter()
            curate_corpus(
                spark, base_dir, f"{work}/base", alpha=1.0, bench_stride=mult
            )
            day0_sec = time.perf_counter() - t0
            batch = _batch(spark, batch_dir).filter(F.col("source") != "src0")
            batch_n = batch.count()
            bench = load_table(spark, base_dir, "documents").filter(
                (F.col("source") == "src0") & (F.col("doc_id") % mult == 0)
            )
            t0 = time.perf_counter()
            inc = curate_increment(
                spark, batch, f"{work}/base", alpha=1.0, benchmark=bench
            )
            inc_sec = time.perf_counter() - t0
            (
                load_table(spark, base_dir, "documents")
                .unionByName(batch)
                .repartition(spark.sparkContext.defaultParallelism)
                .write.mode("overwrite")
                .parquet(f"{work}/combined/documents.parquet")
            )
            t0 = time.perf_counter()
            full = curate_corpus(
                spark, f"{work}/combined", f"{work}/full_rerun", alpha=1.0,
                bench_stride=mult,
            )
            full_sec = time.perf_counter() - t0
        finally:
            shutil.rmtree(work, ignore_errors=True)
        out[_batch_key("curate_increment", batch_dir)] = {
            "base_dir": base_dir,
            "batch_dir": batch_dir,
            "base_docs_in": base_n,
            "batch_docs_in": batch_n,
            "day0_sec": round(day0_sec, 1),
            "increment_sec": round(inc_sec, 1),
            "full_rerun_sec": round(full_sec, 1),
            "speedup_vs_rerun": round(full_sec / inc_sec, 2),
            "docs_kept_increment": inc["total_docs"],
            "docs_kept_full_rerun": full["total_docs"],
            "parity_docs_equal": inc["total_docs"] == full["total_docs"],
            "note": (
                "day-N append via digest anti-join + cross-corpus LSH vs "
                "from-scratch curate_corpus over the combined universe; "
                "alpha=1.0 isolates dedup semantics (mixing is global by "
                "design). Equal survivor totals = both routes keep one "
                "representative per equivalence class."
            ),
        }
    return out


def _pack_increment(spark, dirs) -> dict:
    """``pack_contexts_increment`` continuing the base's token stream
    (only batch text is tokenized) vs a full ``pack_contexts`` repack
    of base + batch; parity: the increment's pieces equal the repack's
    batch rows, checked distributed by two exceptAll probes."""
    from pyspark.sql import functions as F

    from climate_data_pipelines_spark.catalog import load_table, table_rows
    from climate_data_pipelines_spark.functions.text import tokens
    from climate_data_pipelines_spark.operators import training

    base_dir = dirs[-1]
    base = load_table(spark, base_dir, "documents").select("doc_id", "text")
    base_total = int(
        base.agg(F.sum(F.size(tokens("text"))).alias("t")).collect()[0]["t"]
    )
    out = {}
    for batch_dir in dirs[:-1]:
        batch = _batch(spark, batch_dir).select("doc_id", "text")
        union = base.unionByName(batch)

        def inc():
            return training.pack_contexts_increment(batch, base_total, CTX_LEN)

        def full():
            return training.pack_contexts(union, ctx_len=CTX_LEN)

        for build in (inc, full):  # warm-up: plan compile + Arrow spin-up
            build().write.format("noop").mode("overwrite").save()
        inc_sec = _median_sec(spark, inc)
        full_sec = _median_sec(spark, full)
        pieces = inc()
        full_batch = full().filter(F.col("doc_id") >= BATCH_ID_OFFSET)
        parity = (
            pieces.exceptAll(full_batch).isEmpty()
            and full_batch.exceptAll(pieces).isEmpty()
        )
        out[_batch_key("pack_increment", batch_dir)] = {
            "base_dir": base_dir,
            "batch_dir": batch_dir,
            "base_docs": table_rows(base_dir, "documents"),
            "batch_docs": table_rows(batch_dir, "documents"),
            "base_tokens": base_total,
            "ctx_len": CTX_LEN,
            "pieces_batch": pieces.count(),
            "increment_sec": round(inc_sec, 2),
            "full_repack_sec": round(full_sec, 2),
            "speedup_vs_repack": round(full_sec / inc_sec, 2),
            "parity_ok": bool(parity),
            "repeats": REPEATS,
            "note": (
                "append-only packing continuation vs a full "
                "pack_contexts repack of the combined corpus; the "
                "increment tokenizes only the batch, so the wall gap "
                "widens with the base/batch ratio. Parity is the "
                "property test's row-identical contract re-checked "
                "distributed at this scale."
            ),
        }
    return out


def _q187_kmeans_k(spark, dirs) -> dict:
    """k-means at the mixing k (16) and an IVF coarse-quantizer k (256)
    on the last dir: the terms that grow with k are the per-round
    k*dim driver collect and the broadcast centroid closure."""
    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import similarity

    d = dirs[-1]
    emb = load_table(spark, d, "embeddings").select("vec_id", "embedding")
    n_vecs = emb.count()
    dim = len(emb.filter("embedding is not null").first()["embedding"])
    points = {}
    for k in (16, 256):
        similarity.kmeans_clusters(emb, k=k, iters=1)  # warm-up
        t0 = time.perf_counter()
        assigned, inertia = similarity.kmeans_clusters(
            emb, k=k, iters=KMEANS_ITERS
        )
        n_assigned = assigned.count()
        wall = time.perf_counter() - t0
        points[f"k{k}"] = {
            "k": k,
            "iters": KMEANS_ITERS,
            "wall_sec": round(wall, 3),
            "sec_per_round": round(wall / KMEANS_ITERS, 3),
            "driver_rows_per_round": k * dim,
            # (cluster int, dim int, sx double, n long, sd2 double)
            "driver_bytes_per_round_approx": k * dim * 32,
            "broadcast_closure_bytes": k * dim * 8,
            "inertia_first": round(inertia[0], 1),
            "inertia_last": round(inertia[-1], 1),
            "inertia_monotone": all(
                b <= a * (1 + 1e-9) for a, b in zip(inertia, inertia[1:])
            ),
            "n_assigned": n_assigned,
        }
    return {"q187_kmeans_k": {
        "dir": d, "n_vecs": n_vecs, "dim": dim, "points": points,
    }}


def _registry(name):
    def build(spark, sf_dir):
        from climate_data_pipelines_spark.queries import REGISTRY

        return REGISTRY[name].fn(spark, sf_dir)

    return build


CASES = (
    [Case(n, "x", _registry(n), FRAME) for n in QUERIES]
    + [Case(n, "x", fn, FRAME) for n, fn in CUSTOM.items()]
    + [
        Case("q55_ann_lsh", "x", _q55_ann_lsh, ANN),
        Case("ann_clustered", "mog", _ann_clustered, ANN),
        Case(
            "curate_increment", "x", _curate_increment,
            ("increment_sec", "full_rerun_sec", "parity_docs_equal"),
        ),
        Case(
            "pack_increment", "x", _pack_increment,
            ("increment_sec", "full_repack_sec", "parity_ok"),
        ),
        Case(
            "q187_kmeans_k", "x", _q187_kmeans_k,
            ("wall_sec", "n_assigned", "inertia_monotone"),
        ),
    ]
)


def select(only=(), section: str = "queries") -> list:
    """The cases an invocation runs: the ``x`` cases by default, or
    those whose name contains an ``only`` substring; a named section
    runs frame cases only."""
    cases = [
        c for c in CASES
        if (any(s in c.name for s in only) if only else c.fixture == "x")
        and (section == "queries" or c.contract is FRAME)
    ]
    if len({c.fixture for c in cases}) > 1:
        raise ValueError(
            "cases on different fixtures: "
            + ", ".join(f"{c.name} ({c.fixture})" for c in cases)
            + " — run each fixture's cases on its own dirs"
        )
    return cases


def broken(case: Case, value) -> list:
    """Contract violations of one case's result: every dict carrying the
    contract's first field must carry all of them, booleans True. An
    empty result (an increment given a single dir) has none."""
    entries = []

    def walk(v):
        if isinstance(v, dict):
            if case.contract[0] in v:
                entries.append(v)
            for x in v.values():
                walk(x)

    walk(value)
    if value and not entries:
        return [f"{case.name}: no entry carries {case.contract[0]!r}"]
    return [
        f"{case.name}: {k}={e.get(k)!r}"
        for e in entries
        for k in case.contract
        if k not in e or e[k] is False
    ]


def merge(out_path: str, dirs, section: str, queries: dict,
          records: dict) -> dict:
    """Merge one invocation into ``out_path`` and return the file's
    content. Frame results land in ``section`` (the top level for
    ``queries``, else ``out[section]``); its earlier results are kept
    only when they were measured on the same dirs, otherwise they are
    discarded with a WARNING. Record sections are merged key by key,
    so per-dir entries from earlier chunks survive. Everything else in
    the file is left untouched."""
    out: dict = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            out = json.load(fh)
    if queries:
        sec = out if section == "queries" else out.setdefault(section, {})
        if sec.get("dirs") != list(dirs):
            if sec.get("queries"):
                print(
                    f"WARNING: {out_path} [{section}] covers dirs "
                    f"{sec.get('dirs')} != {list(dirs)}; its results are "
                    "DISCARDED (re-run prior chunks with these dirs, or "
                    "align the dir arguments to merge)"
                )
            sec["queries"] = {}
        sec["dirs"] = list(dirs)
        sec["repeats"] = REPEATS
        sec["queries"].update(queries)

    def deep_update(dst: dict, src: dict) -> None:
        for k, v in src.items():
            if isinstance(v, dict) and isinstance(dst.get(k), dict):
                deep_update(dst[k], v)
            else:
                dst[k] = v

    deep_update(out, records)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    return out


def run(spark, dirs, out_path: str = OUT_PATH, section: str = "queries",
        only=()) -> dict:
    """Run the selected cases on ``dirs``, merge them into ``out_path``
    and return ``{case name: result}``; raise if a contract broke."""
    dirs = list(dirs)
    queries, records, results, bad = {}, {}, {}, []
    for case in select(only, section):
        t0 = time.perf_counter()
        if case.contract is FRAME:
            value = queries[case.name] = _frames(spark, dirs, case.builder)
        else:
            value = case.builder(spark, dirs)
            records.update(value)
        results[case.name] = value
        bad += broken(case, value)
        wall = time.perf_counter() - t0
        print(f"{case.name} ({wall:.1f}s): {json.dumps(value)[:300]}",
              flush=True)
    merge(out_path, dirs, section, queries, records)
    print(f"wrote {out_path} ({', '.join(results)})")
    if bad:
        raise RuntimeError("scale-proof contract broken: " + "; ".join(bad))
    return results


def main() -> None:
    argv = list(sys.argv[1:])
    section = "queries"
    if "--section" in argv:
        i = argv.index("--section")
        section = argv[i + 1]
        del argv[i : i + 2]
    from climate_data_pipelines_spark import get_spark

    only = [s for s in os.environ.get("SCALEPROOF_ONLY", "").split(",") if s]
    run(
        get_spark(app_name="scale-proof"),
        argv or ["scaledata/x1", "scaledata/x10"],
        section=section,
        only=only,
    )


if __name__ == "__main__":
    main()
