"""Generate a scaled documents/embeddings fixture for scale-proof runs.

The driver fixtures stop at sf0.1 (5,000 docs / 2,000 embeddings), so
the dedup/ANN scaling story above that is proven by plan shape only.
This tool regenerates the SAME corpus shape (measured from
/root/testdata/sf0.1 — see the constants below) at an arbitrary
multiplier so wall-time and candidate-count curves can be MEASURED
across a 10x corpus step (VERDICT r4 next-step 1):

- documents: n_tokens ~ U(10, 100) word soup over the fixture's
  30-word vocabulary; ~5%% of docs are near-dup copies of a random
  earlier doc (text + " dup" — one extra trailing token, exactly the
  fixture's rule); ~0.16%% exact dup pairs; lang ~ (en 41%%, others
  ~15%%); source ~ U(src0..src19); n_chars = length(text).
- embeddings: dim-64 unit-normalized Gaussian vectors, label ~ U(0,9).

Deterministic (seed fixed). Other tables are copied from the base
sf dir so every registry query can run against the output dir.

Usage: python tools/gen_scale_fixture.py OUT_DIR MULT [BASE_SF_DIR] [--mog] [--zipf] [--docs-only]

``--docs-only`` writes ONLY documents.parquet — the x1000 dedup-core
sweep (VERDICT r8 item 6) reads nothing else, and the skipped
events table alone would be 100M rows at that multiplier.

``--mog`` replaces the i.i.d. embeddings with a clustered
mixture-of-Gaussians corpus (64 centers, ~0.92 within-cluster pairwise
cosine, 10% i.i.d. background) — the geometry on which ANN pruning can
actually be MEASURED (i.i.d. vectors are all ~orthogonal; no index
prunes them). Used by the ann_clustered case of tools/scale_proof.py.

``--zipf`` replaces the 30-word-soup documents with a
Zipf-Mandelbrot corpus (50,000-type vocabulary, token frequency
∝ 1/(rank+2.7) — the distribution REAL text has): the shape on which
"globally rarest shingle" actually means rare. The fixed-vocab soup
is adversarial for prefix-filter joins (q179) and count-table LMs
(q177/q181): at 30 types every trigram's document frequency grows
LINEARLY with the corpus, so the prefix join's fan-out is ~quadratic
and the trigram vocabulary is corpus-sized — neither happens under
Zipf, where a tiny doc's rarest trigram has O(1) df at any corpus
size (the r8 verdict's one `weak` item: the claim existed with zero
measurement; this mode is the measurement). Same doc-length, dup and
lang mechanics as the soup so curves are comparable.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
BASE_DOCS = 5000
BASE_EMB = 2000
NEAR_DUP_FRAC = 0.05
EXACT_DUP_PAIRS_PER_BASE = 8
DIM = 64


def gen_documents(n: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    n_base = n - int(n * NEAR_DUP_FRAC)
    for _ in range(n_base):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    # exact dup pairs (same rate as the fixture: 8 per 5k docs)
    for _ in range(EXACT_DUP_PAIRS_PER_BASE * n // BASE_DOCS):
        texts.append(texts[int(rng.integers(0, n_base))])
    # near-dups: a random earlier doc's text + " dup"
    while len(texts) < n:
        texts.append(texts[int(rng.integers(0, n_base))] + " dup")
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    langs = rng.choice(LANGS, size=len(texts), p=LANG_P)
    sources = [f"src{int(i)}" for i in rng.integers(0, 20, len(texts))]
    return pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([str(x) for x in langs], pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


ZIPF_VOCAB_N = 50_000
ZIPF_B = 2.7  # Zipf-Mandelbrot shift (flattens the top few ranks)


def gen_documents_zipf(n: int, seed: int = 42):
    """Zipf-Mandelbrot documents: p(rank) ∝ 1/(rank+B) over a 50k-type
    vocabulary. One vectorized draw for the whole corpus (27.5M tokens
    at x100), split at the per-doc length offsets; dup mechanics are
    identical to :func:`gen_documents` so the near-dup/exact-dup
    operator fixtures keep their planted densities."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, ZIPF_VOCAB_N + 1, dtype=np.float64)
    p = 1.0 / (ranks + ZIPF_B)
    p /= p.sum()
    vocab = np.array([f"w{i}" for i in range(ZIPF_VOCAB_N)])
    n_base = n - int(n * NEAR_DUP_FRAC)
    lens = rng.integers(10, 101, n_base)
    draws = vocab[rng.choice(ZIPF_VOCAB_N, size=int(lens.sum()), p=p)]
    offsets = np.concatenate([[0], np.cumsum(lens)])
    texts: list[str] = [
        " ".join(draws[offsets[i] : offsets[i + 1]]) for i in range(n_base)
    ]
    for _ in range(EXACT_DUP_PAIRS_PER_BASE * n // BASE_DOCS):
        texts.append(texts[int(rng.integers(0, n_base))])
    while len(texts) < n:
        texts.append(texts[int(rng.integers(0, n_base))] + " dup")
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    langs = rng.choice(LANGS, size=len(texts), p=LANG_P)
    sources = [f"src{int(i)}" for i in rng.integers(0, 20, len(texts))]
    return pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([str(x) for x in langs], pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_embeddings(n: int, seed: int = 4242):
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in v], pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
        }
    )


MOG_CLUSTERS = 64
MOG_NOISE_FRAC = 0.10
MOG_PAIR_COS = 0.92  # expected within-cluster PAIRWISE cosine


def gen_embeddings_mog(n: int, seed: int = 4242):
    """Clustered (mixture-of-Gaussians) embeddings — the geometry a
    REAL embedding corpus has (topics/templates cluster tightly;
    i.i.d. Gaussian vectors, by contrast, are all ~orthogonal and no
    index can prune them — docs/SCALEPROOF.md Finding 3 / VERDICT r5
    missing-item 1).

    ``MOG_CLUSTERS`` unit-norm centers; member = normalize(center +
    sigma*noise) with sigma chosen so the expected within-cluster
    pairwise cosine is ``MOG_PAIR_COS`` (cos ~ 1/(1+sigma^2*dim) for
    small sigma, so sigma = sqrt((1/cos - 1)/dim)); the last
    ``MOG_NOISE_FRAC`` of ids are i.i.d. background vectors (real
    corpora have unclusterable tails). Cluster assignment is
    ``vec_id % MOG_CLUSTERS`` over the clustered prefix, so the
    fixture's standard query ids (vec_id < 3) are always cluster
    members and every cluster grows linearly with the corpus. label =
    cluster % 10 keeps the label-blocked queries meaningful.
    """
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((MOG_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    n_clustered = n - int(n * MOG_NOISE_FRAC)
    sigma = float(np.sqrt((1.0 / MOG_PAIR_COS - 1.0) / DIM))
    cluster = np.arange(n_clustered) % MOG_CLUSTERS
    v = centers[cluster] + sigma * rng.standard_normal((n_clustered, DIM))
    noise = rng.standard_normal((n - n_clustered, DIM))
    v = np.vstack([v, noise])
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    labels = np.concatenate(
        [cluster % 10, rng.integers(0, 10, n - n_clustered)]
    ).astype(np.int32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in v], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


BASE_EVENTS = 100_000
BASE_USERS = 1_500
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def gen_events(mult: int, seed: int = 777):
    """Scaled events stream with the sf0.1 shape: 100k·mult events over
    1.5k·mult users across 30 days of µs timestamps, ordered by ts.
    Users AND events scale together so events-per-user (the per-key
    sessionization partition) stays constant — the growth axis a 100 TB
    log actually has."""
    rng = np.random.default_rng(seed)
    n = BASE_EVENTS * mult
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    epoch_2024 = np.int64(1704067200) * 1_000_000
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(epoch_2024 + ts_us, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, BASE_USERS * mult, n), pa.int64()
            ),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)],
                pa.string(),
            ),
            "value": pa.array(
                np.round(rng.lognormal(3.0, 1.0, n), 2), pa.float64()
            ),
            "props": pa.array(
                [f'{{"k": {int(i)}}}' for i in rng.integers(0, 100, n)],
                pa.string(),
            ),
        }
    )


def main() -> None:
    flags = ("--mog", "--zipf", "--docs-only")
    args = [a for a in sys.argv[1:] if a not in flags]
    mog = "--mog" in sys.argv[1:]
    zipf = "--zipf" in sys.argv[1:]
    docs_only = "--docs-only" in sys.argv[1:]
    out_dir = args[0]
    mult = int(args[1])
    base = args[2] if len(args) > 2 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)
    # row-group size matters: the real fixture is one small file/one
    # group; write the scaled corpus the same way so the single-split
    # scan (the case spread_for_cpu exists for) is reproduced
    gen_docs = gen_documents_zipf if zipf else gen_documents
    pq.write_table(gen_docs(BASE_DOCS * mult), f"{out_dir}/documents.parquet")
    if docs_only:
        print(f"wrote {out_dir}: documents x{mult} ({BASE_DOCS * mult}"
              + (", zipf-50k" if zipf else "") + "), docs-only")
        return
    gen_emb = gen_embeddings_mog if mog else gen_embeddings
    pq.write_table(gen_emb(BASE_EMB * mult), f"{out_dir}/embeddings.parquet")
    pq.write_table(gen_events(mult), f"{out_dir}/events.parquet")
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem",
    ):
        src = f"{base}/{t}.parquet"
        dst = f"{out_dir}/{t}.parquet"
        if os.path.exists(src) and not os.path.exists(dst):
            shutil.copyfile(src, dst)
    print(f"wrote {out_dir}: documents x{mult} ({BASE_DOCS * mult}"
          + (", zipf-50k" if zipf else "")
          + f"), embeddings x{mult} ({BASE_EMB * mult}"
          + (", clustered/MoG" if mog else "")
          + f"), events x{mult} ({BASE_EVENTS * mult})")


if __name__ == "__main__":
    main()
