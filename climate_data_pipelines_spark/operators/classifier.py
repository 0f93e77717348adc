"""Trainable text-quality classifier — logistic regression over hashed
n-gram features, trained IN-ENGINE by full-batch gradient descent.

The reference pipeline's quality filters are static heuristics
(length/punctuation/stopword ratios — re-expressed as
``textops.quality_score`` / q44); production LLM curation pipelines
additionally train a *classifier* against labeled reference documents
and keep what the model scores as high-quality (the GPT-3 appendix-A
"quality classifier" / CCNet linear-model pattern, both public). This
module is that step, Spark-first:

- **Feature extraction is pure JVM expressions** (normalize → split →
  bigram zip → crc32 hashing → presence aggregate): no UDFs, map-side
  combined shuffles on corpus-scale keys — nothing corpus-sized ever
  converges to one node.
- **The model is driver-sized, the data is not.** Weights and the
  Adagrad accumulator are (dim+1)-float vectors (a few KB); per
  training epoch exactly ONE distributed job runs: a fused Arrow
  kernel over the doc-partitioned cached feature table computes each
  document's margin, residual and x·resid gradient contribution in a
  single pass (weights ride the closure) and emits (dim+1) partial
  rows per task — collected directly under a partial-row cap, or
  through a feat-keyed aggregate above it. Driver traffic per epoch
  is the gradient vector — the same bounded-by-vocabulary discipline
  as BPE training — so the labeled corpus itself can be 100 TB.
- **Adagrad** (Duchi et al. 2011, public) does the per-feature step
  scaling full-batch logistic GD otherwise needs hundreds of epochs
  for; the accumulator lives with the weights on the driver, and the
  whole trajectory is deterministic given the input (no sampling, no
  randomized init).
- **Reproducible outside Spark:** crc32 (not a JVM-only seeded hash)
  makes the feature mapping computable with stdlib ``zlib.crc32`` —
  the replay invariant retrains the exact model in numpy from the raw
  texts and pins weight parity (float-sum ordering is the only
  divergence, so parity is tolerance-based).

Hashed features (Weinberger et al. 2009, public) bound the model at
``dim`` regardless of vocabulary, which is what keeps the broadcast
side constant-size at any corpus scale.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from climate_data_pipelines_spark.functions.text import normalize_text, tokens
from climate_data_pipelines_spark.operators.scale import local_df, sum_partials

# margins are clamped to ±MARGIN_CLIP before the sigmoid in BOTH the
# engine and the numpy twin, so near-separable fits stay finite and
# bit-comparable instead of racing to inf at different float orders
MARGIN_CLIP = 30.0


def _grams(text_col: str, bigrams: bool):
    toks = tokens(normalize_text(F.col(text_col)))
    if not bigrams:
        return toks
    bi = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.concat(toks, bi)


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    bigrams: bool = True,
) -> DataFrame:
    """(id, feat, x): binary presence of hashed uni+bigram features,
    plus a constant bias row ``(id, dim, 1.0)`` for EVERY input row —
    empty documents still carry exactly one feature and always receive
    a score.

    feat = crc32(utf8(gram)) mod dim — crc32 over xxhash64 so the
    mapping is reproducible in stdlib Python (``zlib.crc32``), which
    the replay invariant uses to retrain the numpy twin from raw text.
    Presence (0/1) rather than tf: the distinct-collapse is one
    map-side-combined shuffle, and on short web documents presence is
    what the public linear-classifier pipelines use. Everything here
    is built-in expressions.
    """
    feats = (
        df.select(F.col(id_col), F.explode(_grams(text_col, bigrams)).alias("g"))
        .select(
            id_col,
            F.pmod(F.crc32(F.encode(F.col("g"), "utf-8")), F.lit(dim))
            .cast("int")
            .alias("feat"),
        )
        .distinct()
        .select(id_col, "feat", F.lit(1.0).alias("x"))
    )
    bias = df.select(
        F.col(id_col), F.lit(int(dim)).alias("feat"), F.lit(1.0).alias("x")
    )
    return feats.unionByName(bias)


def _logreg_epoch_grad(fl: DataFrame, dim: int, w, id_col: str) -> DataFrame:
    """ONE training epoch's margins → residuals → per-feature gradient
    fused into a single `mapInArrow` pass (r14, the `_kmeans_round_stats`
    pattern; guide §4.2). REQUIRES ``fl`` hash-partitioned by the doc
    id (train_quality_classifier's repartition+persist does this): a
    document's feature rows all live in one task, so the kernel can
    finish each doc's margin locally, apply clamp+sigmoid, and
    accumulate x·resid into a (dim+1)-float gradient — the work the
    pre-r14 plan spread over a weight broadcast join, a doc-keyed
    aggregate, a residual join and a feat-keyed aggregate (4-5 stages
    of protocol per epoch for a vocabulary-bounded result). Math is
    the identical clamp(±MARGIN_CLIP) → sigmoid → Σ x·resid; only
    float summation order changes, which the parity invariant already
    tolerates (weights match the numpy twin to ~1e-9 relative, not
    bit-exactly). Output: (feat, g) partial rows, (dim+1) per task.

    Batches of one partition can split a doc's rows, so the kernel
    buffers (row→doc index, feat, x) per batch — compact numpy arrays,
    the same bytes the task already holds as Arrow — and runs the
    gradient pass after the margins are complete."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    wv = np.asarray(w, dtype=np.float64)
    out_schema = T.StructType(
        [
            T.StructField("feat", T.IntegerType()),
            T.StructField("g", T.DoubleType()),
        ]
    )

    def gen(batches):
        doc_index: dict = {}
        margins = np.zeros(0)
        ys = np.zeros(0)
        bufs = []
        for b in batches:
            d = b.column(0).to_numpy(zero_copy_only=False)
            f = b.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            x = b.column(2).to_numpy(zero_copy_only=False)
            y = b.column(3).to_numpy(zero_copy_only=False)
            uniq, first_idx, inv = np.unique(
                d, return_index=True, return_inverse=True
            )
            local = np.empty(len(uniq), dtype=np.int64)
            grow = 0
            # unique docs per batch only; Python values as keys, so a
            # string id works as well as a long one
            for j, dv in enumerate(uniq.tolist()):
                got = doc_index.get(dv)
                if got is None:
                    got = len(doc_index)
                    doc_index[dv] = got
                    grow += 1
                local[j] = got
            if grow:
                margins = np.concatenate([margins, np.zeros(grow)])
                ys = np.concatenate([ys, np.zeros(grow)])
            ys[local] = y[first_idx]
            rows = local[inv]
            np.add.at(margins, rows, x * wv[f])
            bufs.append((rows, f, x))
        if not doc_index:
            return
        m = np.clip(margins, -MARGIN_CLIP, MARGIN_CLIP)
        resid = 1.0 / (1.0 + np.exp(-m)) - ys
        g = np.zeros(dim + 1)
        for rows, f, x in bufs:
            np.add.at(g, f, x * resid[rows])
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.arange(dim + 1, dtype=np.int32)),
                pa.array(g, type=pa.float64()),
            ],
            names=["feat", "g"],
        )

    return fl.select(id_col, "feat", "x", "_y").mapInArrow(gen, out_schema)


def train_quality_classifier(
    features: DataFrame,
    labels: DataFrame,
    dim: int,
    epochs: int = 12,
    lr: float = 0.5,
    l2: float = 1e-6,
    id_col: str = "doc_id",
    label_col: str = "label",
    grad_tol: float = 1e-3,
) -> DataFrame:
    """Full-batch logistic regression with Adagrad over hashed
    features.

    ``features`` is ``hashed_features`` output; ``labels`` is
    (id, 0/1). Returns the learned (feat, weight) table — (dim+1)
    rows, the bias at index ``dim`` — composable with
    ``classifier_score``.

    Loop shape (the 100 TB contract): the labeled feature table is
    repartitioned BY DOC and persisted once (r9 — ``persist``, not
    ``localCheckpoint``: a checkpoint's LogicalRDD drops the
    outputPartitioning metadata, a cached plan keeps it). That
    co-location is what the r14 fused epoch RELIES on: every
    document's rows live in one task, so `_logreg_epoch_grad`
    finishes margins, residuals and the gradient in one Arrow pass —

        fl(cached, hash(doc)) → mapInArrow kernel            [no exch]
          → (dim+1) gradient partials per task → collect
            (scale.sum_partials: direct under
             DRIVER_LOCAL_MAX["logreg"], feat-keyed aggregate above it)

    The pre-r14 epoch spent 4-5 stages on the same result (weights
    broadcast join → doc-keyed margin aggregate → residual join →
    feat-keyed aggregate → collect), ~1.4 s of protocol per epoch at
    sf0.1 for a vocabulary-bounded vector.

    Weights and the Adagrad accumulator update on the driver (plain
    floats): the model is vocabulary-bounded like BPE's merge table,
    so driver state never scales with the corpus. Gradient sums are
    unordered float adds, so retrained weights match the in-memory
    twin to ~1e-9 relative, not bit-exactly — the invariant uses a
    tolerance.

    EARLY STOPPING (r9): training stops after the epoch whose
    regularized gradient RMS (sqrt(mean(g_i²)) over dim+1 entries)
    falls below ``grad_tol`` — the PageRank convergence pattern, at
    zero extra cost because the full gradient already reaches the
    driver each epoch. The rule is mirrored VERBATIM in
    :func:`numpy_twin_train` so the parity invariant replays the
    same trajectory; both twins compare the same quantity, and the
    measured fixture trajectory (rms ~1.2e-2 at epoch 12, ~1.3e-3 at
    epoch 29) sits orders of magnitude from the default tol, so the
    float-ordering divergence (~1e-12) cannot flip the stop epoch.
    Well-separated corpora (residuals → 0 exponentially) stop in a
    handful of epochs; the default fixture runs all 12.
    """
    spark = features.sparkSession
    fl = (
        features.join(
            labels.select(
                F.col(id_col), F.col(label_col).cast("double").alias("_y")
            ),
            id_col,
        )
        .repartition(F.col(id_col))
        .persist()
    )
    n = fl.select(id_col).distinct().count()
    if n == 0:
        fl.unpersist()
        raise ValueError("train_quality_classifier: no labeled documents")

    w = [0.0] * (dim + 1)
    acc = [0.0] * (dim + 1)
    for _ in range(max(1, epochs)):
        # fused epoch (r14): margins, residuals and the per-feature
        # gradient in ONE Arrow pass over the cached doc-partitioned
        # table (_logreg_epoch_grad; the weight vector rides the kernel
        # closure), its (dim+1) partial rows per task summed by
        # scale.sum_partials
        grad = sum_partials(
            _logreg_epoch_grad(fl, dim, w, id_col), "feat", ["g"], dim + 1, "logreg"
        )["g"]
        sq = 0.0
        for i in range(dim + 1):
            g = float(grad[i]) / n + l2 * w[i]
            sq += g * g
            acc[i] += g * g
            w[i] -= lr * g / math.sqrt(acc[i] + 1e-8)
        if math.sqrt(sq / (dim + 1)) < grad_tol:
            break  # converged — mirrored in numpy_twin_train
    fl.unpersist()
    return local_df(
        spark, [(i, wi) for i, wi in enumerate(w)], "feat int, weight double"
    )


def classifier_score(
    features: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, score): sigmoid(w·x) per document. Weights broadcast (dim+1
    rows); one shuffle on the doc key — scoring a 100 TB corpus is one
    broadcast join + one aggregate."""
    clamped = F.greatest(
        F.least(F.col("_m"), F.lit(MARGIN_CLIP)), F.lit(-MARGIN_CLIP)
    )
    return (
        features.join(F.broadcast(weights), "feat")
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("weight")).alias("_m"))
        .select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-clamped))).alias("score"),
        )
    )


def numpy_twin_train(
    texts: list[tuple[int, str]],
    labels: dict[int, int],
    dim: int,
    epochs: int = 12,
    lr: float = 0.5,
    l2: float = 1e-6,
    bigrams: bool = True,
    grad_tol: float = 1e-3,
) -> list[float]:
    """In-memory reference trainer for the replay invariant: identical
    feature extraction (lowercase/collapse-whitespace → whitespace
    tokens → bigrams → zlib.crc32 mod dim → binary presence + bias)
    and identical Adagrad full-batch GD, in numpy. Independent of
    every Spark API — the parity check is a true twin, not a re-run.
    """
    import numpy as np

    rows: list[tuple[int, dict[int, float]]] = []
    for doc_id, text in texts:
        if doc_id not in labels:
            continue
        rows.append((doc_id, python_features(text, dim, bigrams)))

    n = len(rows)
    X = np.zeros((n, dim + 1))
    y = np.zeros(n)
    for i, (doc_id, feats) in enumerate(rows):
        y[i] = labels[doc_id]
        for f, v in feats.items():
            X[i, f] = v
    w = np.zeros(dim + 1)
    acc = np.zeros(dim + 1)
    for _ in range(max(1, epochs)):
        m = np.clip(X @ w, -MARGIN_CLIP, MARGIN_CLIP)
        r = 1.0 / (1.0 + np.exp(-m)) - y
        g = X.T @ r / n + l2 * w
        acc += g * g
        w = w - lr * g / np.sqrt(acc + 1e-8)
        # early stop mirrored from train_quality_classifier: same
        # post-update gradient-RMS rule, same default tol
        if float(np.sqrt(np.mean(g * g))) < grad_tol:
            break
    return [float(v) for v in w]


def python_features(text: str, dim: int, bigrams: bool = True) -> dict[int, float]:
    """Stdlib twin of ``hashed_features`` for one document: the same
    normalize → tokenize → bigram → crc32 → presence mapping, plus the
    bias at index ``dim``."""
    import re
    import zlib

    toks = re.sub(r"\s+", " ", (text or "").lower()).strip().split(" ")
    toks = [t for t in toks if t]
    grams = set(toks)
    if bigrams:
        grams |= {f"{a} {b}" for a, b in zip(toks, toks[1:])}
    fv = {zlib.crc32(g.encode("utf-8")) % dim: 1.0 for g in grams}
    fv[dim] = 1.0
    return fv
