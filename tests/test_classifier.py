"""Trainable quality classifier (operators/classifier.py, q173):
feature-extraction parity with the stdlib twin, learning on a
separable fixture, numpy-trajectory parity, and scale discipline
(per-epoch driver traffic bounded by dim, broadcast weight join)."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from climate_data_pipelines_spark.operators import classifier, scale


@pytest.fixture(scope="module")
def toy(spark):
    rows = [
        (i, ("good clean prose with spark inside" if i % 2 == 0 else
             "noisy low grade filler junk text"))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hashed_features_match_python_twin(spark, toy):
    dim = 64
    got = {
        (r["doc_id"], r["feat"]): r["x"]
        for r in classifier.hashed_features(toy, dim=dim).collect()
    }
    for doc_id, text in toy.collect():
        expected = classifier.python_features(text, dim)
        mine = {f: x for (d, f), x in got.items() if d == doc_id}
        assert mine == expected, f"doc {doc_id}"


def test_bias_row_for_empty_document(spark):
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, None)],
                               "doc_id long, text string")
    feats = classifier.hashed_features(df, dim=32).collect()
    # empty/whitespace/null docs produce ONLY the bias feature
    assert sorted((r["doc_id"], r["feat"], r["x"]) for r in feats) == [
        (1, 32, 1.0), (2, 32, 1.0), (3, 32, 1.0),
    ]


def test_crc32_matches_zlib(spark):
    words = ["spark", "query join", "ümlaut ß", ""]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = [
        r["c"]
        for r in df.select(
            F.crc32(F.encode(F.col("s"), "utf-8")).alias("c")
        ).collect()
    ]
    assert got == [zlib.crc32(w.encode("utf-8")) for w in words]


def test_train_separable_and_score(spark, toy):
    dim = 64
    labels = toy.select("doc_id", (F.col("doc_id") % 2 == 0).cast("int").alias("label"))
    feats = classifier.hashed_features(toy, dim=dim)
    w = classifier.train_quality_classifier(feats, labels, dim=dim, epochs=12)
    assert w.count() == dim + 1
    scored = classifier.classifier_score(feats, w).join(labels, "doc_id")
    rows = scored.collect()
    acc = sum(
        1 for r in rows if (r["score"] > 0.5) == bool(r["label"])
    ) / len(rows)
    assert acc == 1.0  # two disjoint templates: trivially separable
    assert all(0.0 < r["score"] < 1.0 for r in rows)


def test_numpy_twin_parity(spark, toy):
    dim = 64
    texts = [(r["doc_id"], r["text"]) for r in toy.collect()]
    labels = {d: 1 if d % 2 == 0 else 0 for d, _ in texts}
    w_np = classifier.numpy_twin_train(texts, labels, dim=dim, epochs=12)

    lab_df = spark.createDataFrame(
        [(d, y) for d, y in labels.items()], "doc_id long, label int"
    )
    w_rows = classifier.train_quality_classifier(
        classifier.hashed_features(toy, dim=dim), lab_df, dim=dim, epochs=12
    ).collect()
    w_spark = [0.0] * (dim + 1)
    for r in w_rows:
        w_spark[r["feat"]] = r["weight"]
    scale = max(abs(v) for v in w_np)
    assert scale > 0
    max_rel = max(abs(a - b) for a, b in zip(w_spark, w_np)) / scale
    assert max_rel < 1e-9, max_rel


def _weights(rows, dim):
    w = [0.0] * (dim + 1)
    for r in rows:
        w[r["feat"]] = r["weight"]
    return w


def _train(toy, dim=64):
    labels = toy.select(
        "doc_id", (F.col("doc_id") % 2 == 0).cast("int").alias("label")
    )
    feats = classifier.hashed_features(toy, dim=dim)
    return _weights(
        classifier.train_quality_classifier(feats, labels, dim=dim).collect(),
        dim,
    )


def test_aggregate_gradient_matches_direct(spark, toy, monkeypatch):
    # both partial-sum branches of scale.sum_partials: the direct
    # collect (default budget) and the feat-keyed aggregate (a zero
    # "logreg" budget) train the same weights
    direct = _train(toy)
    monkeypatch.setitem(scale.DRIVER_LOCAL_MAX, "logreg", 0)
    agg = _train(toy)
    assert max(abs(a - b) for a, b in zip(agg, direct)) < 1e-9


def test_string_ids_train_same_weights(spark, toy):
    # the epoch kernel keys documents on the raw id value, so a string
    # id column trains (int(id) used to crash the kernel)
    dim = 64
    doc = F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id")
    labels = toy.select(
        doc, (F.col("doc_id") % 2 == 0).cast("int").alias("label")
    )
    feats = classifier.hashed_features(toy.select(doc, "text"), dim=dim)
    got = _weights(
        classifier.train_quality_classifier(feats, labels, dim=dim).collect(),
        dim,
    )
    want = _train(toy, dim)
    assert max(abs(a - b) for a, b in zip(got, want)) < 1e-9


def test_train_raises_without_labels(spark, toy):
    feats = classifier.hashed_features(toy, dim=16)
    empty = spark.createDataFrame([], "doc_id long, label int")
    with pytest.raises(ValueError):
        classifier.train_quality_classifier(feats, empty, dim=16, epochs=1)


def test_registry_query_on_fixture(spark, sf_dir):
    from climate_data_pipelines_spark.queries import REGISTRY

    out = REGISTRY["q173_quality_classifier"].fn(spark, sf_dir)
    rows = out.collect()
    assert out.columns == ["doc_id", "score", "predicted", "label"]
    assert len(rows) > 0
    # holdout = every fifth doc only
    assert all(r["doc_id"] % 5 == 0 for r in rows)
    acc = sum(1 for r in rows if r["predicted"] == r["label"]) / len(rows)
    pos = sum(r["label"] for r in rows) / len(rows)
    assert acc > max(pos, 1 - pos)  # beats majority baseline


def test_weight_broadcast_in_score_plan(spark, toy):
    """The scoring join must broadcast the (dim+1)-row weight side —
    a shuffle join of weights against a 100 TB feature table would be
    wrong. Asserted on the physical plan."""
    dim = 32
    feats = classifier.hashed_features(toy, dim=dim)
    labels = toy.select("doc_id", (F.col("doc_id") % 2 == 0).cast("int").alias("label"))
    w = classifier.train_quality_classifier(feats, labels, dim=dim, epochs=1)
    plan = classifier.classifier_score(feats, w)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_early_stop_fires_on_separable_toy_and_twins_agree(spark, toy):
    """Gradient-RMS early stopping (r9): on the cleanly separable toy
    the margins race outward, residuals decay exponentially and the
    rms gradient crosses a loose tol well before the epoch budget —
    BOTH twins must stop at the same epoch and still match weights
    (the stop rule is part of the trajectory the parity invariant
    replays). A tol of 0 must reproduce the old fixed-epoch run."""
    dim = 64
    feats = classifier.hashed_features(toy, dim=dim)
    labels = toy.select(
        "doc_id", (F.col("doc_id") % 2 == 0).cast("int").alias("label")
    )
    texts = [(r["doc_id"], r["text"]) for r in toy.collect()]
    lab = {d: 1 if d % 2 == 0 else 0 for d, _ in texts}

    # generous tol so the stop fires mid-budget on the toy
    w_stop = classifier.train_quality_classifier(
        feats, labels, dim=dim, epochs=50, grad_tol=5e-3
    ).collect()
    w_np_stop = classifier.numpy_twin_train(
        texts, lab, dim=dim, epochs=50, grad_tol=5e-3
    )
    w_np_full = classifier.numpy_twin_train(
        texts, lab, dim=dim, epochs=50, grad_tol=0.0
    )
    # the twin stopped early: its weights differ from the full run
    assert max(
        abs(a - b) for a, b in zip(w_np_stop, w_np_full)
    ) > 1e-9, "tol=5e-3 did not fire within 50 epochs on the toy"
    got = [0.0] * (dim + 1)
    for r in w_stop:
        got[r["feat"]] = r["weight"]
    scale = max(max(abs(v) for v in w_np_stop), 1e-12)
    assert max(abs(a - b) for a, b in zip(got, w_np_stop)) / scale < 1e-6
