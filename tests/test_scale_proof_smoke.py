"""The scale-proof harness (tools/scale_proof.py) at the sf0.001 shape.

Runs every case whose builder is not a plain registry query — the
CUSTOM probes and the record cases — plus two registry queries through
the same measuring loop, on fixtures made by tools/gen_scale_fixture.py
into tmp_path. The merge rule that lets a long sweep resume in chunks
is tested without Spark.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import gen_scale_fixture as gen  # noqa: E402
import scale_proof as sp  # noqa: E402

REGISTRY_CASES = ["q171_shard_assign", "q189_context_packing"]


def _write(d, docs=None, emb=None):
    os.makedirs(d, exist_ok=True)
    if docs is not None:
        pq.write_table(docs, os.path.join(d, "documents.parquet"))
    if emb is not None:
        pq.write_table(emb, os.path.join(d, "embeddings.parquet"))
    return str(d)


def test_harness_smoke(spark, tmp_path, monkeypatch):
    # two registry queries and the increments (base = last dir, batch =
    # each earlier dir) run on two dirs so ratios and the pair path are
    # exercised; every other case runs once, on one dir
    monkeypatch.setattr(sp, "REPEATS", 1)
    repo_json = open(sp.OUT_PATH, "rb").read()
    x1 = _write(tmp_path / "x1", gen.gen_documents(500), gen.gen_embeddings(500))
    x2 = _write(tmp_path / "x2", gen.gen_documents(1000), gen.gen_embeddings(1000))
    mog = _write(tmp_path / "mog_x1", emb=gen.gen_embeddings_mog(500))
    pair_out, out = str(tmp_path / "pair.json"), str(tmp_path / "one.json")

    kept = [c for c in sp.CASES if c.name not in sp.QUERIES]
    pairs = ["curate_increment", "pack_increment"]
    singles = [c.name for c in kept if c.fixture == "x" and c.name not in pairs]
    res = sp.run(spark, [x1, x2], out_path=pair_out, only=REGISTRY_CASES + pairs)
    res |= sp.run(spark, [x1], out_path=out, only=singles)
    res |= sp.run(spark, [mog], out_path=out, only=["ann_clustered"])
    assert set(res) == {c.name for c in kept} | set(REGISTRY_CASES)
    for case in kept + [c for c in sp.CASES if c.name in REGISTRY_CASES]:
        assert sp.broken(case, res[case.name]) == [], case.name

    paired = json.load(open(pair_out))
    assert paired["dirs"] == [x1, x2] and paired["repeats"] == 1
    for name in REGISTRY_CASES:
        r = paired["queries"][name]
        assert r[x1]["sec"] > 0 and r[x2]["n_docs"] == 1000
        assert r["rows_ratio_x2"] > 0 and r["time_ratio_x2"] > 0
    # one batch (x1) on the base (x2): the non-x10 batch key
    inc = paired["curate_increment_x1"]
    assert inc["base_dir"] == x2 and inc["parity_docs_equal"] is True
    assert paired["pack_increment_x1"]["parity_ok"] is True

    written = json.load(open(out))
    assert set(written["queries"]) == set(sp.CUSTOM)
    # recall floors of the planted probes
    assert written["queries"]["q179_planted_recovery"][x1]["rows"] == 25
    assert written["queries"]["q166_fixed_bench_semantic_decon"][x1]["rows"] == 100
    assert 0.0 <= written["q55_ann_lsh"][x1]["recall@10"] <= 1.0
    assert written["derived_lsh_planes"][x1] > 0
    km = written["q187_kmeans_k"]
    assert km["dir"] == x1 and set(km["points"]) == {"k16", "k256"}
    assert km["points"]["k256"]["n_assigned"] == 500
    # at 500 vectors the derived 9 LSH planes recall 0.9; IVF and PQ 1.0
    for method in ("lsh", "ivf", "pq"):
        assert written["ann_clustered"][method]["mog_x1"]["recall@10"] >= 0.8
    assert written["ann_clustered"]["lsh"]["derived_planes_mog_x1"] > 0

    assert open(sp.OUT_PATH, "rb").read() == repo_json


def _frame(sec):
    return {"d": {"rows": 1, "sec": sec, "n_docs": 1, "rows_per_doc": 1.0}}


@pytest.fixture()
def prior(tmp_path):
    path = str(tmp_path / "SCALEPROOF.json")
    with open(path, "w") as fh:
        json.dump({
            "dirs": ["a", "b"], "repeats": 3,
            "queries": {"q1": _frame(1.0)},
            "zipf": {"dirs": ["z"], "repeats": 3, "queries": {"q1": _frame(2.0)}},
            "ann_clustered": {"lsh": {"mog_x1": {"sec": 1.0}}},
        }, fh)
    return path


def test_merge_chunk_with_same_dirs_keeps_earlier_results(prior):
    out = sp.merge(
        prior, ["a", "b"], "queries", {"q2": _frame(3.0)},
        {"ann_clustered": {"lsh": {"mog_x10": {"sec": 2.0}}}},
    )
    assert set(out["queries"]) == {"q1", "q2"}
    assert out["repeats"] == sp.REPEATS
    assert set(out["ann_clustered"]["lsh"]) == {"mog_x1", "mog_x10"}
    assert json.load(open(prior)) == out


def test_merge_with_other_dirs_discards_stale_results(prior, capsys):
    out = sp.merge(prior, ["c"], "queries", {"q2": _frame(3.0)}, {})
    assert "WARNING" in capsys.readouterr().out
    assert out["dirs"] == ["c"] and set(out["queries"]) == {"q2"}
    assert out["zipf"]["queries"]["q1"]["d"]["sec"] == 2.0


def test_merge_named_section_leaves_other_sections(prior):
    before = json.load(open(prior))
    out = sp.merge(prior, ["z"], "zipf", {"q2": _frame(4.0)}, {})
    assert set(out["zipf"]["queries"]) == {"q1", "q2"}
    assert {k: v for k, v in out.items() if k != "zipf"} == {
        k: v for k, v in before.items() if k != "zipf"
    }


def test_select_runs_x_cases_by_default_and_never_mixes_fixtures():
    assert {c.fixture for c in sp.select()} == {"x"}
    assert [c.name for c in sp.select(["ann_clustered"])] == ["ann_clustered"]
    assert all(c.contract is sp.FRAME for c in sp.select(section="zipf"))
    with pytest.raises(ValueError, match="different fixtures"):
        sp.select(["ann"])
