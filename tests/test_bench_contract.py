"""The driver parses ONE final JSON line from bench.py whose tail
buffer is ~2000 chars. r12/r13 lost the per-query `queries` map to the
>=1900-char fallback (63 full names alone are ~2000 chars), which
blinded the driver's per-query comparison, the scaling block and the
bench's own auto-isolate deltas (r13 verdict item 1). The fix keys the
map by the unique qNNN registry prefix at 2-decimal precision; these
tests pin the two properties the fix depends on."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def test_headline_prefixes_unique():
    """qNNN prefixes must be injective over the headline list — a
    collision would merge two queries' timings into one key (the
    emitter falls back to full names in that case, which would
    re-trigger the truncation this fix exists to prevent)."""
    prefixes = [n.split("_", 1)[0] for n in bench.HEADLINE]
    assert len(set(prefixes)) == len(bench.HEADLINE)


def test_headline_line_fits_driver_tail():
    """Worst-case simulated record (every query two digits before the
    decimal point, all sidecar fields populated) stays under the
    1900-char guard with room for ~30 more headline queries."""
    timings = {n: 99.999 for n in bench.HEADLINE}
    compact = {n.split("_", 1)[0]: round(s, 2) for n, s in timings.items()}
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "queries": compact,
        "sf": 0.1,
        "repeats": bench.REPEATS,
        "extra_repeats_under_sec": bench.EXTRA_REPEATS_UNDER,
        "detail": "BENCH_DETAIL.json",
        "n_auto_isolated": 63,
        "auto_isolated_sec": 999.999,
        "auto_isolated_suite_sec": 9999.999,
        "canary_ratio": 99.99,
        "value_canary_normalized": 99999.999,
        "q55_ann_lsh_topk_recall@10": 1.0,
        "q73_ann_ivf_topk_recall@10": 1.0,
        "q140_pq_ann_topk_recall@10": 1.0,
        "q55_ann_lsh_candidates": 99999999,
    }
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) < 1900 - 350, len(line)


def _history(ratio):
    """A history whose r15 row was measured at canary ratio ``ratio``."""
    hist = {}
    bench.merge_round(hist, "r15", {"q02": 1.0}, {"q02": 0.2}, {"q17": 0.5}, ratio, 4)
    return hist


def test_merge_round_first_run_writes_row():
    hist = _history(1.2)
    assert hist["r15"] == {"q02": 1.0}
    assert hist["_canary"]["r15"] == {"q02": 0.2}
    assert hist["_isolated"]["r15"] == {"q02": 0.2, "q17": 0.5}
    assert hist["_provenance"]["r15"] == {"cpus": 4, "canary_ratio": 1.2}


def test_merge_round_better_run_replaces_row():
    hist = _history(1.2)
    bench.merge_round(hist, "r15", {"q02": 0.8}, {"q02": 0.1}, {}, 1.0, 8)
    assert hist["r15"] == {"q02": 0.8}
    assert hist["_isolated"]["r15"] == {"q02": 0.1}
    assert hist["_provenance"]["r15"] == {"cpus": 8, "canary_ratio": 1.0}


def test_merge_round_worse_run_keeps_row():
    hist = _history(1.2)
    for worse in (1.5, None):
        bench.merge_round(hist, "r15", {"q02": 3.0}, {"q02": 0.6}, {}, worse, 4)
        assert hist["r15"] == {"q02": 1.0}
        assert hist["_isolated"]["r15"] == {"q02": 0.2, "q17": 0.5}
        assert hist["_provenance"]["r15"] == {"cpus": 4, "canary_ratio": 1.2}
    # the canary track keeps the best window of every run
    assert hist["_canary"]["r15"] == {"q02": 0.2}
