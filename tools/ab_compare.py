"""Interleaved A/B benchmark of one or more queries across two source
trees (optimization guide §1 under a noisy host: sequential sweeps on
this box drift by 1.3-2.2x on neighbor load alone, so every comparison
must alternate A and B within the same window to cancel drift).

Usage:
    python tools/ab_compare.py --a DIR_A --b DIR_B [--reps N] [--runs K] q119 q141 ...
    python tools/ab_compare.py --a DIR_A --b DIR_B --workload W --seeds 701-710

Query mode: for each query, runs N alternating subprocess measurements
(A,B,A,B,...). Each subprocess imports the engine from ONE tree, warms
the session, runs the query via the noop sink K times and prints the
minimum (the noise-robust statistic on a steal-prone host: inflation
is one-sided). Reports per-query A/B medians-of-mins and the ratio.

Benchmark mode (``--workload``): one pair per seed of
``perfbench/run.py --workload W --seed S --seconds T --trace 0``, run
in each tree's root (T is ``run_seconds`` of B's BENCHMARK.json), the
tree that goes first alternating from pair to pair. A run whose result
is not ``correct``, or that prints no result, stops the comparison.
Prints, per end-to-end metric of BENCHMARK.json, a markdown table of
each side's median and quartiles (``statistics.quantiles``, exclusive
method), the B/A ratio of the medians, the pairs B wins and whether
the median gain exceeds A's interquartile range.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
os.chdir(sys.argv[1])
from climate_data_pipelines_spark import get_spark
from climate_data_pipelines_spark.queries import REGISTRY

spark = get_spark(app_name="ab-compare")
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def run(df):
    df.write.format("noop").mode("overwrite").save()

run(REGISTRY["q17_agg_suite"].fn(spark, sf_dir))  # warm session/footers
name = sys.argv[2]
runs = int(sys.argv[3])
walls = []
for _ in range(runs):
    t0 = time.perf_counter()
    run(REGISTRY[name].fn(spark, sf_dir))
    walls.append(time.perf_counter() - t0)
    try:
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
    except Exception:
        pass
print("ABRESULT " + json.dumps({"min": min(walls), "walls": walls}))
"""


def measure(tree: str, name: str, runs: int) -> float | None:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    out = subprocess.run(
        [sys.executable, "-c", CHILD, tree, name, str(runs)],
        capture_output=True, text=True, env=env, timeout=600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])["min"]
    sys.stderr.write(out.stdout[-2000:] + out.stderr[-2000:])
    return None


def run_bench(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` run in ``tree``: its end-to-end metric
    values. Raises SystemExit unless the run is correct."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True, timeout=1800,
    )
    lines = out.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {}
    if not result.get("correct"):
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-2000:])
        raise SystemExit(f"{tree} seed {seed}: run not correct: {lines[-1:]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def parse_seeds(text: str) -> list[int]:
    """``701-710`` or ``701,705,709``."""
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def bench_table(metrics: list[dict], pairs: list[tuple[dict, dict]]) -> str:
    """The markdown table of the pairs ``(a_values, b_values)``."""
    def quart(xs):
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        return med, q1, q3

    rows = ["| metric | A median [q1, q3] | B median [q1, q3] | B/A | B wins | gain > A IQR |",
            "|---|---|---|---|---|---|"]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [(a[name], b[name]) for a, b in pairs if name in a and name in b]
        if not got:
            continue
        (ma, qa1, qa3), (mb, qb1, qb3) = quart([a for a, _ in got]), quart([b for _, b in got])
        wins = sum((b < a) if lower else (b > a) for a, b in got)
        ties = sum(a == b for a, b in got)
        gain = (ma - mb) if lower else (mb - ma)
        rows.append(
            f"| {name} | {ma:.4g} [{qa1:.4g}, {qa3:.4g}] | {mb:.4g} [{qb1:.4g}, {qb3:.4g}] "
            f"| {mb / ma if ma else float('nan'):.3f} "
            f"| {'equal' if ties == len(got) else f'{wins}/{len(got)}'} "
            f"| {'yes' if gain > qa3 - qa1 else 'no'} |"
        )
    return "\n".join(rows)


def compare_bench(tree_a: str, tree_b: str, workload: str, seeds: list[int]) -> None:
    with open(os.path.join(tree_b, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    pairs = []
    for i, seed in enumerate(seeds):
        order = [("A", tree_a), ("B", tree_b)]
        if i % 2:
            order.reverse()
        got = {}
        for label, tree in order:
            got[label] = run_bench(tree, workload, seed, spec["run_seconds"])
            print(f"  {workload} seed {seed} {label}: {json.dumps(got[label])}", flush=True)
        pairs.append((got["A"], got["B"]))
    print(f"{workload}, {len(pairs)} pairs, seeds {seeds[0]}-{seeds[-1]}, "
          f"cpus {len(os.sched_getaffinity(0))}; A={tree_a} B={tree_b}")
    print(bench_table(spec["end_to_end"], pairs))


def main() -> None:
    args = sys.argv[1:]

    def opt(flag, default=None):
        if flag in args:
            i = args.index(flag)
            v = args[i + 1]
            del args[i:i + 2]
            return v
        return default

    tree_a = opt("--a", "/root/repo_ab")
    tree_b = opt("--b", "/root/repo")
    workload = opt("--workload")
    if workload is not None:
        compare_bench(tree_a, tree_b, workload, parse_seeds(opt("--seeds", "1-10")))
        return
    reps = int(opt("--reps", "4"))
    runs = int(opt("--runs", "3"))
    queries = args
    results = {}
    for name in queries:
        full = name
        a_mins, b_mins = [], []
        for r in range(reps):
            for label, tree, acc in (("A", tree_a, a_mins), ("B", tree_b, b_mins)):
                m = measure(tree, full, runs)
                if m is not None:
                    acc.append(m)
                print(f"  {full} rep{r} {label}: {m if m is None else round(m,3)}",
                      flush=True)
        med_a = statistics.median(a_mins) if a_mins else None
        med_b = statistics.median(b_mins) if b_mins else None
        results[full] = {"A": med_a, "B": med_b,
                         "ratio_B_over_A": round(med_b / med_a, 3)
                         if med_a and med_b else None,
                         "a_mins": [round(x, 3) for x in a_mins],
                         "b_mins": [round(x, 3) for x in b_mins]}
        print(json.dumps({full: results[full]}), flush=True)
    print("ABSUMMARY " + json.dumps(results))


if __name__ == "__main__":
    main()
