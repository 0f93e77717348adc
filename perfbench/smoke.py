"""Smoke test of the benchmark itself, at a tiny size.

    python3 perfbench/smoke.py

Curates a 600-document corpus and one 200-document increment through
the benchmark's own harness, where every check must pass, then
duplicates one row of a shard and requires the shard check to fail.
Exits 0 when both hold, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def main() -> int:
    import pyarrow.parquet as pq

    from run import STATE, Harness, log, start_session, stop_spark
    from workloads import Curation, check_shards

    cpus = len(os.sched_getaffinity(0))
    root = os.path.join(STATE, f"smoke-{os.getpid()}-{time.time_ns()}")
    problems = []
    spark = None
    try:
        spark = start_session(root, cpus, "perfbench-smoke")
        h = Harness(spark, None, cpus)
        wl = Curation(h, root, seed=3)
        wl.corpus_docs, wl.batch_docs = 600, 200
        wl.generate()
        wl.prepare()
        wl.cold()
        wl.cycle(0)
        if (h.attempted, h.failed) != (3, 0):
            problems.append(f"clean run: {h.failed} of {h.attempted} operations failed")

        shard = next(
            os.path.join(d, f)
            for d, _, names in sorted(os.walk(os.path.join(wl.base, "shards")))
            for f in sorted(names) if f.endswith(".parquet")
        )
        pq.write_table(
            pq.read_table(shard).slice(0, 1),
            os.path.join(os.path.dirname(shard), "part-duplicate.parquet"),
        )
        h.op("small", lambda: None, lambda _: check_shards(wl.base))
        if h.failed != 1:
            problems.append("a duplicated shard row passed the shard check")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(root, ignore_errors=True)
    for p in problems:
        log(f"SMOKE FAIL: {p}")
    if not problems:
        log("smoke ok: clean run passes, a duplicated shard row fails")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
