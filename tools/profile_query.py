"""Per-query build/exec wall split and per-stage profile of registered
queries.

Usage: python tools/profile_query.py qNNN [qMMM ...] [--runs N]

Runs each query N times (default 3) via the noop sink and prints one
JSON line per query: ``build_s`` is the median driver wall of the
query-function call (py4j plan construction plus any eager stages the
operator runs), ``exec_s`` the median wall of the noop write of the
returned frame. Then it dumps the Spark status-API stage table of the
last run (task time, input, shuffle bytes, name) so the slow *stage*
is identifiable — the local-mode stand-in for the UI's Stages page.
The last run is reported because it has its codegen cached.
Reads SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
        if str(runs) in args:
            args.remove(str(runs))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from climate_data_pipelines_spark import get_spark
    from climate_data_pipelines_spark.queries import REGISTRY

    spark = get_spark(app_name="profile-query")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warmup primes parquet footers + the session
    run(REGISTRY["q17_agg_suite"].fn(spark, sf_dir))

    def stages_snapshot():
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        ) as r:
            return json.load(r)

    for name in args:
        full = name if name in REGISTRY else next(
            (n for n in REGISTRY if n.startswith(name)), None
        )
        if full is None:
            print(f"SKIP {name}")
            continue
        builds, execs = [], []
        per_run_stageids: list[set] = []
        for i in range(runs):
            before = {s["stageId"] for s in stages_snapshot()}
            t0 = time.perf_counter()
            df = REGISTRY[full].fn(spark, sf_dir)
            t1 = time.perf_counter()
            run(df)
            builds.append(t1 - t0)
            execs.append(time.perf_counter() - t1)
            after = stages_snapshot()
            per_run_stageids.append(
                {s["stageId"] for s in after} - before
            )
            # drop stale checkpoints like bench.py does
            try:
                for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                    rdd.unpersist(False)
            except Exception:
                pass
        all_stages = {s["stageId"]: s for s in stages_snapshot()}
        print(json.dumps({
            "query": full,
            "build_s": round(statistics.median(builds), 3),
            "exec_s": round(statistics.median(execs), 3),
            "runs": runs,
        }), flush=True)
        # report the LAST run's stages (steady state, codegen cached)
        last = sorted(per_run_stageids[-1])
        total_task_ms = 0
        rows = []
        for sid in last:
            s = all_stages.get(sid)
            if not s:
                continue
            task_ms = s.get("executorRunTime", 0)
            total_task_ms += task_ms
            rows.append((task_ms, s))
        rows.sort(key=lambda r: -r[0])
        print(f"  stages in last run: {len(rows)}, "
              f"sum task time: {total_task_ms/1000:.2f}s "
              f"(exec wall {execs[-1]:.3f}s x "
              f"{spark.sparkContext.defaultParallelism} cores)")
        for task_ms, s in rows[:14]:
            nm = s.get("name", "")[:70]
            print(f"  [{s['stageId']:>4}] task={task_ms/1000:7.2f}s "
                  f"tasks={s.get('numCompleteTasks'):>3} "
                  f"in={s.get('inputBytes',0)>>10:>6}K "
                  f"sh_r={s.get('shuffleReadBytes',0)>>10:>6}K "
                  f"sh_w={s.get('shuffleWriteBytes',0)>>10:>6}K  {nm}")


if __name__ == "__main__":
    main()
