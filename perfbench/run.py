"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload climate --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run

1. starts one ``local[cpus]`` engine session (cpus = the process's
   CPU affinity, i.e. ``nproc``) with its own Spark local dirs, temp
   dir and output root under ``.perfbench/``, all deleted at the end;
2. sets up: generates the workload's inputs from ``--seed`` (several
   times, the median counts), prepares the expected answers, runs the
   cold operation (the first of the run, which a one-shot user pays)
   and the workload's warm-up cycles;
3. measures cycles of warm operations until ``--seconds`` have passed
   (at least one). Every operation's output, in set-up too, is checked
   and a failed or wrong operation counts in ``failed``;
4. prints, as the last stdout line, ``{"correct", "attempted",
   "failed", "metrics"}``: the end-to-end metrics with ``--trace 0``,
   the per-layer metrics of a traced run with ``--trace 1`` (see
   ``tracing.py``). The line before it is a provenance record (cpus,
   sizes, sample counts); a traced run also writes its per-layer table
   and spans to ``.perfbench/trace-<workload>-<seed>.json``.

Time is CPU time (user + system) of this process, the driver JVM and
the JVM's Python workers, less the JVM's JIT compiler threads:
``setup_s`` is that of set-up (session start included),
``*_op_cpu_s`` that of one operation. On a shared host the hypervisor
takes a share of the cores that changes from minute to minute; it
moved wall times by up to 2x between runs of the same seed, CPU times
much less. Wall times are in the provenance record and in the traced
run's per-layer metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")
SETUP_REPEATS = 3
DRIVER_MEM = "1g"
CLK_TCK = os.sysconf("SC_CLK_TCK")

END_TO_END = {
    "setup_s": "s",
    "big_op_cpu_s": "s",
    "small_op_cpu_s": "s",
    "out_bytes_ratio": "ratio",
    "peak_rss_mb": "MB",
}
# per-layer metric -> (key in the per-cycle accounting, unit)
PER_LAYER = {
    "bench.big_op_s": (None, "s"),
    "bench.small_op_s": (None, "s"),
    "session.start_s": (None, "s"),
    "catalog.calls": ("catalog.calls", "count"),
    "catalog.s": ("catalog.self_s", "s"),
    "catalog.jobs": ("catalog.jobs", "count"),
    "queries.build_s": ("queries.self_s", "s"),
    "queries.build_jobs": ("queries.jobs", "count"),
    "runner.self_s": ("runner.self_s", "s"),
    "llm_curation.self_s": ("llm_curation.self_s", "s"),
    "llm_curation.jobs": ("llm_curation.jobs", "count"),
    "dedup.s": ("dedup.self_s", "s"),
    "dedup.jobs": ("dedup.jobs", "count"),
    "dedup.stages": ("dedup.stages", "count"),
    "textops.s": ("textops.self_s", "s"),
    "textops.jobs": ("textops.jobs", "count"),
    "training.s": ("training.self_s", "s"),
    "training.jobs": ("training.jobs", "count"),
    "scale.s": ("scale.self_s", "s"),
    "scale.jobs": ("scale.jobs", "count"),
    "climate.s": ("climate.self_s", "s"),
    "sinks.s": ("sinks.self_s", "s"),
    "sinks.jobs": ("sinks.jobs", "count"),
    "sinks.bytes_written": ("sinks.bytes_written", "bytes"),
    "spark.jobs": ("spark.jobs", "count"),
    "spark.stages": ("spark.stages", "count"),
    "spark.task_s": ("spark.task_s", "s"),
    "spark.core_busy_ratio": (None, "ratio"),
    "spark.shuffle_bytes": ("spark.shuffle_bytes", "bytes"),
    "spark.result_bytes": ("spark.result_bytes", "bytes"),
    "spark.gc_s": ("spark.gc_s", "s"),
    "spark.failed_tasks": ("spark.failed_tasks", "count"),
    "trace.overhead_ratio": (None, "ratio"),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stat_cpu_s(path: str, children: bool = False) -> float:
    """utime + stime (+ cutime + cstime) of a /proc stat file."""
    with open(path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in f[11:15 if children else 13]) / CLK_TCK


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


class Harness:
    """Times, traces and checks each operation of one run."""

    def __init__(self, spark, tracer, cpus: int):
        self.spark = spark
        self.tracer = tracer
        self.cpus = cpus
        self.attempted = 0
        self.failed = 0
        # set-up operations (the cold one and the warm-up cycles) are
        # recorded apart from the measured ones
        self.warming = True
        self.walls: dict[str, list[float]] = {"cold": [], "warmup": [], "big": [], "small": []}
        self.cpu: dict[str, list[float]] = {k: [] for k in self.walls}
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        # bytes a big (or cold) operation leaves on disk per input byte
        self.out_ratios: list[float] = []
        self.cycles: list[dict[str, float]] = []
        self.warmup_cycles: list[dict[str, float]] = []
        self._cycle: dict[str, float] = {}
        self.cold_trace: dict[str, float] = {}

    def op(self, kind: str, run, check) -> None:
        """Run one operation: ``run`` is timed (inside a root span when
        tracing), ``check`` gets its result untimed and raises when the
        output is wrong. Afterwards (untimed) checkpoints and caches are
        dropped and both processes collect garbage, so no operation pays
        for the previous one's."""
        self.attempted += 1
        try:
            c0 = self.cpu_s()
            if self.tracer is None:
                t0 = time.perf_counter()
                result = run()
                wall = time.perf_counter() - t0
            else:
                with self.tracer.span("bench", kind) as root:
                    result = run()
                wall = root.end - root.start
            cpu = self.cpu_s() - c0
            if self.tracer is not None:
                m = self.tracer.op_metrics(root)
                acc = self.cold_trace if kind == "cold" else self._cycle
                for k, v in m.items():
                    acc[k] = acc.get(k, 0.0) + v
            check(result)
            key = kind if kind == "cold" or not self.warming else "warmup"
            self.walls[key].append(wall)
            self.cpu[key].append(cpu)
        except Exception:
            self.failed += 1
            log(f"{kind} operation failed:\n{traceback.format_exc()}")
        finally:
            self.drop_checkpoints()
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()

    def cpu_s(self) -> float:
        """CPU seconds (user + system) used so far by this process, the
        driver JVM and every process the JVM started (Python workers),
        reaped children included, less the JVM's JIT compiler threads:
        how much compiling lands inside an operation depends on timing,
        not on the operation (it took a fifth to two fifths of a warm
        operation's CPU and varied most)."""
        total = time.process_time()
        for pid in descendants(self.jvm_pid) | {self.jvm_pid}:
            with contextlib.suppress(OSError, IndexError, ValueError):
                total += _stat_cpu_s(f"/proc/{pid}/stat", children=True)
        for task in glob.glob(f"/proc/{self.jvm_pid}/task/*"):
            with contextlib.suppress(OSError, IndexError, ValueError):
                with open(f"{task}/comm") as fh:
                    if "CompilerThre" in fh.read():
                        total -= _stat_cpu_s(f"{task}/stat")
        return total

    def end_cycle(self) -> None:
        if self._cycle:
            (self.warmup_cycles if self.warming else self.cycles).append(self._cycle)
        self._cycle = {}

    def drop_checkpoints(self) -> None:
        """Unpersist every cached or checkpointed RDD between
        operations, so dead blocks of one operation never load the
        next (the hygiene ``bench.py`` applies between samples)."""
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)



def layer_metrics(h: Harness, session_s: float) -> dict[str, float]:
    """Median over cycles of each per-cycle total."""
    def med(key):
        return statistics.median(c.get(key, 0.0) for c in h.cycles)

    out = {}
    for name, (key, _) in PER_LAYER.items():
        if key is not None:
            out[name] = med(key)
    out["session.start_s"] = session_s
    for kind in ("big", "small"):
        if h.walls[kind]:
            out[f"bench.{kind}_op_s"] = statistics.median(h.walls[kind])
    out["spark.core_busy_ratio"] = statistics.median(
        c.get("spark.task_s", 0.0) / (c["op.wall_s"] * h.cpus) for c in h.cycles
    )
    traced = sum(c.get("op.wall_s", 0.0) for c in [h.cold_trace, *h.cycles])
    out["trace.overhead_ratio"] = h.tracer.bookkeeping_s / traced
    return out


def start_session(root: str, cpus: int, app_name: str):
    """Start the engine session for one run: ``local[cpus]``, with the
    run's own Spark local dirs, JVM and Python temp dirs and warehouse
    under ``root``, and one trivial job so the executor is up."""
    local, tmp = os.path.join(root, "local"), os.path.join(root, "tmp")
    for d in (local, tmp):
        os.makedirs(d)
    os.environ.update({
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # the JVM that spark-submit runs to build the driver's command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    from climate_data_pipelines_spark import get_spark

    spark = get_spark(app_name=app_name, extra_conf={
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        # a pre-touched heap of fixed size: the JVM's resident memory no
        # longer depends on when G1 chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            # compiler threads then live as long as the JVM, so the CPU
            # time they used can be taken out of the process's (cpu_s)
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
        # keep every job and stage of the run for the traced accounting
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM this process launched, and wait
    until it and every process it started have ended."""
    from pyspark import SparkContext

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    spawned = descendants(jvm_pid) | {jvm_pid}
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    for _ in range(2):  # wait for every process; kill what is left once
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(map(_running, spawned)):
            time.sleep(0.2)
        left = [p for p in spawned if _running(p)]
        if not left:
            return
        for p in left:
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)
    log(f"processes {left} did not end")


def _running(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(REPO, "climate_data_pipelines_spark", "__init__.py")):
        log(f"no engine package next to {HERE}: run from a full checkout")
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, tree_bytes

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    cpus = len(os.sched_getaffinity(0))
    root = os.path.join(STATE, f"run-{os.getpid()}-{time.time_ns()}")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(root, cpus, f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        h = Harness(spark, tracer, cpus)
        # every CPU second the process tree has used so far
        session_cpu = h.cpu_s()
        wl = WORKLOADS[args.workload](h, root, args.seed)

        def timed(fn) -> tuple[float, float]:
            """(wall, CPU) seconds of ``fn()``."""
            c, t = h.cpu_s(), time.perf_counter()
            fn()
            return time.perf_counter() - t, h.cpu_s() - c

        def cycle(i: int) -> None:
            try:
                wl.cycle(i)
            except Exception:
                h.attempted += 1
                h.failed += 1
                log(f"cycle {i} failed:\n{traceback.format_exc()}")
            h.end_cycle()

        def warm_up() -> None:
            wl.cold()
            for i in range(wl.warmup_cycles):
                cycle(i)

        gen = [timed(wl.generate) for _ in range(SETUP_REPEATS)]
        prepare = timed(wl.prepare)
        warm = timed(warm_up)
        h.warming = False
        setup_wall = session_s + statistics.median(w for w, _ in gen) + prepare[0] + warm[0]
        setup_s = session_cpu + statistics.median(c for _, c in gen) + prepare[1] + warm[1]
        log(f"{args.workload} seed {args.seed}: set-up {setup_wall:.2f}s wall, "
            f"{setup_s:.2f}s CPU on {cpus} cpus")

        t = time.perf_counter()
        deadline = t + args.seconds
        i = wl.warmup_cycles
        while i == wl.warmup_cycles or time.perf_counter() < deadline:
            cycle(i)
            i += 1
        measured_s = time.perf_counter() - t

        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        input_bytes = tree_bytes(wl.data)
        complete = all(h.walls[k] for k in ("cold", "big", "small"))
        if args.trace:
            layer = layer_metrics(h, session_s) if h.cycles else {}
            metrics = {n: {"value": layer[n], "unit": u} for n, (_, u) in PER_LAYER.items()
                       if n in layer}
            report = os.path.join(STATE, f"trace-{args.workload}-{args.seed}.json")
            with open(report, "w") as fh:
                json.dump({
                    "workload": args.workload, "seed": args.seed, "cpus": cpus,
                    "attribution": "self time per layer; a job belongs to the innermost "
                    "open span, so jobs that run a lazy plan later under a sink "
                    "belong to sinks (or to bench, the benchmark's own collect)",
                    "cycles": h.cycles, "cold": h.cold_trace,
                    "warmup_cycles": h.warmup_cycles, "per_layer": layer,
                    "spans": [vars(s) for s in tracer.spans],
                }, fh, indent=1)
        else:
            values = {
                "setup_s": setup_s,
                "big_op_cpu_s": statistics.median(h.cpu["big"]) if h.cpu["big"] else None,
                "small_op_cpu_s": statistics.median(h.cpu["small"]) if h.cpu["small"] else None,
                "out_bytes_ratio": statistics.median(h.out_ratios) if h.out_ratios else None,
                "peak_rss_mb": peak_rss,
            }
            metrics = {n: {"value": values[n], "unit": u}
                       for n, u in END_TO_END.items() if values[n] is not None}
        print(json.dumps({
            "record": "perfbench_provenance", "workload": args.workload,
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "cpus": cpus, "driver_memory": DRIVER_MEM, "input_bytes": input_bytes,
            "cycles": i - wl.warmup_cycles,
            "samples": {k: len(v) for k, v in h.walls.items()},
            "wall_s": h.walls, "cpu_s": h.cpu, "setup_wall_s": setup_wall,
            "session_wall_cpu_s": [session_s, session_cpu],
            "generate_wall_cpu_s": gen, "prepare_wall_cpu_s": prepare,
            "cold_and_warmup_wall_cpu_s": warm, "measured_s": measured_s,
            "elapsed_s": time.perf_counter() - t0,
        }))
        result = {
            "correct": h.failed == 0 and complete,
            "attempted": h.attempted,
            "failed": h.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
