"""Span tracing for the benchmark's traced run (``--trace 1``).

The engine has no tracing of its own yet, so this module wraps the
public functions of each engine module from the outside, at import
time. Each wrapped call records a span (layer, name, start, end,
parent) kept in memory until the end of the run, and sets a Spark job
group for its duration, restoring the parent's group on exit. Every
job therefore belongs to the INNERMOST open span.

Attribution rules a reader of the per-layer numbers must know:

- A layer's time is SELF time: its spans' durations minus the time
  covered by their child spans (nested calls inside one layer are not
  counted twice).
- Operators are lazy. A span around an operator covers only its plan
  build and the eager jobs it runs (checkpoints, collects, counts).
  Jobs that execute the built plan later, under a sink, belong to
  ``sinks`` (or to the benchmark's own noop write in the analytics mix,
  layer ``bench``).
- Spark execution numbers come from ``SparkContext.statusTracker``
  (job ids per span's job group) and the local UI's
  ``/api/v1/applications/<id>/stages`` endpoint (task time, GC,
  shuffle, result and output bytes per stage).
"""

from __future__ import annotations

import dataclasses
import functools
import inspect
import json
import sys
import time
import urllib.request
from contextlib import contextmanager

PACKAGE = "climate_data_pipelines_spark"

# engine module -> layer name (the layer is named after its module)
LAYERS = {
    f"{PACKAGE}.catalog": "catalog",
    f"{PACKAGE}.plans.runner": "runner",
    f"{PACKAGE}.plans.llm_curation": "llm_curation",
    f"{PACKAGE}.operators.dedup": "dedup",
    f"{PACKAGE}.operators.textops": "textops",
    f"{PACKAGE}.operators.training": "training",
    f"{PACKAGE}.operators.scale": "scale",
    f"{PACKAGE}.operators.climate": "climate",
    f"{PACKAGE}.sinks": "sinks",
}


@dataclasses.dataclass
class Span:
    layer: str
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    jobs: tuple[int, ...] = ()


def _public_functions(module) -> dict[str, object]:
    """Plain public functions defined in ``module`` itself. Pandas UDF
    objects (they carry ``evalType``) and generators are left alone."""
    return {
        name: fn
        for name, fn in vars(module).items()
        if not name.startswith("_")
        and inspect.isfunction(fn)
        and fn.__module__ == module.__name__
        and not hasattr(fn, "evalType")
        and not inspect.isgeneratorfunction(fn)
    }


class Tracer:
    """Spans and Spark job attribution for one benchmark run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # time spent in this module's own bookkeeping inside timed
        # operations — the tracing overhead
        self.bookkeeping_s = 0.0
        self.app_id = self.sc.applicationId
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.rest = f"http://127.0.0.1:{port}/api/v1/applications/{self.app_id}"

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        """Replace every binding of each layer's public functions — the
        defining module's attribute and every ``from x import f`` copy
        in other engine modules — by a tracing wrapper, and wrap each
        registry query's builder as layer ``queries``."""
        import importlib

        wrapped: dict[int, object] = {}
        for mod_name, layer in LAYERS.items():
            module = importlib.import_module(mod_name)
            for name, fn in _public_functions(module).items():
                wrapped[id(fn)] = self.wrap(layer, name, fn)
        for mod_name, module in list(sys.modules.items()):
            if module is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(module).items()):
                if id(val) in wrapped and inspect.isfunction(val):
                    setattr(module, attr, wrapped[id(val)])
        from climate_data_pipelines_spark.queries import REGISTRY

        for qname, spec in list(REGISTRY.items()):
            REGISTRY[qname] = dataclasses.replace(
                spec, fn=self.wrap("queries", qname, spec.fn)
            )

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"perfbench-{idx}"
        self.sc.setJobGroup(group, f"{layer}.{name}")
        span = Span(layer, name, parent, group, start=0.0)
        self.spans.append(span)
        self._stack.append(idx)
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - t0
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc._jsc.clearJobGroup()
            else:
                p = self.spans[parent]
                self.sc.setJobGroup(p.group, f"{p.layer}.{p.name}")
            self.bookkeeping_s += time.perf_counter() - span.end

    # -- per-operation accounting (called outside the timed region) --------
    def _rest(self, path: str):
        with urllib.request.urlopen(f"{self.rest}/{path}", timeout=30) as r:
            return json.load(r)

    def op_metrics(self, root: Span) -> dict[str, float]:
        """Per-layer numbers of the operation whose root span is
        ``root`` (the last finished top-level span)."""
        # the status store is fed asynchronously by the listener bus:
        # drain it so every finished job and stage of this op is visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        first = self.spans.index(root)
        spans = self.spans[first:]
        tracker = self.sc.statusTracker()
        # every attempt of every stage that ran (skipped stages did not)
        ran: dict[int, list[dict]] = {}
        for s in self._rest("stages"):
            if s["status"] in ("COMPLETE", "FAILED"):
                ran.setdefault(s["stageId"], []).append(s)

        m: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            m[key] = m.get(key, 0.0) + v

        all_jobs: set[int] = set()
        for i, sp in enumerate(spans):
            child = sum(
                c.end - c.start for c in spans if c.parent == first + i
            )
            sp.jobs = tuple(sorted(tracker.getJobIdsForGroup(sp.group)))
            all_jobs.update(sp.jobs)
            stages = [
                s
                for info in map(tracker.getJobInfo, sp.jobs)
                for sid in (info.stageIds if info else ())
                for s in ran.get(sid, ())
            ]
            add(f"{sp.layer}.self_s", sp.end - sp.start - child)
            # calls INTO the layer: nested calls inside it are not counted
            outer = self.spans[sp.parent].layer if sp.parent is not None else None
            add(f"{sp.layer}.calls", outer != sp.layer)
            add(f"{sp.layer}.jobs", len(sp.jobs))
            add(f"{sp.layer}.stages", len(stages))
            add(f"{sp.layer}.bytes_written", sum(s.get("outputBytes", 0) for s in stages))
            for s in stages:
                add("spark.stages", 1)
                add("spark.task_s", s.get("executorRunTime", 0) / 1e3)
                add("spark.shuffle_bytes", s.get("shuffleWriteBytes", 0))
                add("spark.result_bytes", s.get("resultSize", 0))
                add("spark.gc_s", s.get("jvmGcTime", 0) / 1e3)
                add("spark.failed_tasks", s.get("numFailedTasks", 0))
        m["spark.jobs"] = len(all_jobs)
        m["op.wall_s"] = root.end - root.start
        return m
