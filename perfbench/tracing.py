"""Spans around the program's layer entry points, and Spark counters.

A :class:`Tracer` patches public functions and methods of the package
with wrappers that record a span (name, start, end, parent, op id)
and tag every Spark job launched inside it with a job group of its
own.  Patches are installed only for traced work and removed after,
so untraced ops run the program's own code objects.

Spark counters are read with the UI off: job and stage ids from
``statusTracker()``, per-stage executor run/CPU/GC time, task counts
and shuffle bytes from the JVM status store
(``sc._jsc.sc().statusStore()``).
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager

# (module path, owner attribute or None, attribute, span name)
ENGINE_TARGETS = (
    ("semantic_olap_spark.engine", "OlapEngine", "__init__", "engine.ctor"),
    ("semantic_olap_spark.engine", "OlapEngine", "run", "engine.run"),
    ("semantic_olap_spark.engine", "OlapEngine", "decompose", "engine.decompose"),
    ("semantic_olap_spark.engine", "OlapEngine", "plan_filter",
     "engine.plan_filter"),
    ("semantic_olap_spark.plans.memory", "CubeMemory", "get_current_node",
     "plans.memory.probe"),
    ("semantic_olap_spark.plans.memory", "CubeMemory", "add_node",
     "plans.memory.add_node"),
    ("semantic_olap_spark.plans.memory", "CubeNode", "release",
     "plans.memory.release"),
    ("semantic_olap_spark.engine", None, "inject_sub_plans",
     "plans.planner.inject"),
    ("semantic_olap_spark.engine", None, "understand_topk",
     "plans.planner.understand_topk"),
    ("semantic_olap_spark.engine", None, "topk_dispatch",
     "plans.planner.topk_dispatch"),
    ("semantic_olap_spark.plans.executor", None, "run_filter",
     "plans.executor.run_filter"),
    ("semantic_olap_spark.engine", None, "roll_up", "plans.rollup.roll_up"),
    ("semantic_olap_spark.engine", None, "drill_down",
     "plans.rollup.drill_down"),
)

_GROUP_IDS = itertools.count(1)  # job groups stay unique across tracers
_STAGE_FIELDS = ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read",
                 "shuffle_write")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []
        self._seq = 0
        self._patched: list[tuple[object, str, object]] = []
        self.active = False
        self.t0 = time.perf_counter()

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._seq, "name": name, "op": self.op,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{next(_GROUP_IDS)}", "attrs": attrs,
        }
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def _wrapper(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            with tracer.span(name) as rec:
                out = fn(*a, **kw)
                if name == "plans.memory.probe":
                    equal, ancestors = out
                    rec["attrs"]["outcome"] = (
                        "equal" if equal is not None
                        else "subset" if any(n.id != a[0].root_id
                                             for n in ancestors)
                        else "miss"
                    )
                return out

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self._wrapper(orig, name))

    def install(self, targets=ENGINE_TARGETS) -> None:
        import importlib

        for mod, owner, attr, name in targets:
            obj = importlib.import_module(mod)
            if owner:
                obj = getattr(obj, owner)
            self.patch(obj, attr, name)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    @contextmanager
    def installed(self, on: bool = True):
        if on:
            self.install()
        self.active = on
        try:
            yield
        finally:
            self.active = False
            self.uninstall()

    # -- Spark counters ---------------------------------------------------

    def flush(self) -> None:
        """Wait until the listener bus has delivered every job/stage
        event, so the status store is complete for finished actions."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def attach_spark(self, spans: list[dict]) -> None:
        """Add jobs/stages/tasks and stage metrics to each span (its
        own jobs, not its children's)."""
        self.flush()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in spans:
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            agg = dict.fromkeys(_STAGE_FIELDS, 0)
            stages = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    stages += 1
                    agg["tasks"] += sd.numCompleteTasks()
                    agg["run_ms"] += sd.executorRunTime()
                    agg["cpu_ms"] += sd.executorCpuTime() / 1e6
                    agg["gc_ms"] += sd.jvmGcTime()
                    agg["shuffle_read"] += sd.shuffleReadBytes()
                    agg["shuffle_write"] += sd.shuffleWriteBytes()
            rec["jobs"] = len(jobs)
            rec["stages"] = stages
            rec.update(agg)

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


def self_time(rec: dict, spans: list[dict]) -> float:
    kids = [s for s in spans if s["parent"] == rec["id"]]
    return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)


def storage_state(sc) -> tuple[int, int]:
    """(persistent RDDs alive, bytes they hold in memory + on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return (
        int(sc._jsc.getPersistentRDDs().size()),
        int(sum(i.memSize() + i.diskSize() for i in infos)),
    )
