"""The three workloads: one closed-loop client, one op at a time.

Each run does a fixed amount of work derived from ``--seconds`` (whole
sessions or whole passes, sized from the warm per-unit times measured
on 4 cores), so LLM and Spark job counts repeat exactly for a seed.

- ``session_drill``: progressive sessions through ``OlapEngine.run``
  over the 5,000-doc table, in-process ``StubLLM``; per-query fixed
  cost and lattice reads dominate.
- ``session_llm``: one long session of unrelated explorations over a
  document subset, answered by the production HTTP client stack
  against the in-process mock endpoint with fixed per-call latency;
  every probe misses, memoizes a node, and evicts past 8 nodes.
- ``scan_analytics``: a mix of driver-contract registry rows at sf0.1,
  each forced with a noop write, cache cleared between ops.

With tracing on, every other unit (session, op or pass) runs with the
span wrappers installed; the untraced units give the overhead.
"""

from __future__ import annotations

import gc
import inspect
import random
import statistics
import time
from contextlib import nullcontext

import cpuclock
import llmstack
import sessions
import verify
from tracing import Tracer, self_time, storage_state

SETUP_REPEATS = 3
# without it the first timed session or pass ran 10-30% slower than
# the rest (the cleaner deleting warm-up shuffles alongside it)
SETTLE_S = 2.0
# The JVM's JIT compilers still take a third of the machine's CPU for
# the first minute of a run, and how fast they finish depends on what
# else the host runs: sessions timed after a single warm-up session ran
# 25-35% slower in their first block than in their fourth.  A block of
# warm-up sessions takes the timed ones past most of that.
DRILL_WARMUP_SESSIONS = 4
# likewise the first timed scan pass after the checked one ran 10-35%
# slower than the second
SCAN_WARMUP_PASSES = 1
DRILL_SESSION_EST_S = 1.8
LLM_OP_EST_S = 1.2
LLM_DOCS = 150
LLM_LATENCY_S = 0.005
# below the engine's default of 16 so a 10 s session crosses it
LLM_CACHED_NODES = 8
SCAN_PASS_EST_S = 9.3
SCAN_MIX = (
    "pricing_summary", "local_supplier_volume", "join_revenue_by_nation",
    "window_top_order_per_cust", "cube_shipping", "quantile_state_orders",
    "anomaly_events", "text_profile", "sem_map_topic",
)
SCAN_TABLES = ("region", "nation", "customer", "supplier", "orders",
               "lineitem", "events", "documents")


def units(run: "Run", est: float, block: int = 1) -> int:
    """Whole blocks of units (sessions, queries, passes) that fill about
    ``--seconds`` at ``est`` seconds per unit; a traced run alternates
    untraced and traced units, so it runs at least two."""
    n = max(1, round(run.seconds / (est * block))) * block
    return max(n, 2) if run.trace else n


class Run:
    """Ops, timings and counters of one run of one workload."""

    def __init__(self, spark, data_dir: str, seed: int, seconds: int,
                 trace: bool, cores: int, expected: dict):
        self.spark = spark
        self.sc = spark.sparkContext
        self.data_dir = data_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.expected = expected
        self.tracer = Tracer(self.sc)
        self.ops: list[dict] = []
        self.ctor_s: list[float] = []
        self.timed_wall = 0.0
        self.setup: dict[str, float] = {}
        self.setup_parts: dict[str, list[float]] = {}
        self.session_end_persisted: list[int] = []
        self.llm: dict[str, float] = {}
        self.notes: dict = {}
        self.servers: list = []
        self.t_timed: float | None = None

    def mark_timed(self) -> None:
        """Set-up ends here: the next thing is the first timed op.  The
        garbage the warm-up left is collected first (in Python, then in
        the JVM, whose context cleaner then drops the warm-up's
        shuffles on a thread of its own, given SETTLE_S to finish), so
        the first timed session does not pay for it."""
        gc.collect()
        self.sc._jvm.System.gc()
        time.sleep(SETTLE_S)
        self.t_timed = time.time()

    def now(self) -> float:
        return time.perf_counter()

    def repeat_setup(self, fn):
        """Run a set-up step SETUP_REPEATS times; keep the last result,
        record each part's times and the median of the totals.  The
        reported set-up time counts the step once, at that median."""
        totals, out = [], None
        for _ in range(SETUP_REPEATS):
            t = self.now()
            out, parts = fn(out)
            totals.append(self.now() - t)
            for k, v in parts.items():
                self.setup_parts.setdefault(k, []).append(v)
        self.setup["repeats_total_s"] = sum(totals)
        self.setup["repeats_median_s"] = statistics.median(totals)
        return out

    # -- session ops -------------------------------------------------------

    def engine(self, make_engine, traced: bool, timed: bool = True):
        """A fresh engine; its construction counts as timed work."""
        tr = self.tracer
        with tr.installed(traced):
            tr.op = None
            t = self.now()
            eng = make_engine()
            ctor = self.now() - t
        if timed:
            self.ctor_s.append(ctor)
            self.timed_wall += ctor
        if self.trace:
            eng.memory.classify = tr._wrapper(
                eng.memory.classify, "plans.memory.classify")
        return eng

    def queries(self, eng, queries, unit, traced_ops, expected):
        """Answer ``queries`` in order on one engine, then note how many
        persisted frames are alive."""
        for q, traced in zip(queries, traced_ops):
            with self.tracer.installed(traced):
                self.op(q, unit, traced, lambda q=q: eng.run(q),
                        lambda df, q=q: expected.get(q))
        self.session_end_persisted.append(storage_state(self.sc)[0])

    def op(self, label, unit, traced, fn, expect, check=True):
        """Time one op; hash and check its result outside the window."""
        opid = len(self.ops)
        self.tracer.op = opid if traced else None
        rec = {"op": opid, "unit": unit, "query": label, "traced": traced}
        rec["ref_s"] = cpuclock.ref_s()
        cpu0, steal0 = cpuclock.tree_cpu_s(), cpuclock.host_steal_s()
        t = self.now()
        try:
            df = fn()
            rec["latency_s"] = self.now() - t
            rec["cpu_s"] = cpuclock.tree_cpu_s() - cpu0
            rec["steal_s"] = cpuclock.host_steal_s() - steal0
            if check:
                rec["hash"] = verify.frame_hash(df)
                rec["ok"] = rec["hash"] == expect(df)
            else:
                rec["ok"] = True
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            rec["latency_s"] = self.now() - t
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        self.timed_wall += rec["latency_s"]
        self.tracer.op = None
        rec["persisted"], rec["storage_bytes"] = storage_state(self.sc)
        if traced:
            self.tracer.attach_spark(self.tracer.op_spans(opid))
        self.ops.append(rec)
        return rec


# -- session_drill -----------------------------------------------------------


def _docs_setup(run: Run):
    from semantic_olap_spark.sources.loaders import load_table, with_olap_id

    def step(_):
        t = run.now()
        docs = load_table(run.spark, run.data_dir, "documents")
        t1 = run.now()
        with_olap_id(docs, order_by=["doc_id"]).count()
        return docs, {"load_tables_s": t1 - t, "with_olap_id_s": run.now() - t1}

    return run.repeat_setup(step)


def session_drill(run: Run) -> None:
    from semantic_olap_spark.engine import OlapEngine
    from semantic_olap_spark.llm.client import (
        default_llm_factory,
        wrap_cost_tracking,
    )

    docs = _docs_setup(run)
    tracked, stats = wrap_cost_tracking(run.spark, default_llm_factory)
    factory = llmstack.split_driver_calls(tracked)

    def make_engine():
        return OlapEngine(docs, llm_factory=factory, order_by=["doc_id"])

    expected = run.expected["drill"]
    t = run.now()
    for queries in sessions.drill_warmup(DRILL_WARMUP_SESSIONS):
        eng = make_engine()
        for q in queries:
            eng.run(q).count()
    del eng
    run.spark.catalog.clearCache()
    run.setup["warmup_s"] = run.now() - t
    run.mark_timed()

    before = _llm_snapshot(stats)
    plan = sessions.drill_sessions(run.seed, units(run, DRILL_SESSION_EST_S, 4))
    for i, queries in enumerate(plan):
        traced = run.trace and i % 2 == 1
        eng = run.engine(make_engine, traced)
        run.queries(eng, queries, i, [traced] * len(queries), expected)
    run.llm = _llm_delta(stats, before)


# -- session_llm -------------------------------------------------------------


def session_llm(run: Run) -> None:
    from pyspark.sql import functions as F

    from semantic_olap_spark.engine import OlapEngine
    from semantic_olap_spark.llm.client import StubLLM, wrap_cost_tracking
    from semantic_olap_spark.llm.http_client import http_llm_factory
    from semantic_olap_spark.llm.mock_server import MockOpenAIServer
    from semantic_olap_spark.sources.loaders import load_table, with_olap_id

    def step(_):
        t = run.now()
        docs = load_table(run.spark, run.data_dir, "documents").filter(
            F.col("doc_id") < LLM_DOCS)
        t1 = run.now()
        with_olap_id(docs, order_by=["doc_id"]).count()
        t2 = run.now()
        slot = llmstack.SlotLLM(StubLLM(), LLM_LATENCY_S, run.cores)
        server = MockOpenAIServer(slot)
        run.servers.append(server)  # all shut down when the run ends
        return (docs, server, slot), {
            "load_tables_s": t1 - t, "with_olap_id_s": t2 - t1,
            "endpoint_start_s": run.now() - t2}

    docs, server, slot = run.repeat_setup(step)
    base = http_llm_factory(
        server.base_url, "perfbench-mock", concurrency=run.cores,
        max_retries=2, backoff_base=0.05,
    )
    tracked, stats = wrap_cost_tracking(run.spark, base)
    factory = llmstack.split_driver_calls(tracked)

    def make_engine():
        return OlapEngine(docs, llm_factory=factory, order_by=["doc_id"],
                          max_cached_nodes=LLM_CACHED_NODES)

    # the session's first queries warm up; the timed ones continue it
    expected = run.expected["llm"]
    n = units(run, LLM_OP_EST_S, 4)
    t = run.now()
    eng = run.engine(make_engine, run.trace, timed=False)
    for q in sessions.llm_warmup():
        eng.run(q).count()
    run.setup["warmup_s"] = run.now() - t
    run.mark_timed()

    before = _llm_snapshot(stats)
    served, slot.inflight_max = server.state.requests, 0
    wall0 = run.timed_wall
    traced = [run.trace and i % 2 == 1 for i in range(n)]
    run.queries(eng, sessions.llm_session(run.seed, n), 0, traced, expected)
    wall = run.timed_wall - wall0
    run.llm = _llm_delta(stats, before)
    calls = server.state.requests - served
    run.llm["backend_calls"] = calls
    run.llm["inflight_mean"] = calls * LLM_LATENCY_S / wall
    run.llm["inflight_max"] = slot.inflight_max
    run.notes["endpoint"] = {"latency_s": LLM_LATENCY_S, "slots": run.cores,
                             "docs": LLM_DOCS}


# -- scan_analytics ----------------------------------------------------------


def scan_analytics(run: Run) -> None:
    import __spark_entry__ as entry
    from semantic_olap_spark.llm.client import (
        default_llm_factory,
        wrap_cost_tracking,
    )
    from semantic_olap_spark.sources.loaders import load_table

    def step(_):
        t = run.now()
        for name in SCAN_TABLES:
            load_table(run.spark, run.data_dir, name)
        return None, {"load_tables_s": run.now() - t}

    run.repeat_setup(step)
    tracked, stats = wrap_cost_tracking(run.spark, default_llm_factory)
    registry = entry.queries()

    def build(name):
        fn = registry[name]
        if "llm_factory" in inspect.signature(fn).parameters:
            return fn(run.spark, run.data_dir, llm_factory=tracked)
        return fn(run.spark, run.data_dir)

    # warm-up: a pass with every row collected and checked against its
    # DuckDB oracle hash, then passes run like the timed ones
    oracle = run.expected["oracle"]
    checked = {}
    t = run.now()
    for name in SCAN_MIX:
        try:
            checked[name] = verify.frame_hash(build(name)) == oracle[name]
        except Exception as e:  # noqa: BLE001
            checked[name] = False
            run.notes.setdefault("check_errors", {})[name] = str(e)[:500]
        run.spark.catalog.clearCache()
    for _ in range(SCAN_WARMUP_PASSES):
        for name in SCAN_MIX:
            try:
                build(name).write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 — its timed ops fail too
                pass
            run.spark.catalog.clearCache()
    run.setup["warmup_s"] = run.now() - t
    run.notes["checked"] = checked
    run.mark_timed()

    before = _llm_snapshot(stats)
    rng = random.Random(run.seed)
    tr = run.tracer
    for p in range(units(run, SCAN_PASS_EST_S)):
        traced = run.trace and p % 2 == 1
        order = list(SCAN_MIX)
        rng.shuffle(order)
        for name in order:
            def fn(name=name):
                with tr.span("registry.query") if traced else nullcontext():
                    df = build(name)
                with tr.span("registry.write") if traced else nullcontext():
                    df.write.format("noop").mode("overwrite").save()
                return df

            rec = run.op(name, p, traced, fn, None, check=False)
            rec["ok"] = rec["ok"] and checked[name]
            run.spark.catalog.clearCache()
    run.llm = _llm_delta(stats, before)


def _llm_snapshot(stats) -> dict:
    return {"requests": stats.requests, "backend_calls": stats.backend_calls,
            "driver_calls": llmstack.driver_requests()}


def _llm_delta(stats, before: dict) -> dict:
    now = _llm_snapshot(stats)
    d = {k: now[k] - before[k] for k in now}
    d["executor_calls"] = d["requests"] - d["driver_calls"]
    return d


WORKLOADS = {
    "session_drill": session_drill,
    "session_llm": session_llm,
    "scan_analytics": scan_analytics,
}


# -- metrics -----------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_q(n: int) -> float:
    """Highest quantile with at least ten samples beyond it, never
    below the median."""
    return max(0.5, 1.0 - 10.0 / n)


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def layer_metrics(run: Run) -> dict[str, float]:
    """Per-layer metrics over the traced ops: times are medians per op
    over the ops where the layer ran, counts are means per op."""
    spans = run.tracer.spans
    traced = [o for o in run.ops if o["traced"]]
    n = max(1, len(traced))
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        if s["op"] is not None:
            by_op.setdefault(s["op"], []).append(s)

    def per_op(names, field=None):
        """Per traced op: summed duration (or ``field``) of spans named
        in ``names``; only ops where such a span ran."""
        out = []
        for o in traced:
            ss = [s for s in by_op.get(o["op"], []) if s["name"] in names]
            if ss:
                out.append(sum((s["end"] - s["start"]) if field is None
                               else s[field] for s in ss))
        return out

    def count(name, pred=lambda s: True):
        return sum(1 for s in spans if s["name"] == name and pred(s)
                   and s["op"] is not None)

    def total(field, names=None):
        return sum(s.get(field, 0) for s in spans if s["op"] is not None
                   and (names is None or s["name"] in names))

    probes = count("plans.memory.probe")
    outcome = {k: count("plans.memory.probe",
                        lambda s, k=k: s["attrs"].get("outcome") == k)
               for k in ("equal", "subset", "miss")}
    run_self = [self_time(s, by_op[s["op"]]) for s in spans
                if s["name"] == "engine.run" and s["op"] is not None]
    ctor = [s["end"] - s["start"] for s in spans if s["name"] == "engine.ctor"]
    construct_names = {"registry.query"} if run.notes.get("checked") else {
        s["name"] for s in spans if s["name"] != "engine.run"}
    execute_names = {"registry.write"} if run.notes.get("checked") else {
        "engine.run"}
    op_lat = [o["latency_s"] for o in traced]
    un_lat = [o["latency_s"] for o in run.ops if not o["traced"]]
    req = run.llm.get("requests", 0)
    n_all = max(1, len(run.ops))
    m = {
        "engine.ctor_s": _median(ctor),
        "engine.run_self_s": _median(run_self),
        "engine.decompose_s": _median(per_op({"engine.decompose"})),
        "engine.plan_filter_s": _median(per_op({"engine.plan_filter"})),
        "plans.memory.probe_s": _median(per_op({"plans.memory.probe"})),
        "plans.memory.classify_calls_per_probe":
            count("plans.memory.classify") / probes if probes else 0.0,
        "plans.memory.equal_hits": outcome["equal"] / n,
        "plans.memory.subset_hits": outcome["subset"] / n,
        "plans.memory.misses": outcome["miss"] / n,
        "plans.memory.hit_ratio":
            (outcome["equal"] + outcome["subset"]) / probes if probes else 0.0,
        "plans.memory.nodes_added": count("plans.memory.add_node") / n,
        "plans.memory.nodes_evicted": count("plans.memory.release") / n,
        "plans.planner.inject_s": _median(per_op({"plans.planner.inject"})),
        "plans.planner.inject_jobs":
            total("jobs", {"plans.planner.inject"}) / n,
        "plans.planner.topk_s": _median(per_op(
            {"plans.planner.understand_topk", "plans.planner.topk_dispatch"})),
        "plans.planner.topk_jobs": total("jobs", {
            "plans.planner.understand_topk",
            "plans.planner.topk_dispatch"}) / n,
        "plans.executor.run_filter_s":
            _median(per_op({"plans.executor.run_filter"})),
        "plans.executor.run_filter_jobs":
            total("jobs", {"plans.executor.run_filter"}) / n,
        "plans.rollup.roll_up_s": _median(per_op({"plans.rollup.roll_up"})),
        "plans.rollup.drill_down_s":
            _median(per_op({"plans.rollup.drill_down"})),
        "plans.rollup.jobs": total("jobs", {"plans.rollup.roll_up",
                                            "plans.rollup.drill_down"}) / n,
        "llm.requests": req / n_all,
        "llm.backend_calls": run.llm.get("backend_calls", 0) / n_all,
        "llm.cache_hit_ratio":
            1.0 - run.llm.get("backend_calls", 0) / req if req else 0.0,
        "llm.driver_calls": run.llm.get("driver_calls", 0) / n_all,
        "llm.executor_calls": run.llm.get("executor_calls", 0) / n_all,
        "spark.jobs": total("jobs") / n,
        "spark.stages": total("stages") / n,
        "spark.tasks": total("tasks") / n,
        "spark.construct_s": _median(per_op(construct_names)),
        "spark.construct_jobs": total("jobs", construct_names) / n,
        "spark.execute_s": _median(
            [s["end"] - s["start"] for s in spans
             if s["op"] is not None and s["name"] in {"registry.write"}]
            or run_self),
        "spark.executor_run_ms": _median(_op_sums(traced, by_op, "run_ms")),
        "spark.executor_cpu_ms": _median(_op_sums(traced, by_op, "cpu_ms")),
        "spark.gc_ms": _median(_op_sums(traced, by_op, "gc_ms")),
        "spark.shuffle_read_bytes": total("shuffle_read") / n,
        "spark.shuffle_write_bytes": total("shuffle_write") / n,
        "caching.persisted_after_op": _median(o["persisted"] for o in traced),
        "caching.storage_bytes": _median(o["storage_bytes"] for o in traced),
        "sources.loaders.load_tables_s":
            _median(run.setup_parts.get("load_tables_s", [])),
        "sources.loaders.with_olap_id_s":
            _median(run.setup_parts.get("with_olap_id_s", [])),
        "trace.op_p50_s": _median(op_lat),
        "trace.overhead_s": _median(op_lat) - _median(un_lat),
    }
    if "inflight_mean" in run.llm:  # only the HTTP endpoint counts these
        m["llm.inflight_mean"] = run.llm["inflight_mean"]
        m["llm.inflight_max"] = run.llm["inflight_max"]
    return m


def layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_bytes", "bytes"),
                         ("_ratio", "ratio"), ("_mean", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _op_sums(traced, by_op, field) -> list[float]:
    return [sum(s.get(field, 0) for s in by_op.get(o["op"], []))
            for o in traced]
