#!/usr/bin/env python3
"""The repository benchmark: semantic-OLAP sessions and scan analytics.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload session_drill --seed 1 \\
        --seconds 15 --trace 0

Workloads: ``session_drill``, ``session_llm``, ``scan_analytics``
(see ``workloads.py``).  The run pins ``local[nproc]`` with the Spark
UI off, builds its sf0.1 inputs from a fixed data seed under
``.perfbench/`` (once per checkout), sets up, warms up, runs the
seeded ops, checks every result and prints one JSON object as the
last line of stdout.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones.  The full record (environment,
every op, spans) goes to ``.perfbench/records/``.  Exit code 1 means
a wrong result, 2 a tree or environment the benchmark cannot run in.

``--record-expected`` rewrites ``expected.json``: the result hash of
every query the session generator can emit, each answered by a fresh
engine from the root of the lattice.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(HERE, "expected.json")
DATA_SEED = 42
DATA_VERSION = 1
DRIVER_MEM = "2g"
# a fixed young generation: G1's adaptive young sizing alone moved the
# driver JVM's peak RSS by 25% between runs of the same work
HEAP_OPTS = "-Xms2g -Xmn384m"

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "llm_calls_per_op": "calls", "peak_rss_mb": "MB", "failed_op_frac": "ratio",
    "ref_s": "s", "op_p50_ref": "ref", "ops_per_kref": "1/kref",
}
# the end-to-end metrics of the JSON result (and BENCHMARK.json).  Not
# ``failed_op_frac``: 0 on every correct run, already the JSON's
# ``failed``.  Not ``op_tail_s``: a scan run of ``run_seconds`` has
# fewer than the 20 ops a tail quantile above the median needs, so
# there it is the median.  Latency and throughput are gated in units
# of the run's reference time ``ref_s`` (see ``cpuclock.ref_s``), not
# in seconds: on a shared 4-vCPU host the same work ran up to 1.7x
# slower from one minute to the next, which spread ``op_p50_s`` over
# ten runs by up to a third of its median; the ratio cancels most of
# that, and the seconds stay on the human line and in the record.
GATED = ("setup_s", "op_p50_ref", "ops_per_kref", "llm_calls_per_op",
         "peak_rss_mb")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_tree() -> None:
    for rel in ("semantic_olap_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found under {ROOT}: run from a full checkout")


def configure(cores: int) -> None:
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # the JVM that spark-submit starts to build the driver command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(STATE, "spark-local"),
    })
    sys.path[:0] = [ROOT]


def ensure_data() -> tuple[str, float, dict]:
    """Tables + oracle hashes, built once per checkout; returns the dir,
    the seconds spent building them now, and their metadata."""
    import datagen
    import verify
    import workloads

    d = os.path.join(STATE, f"data-v{DATA_VERSION}-seed{DATA_SEED}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.isfile(meta_path):
        with open(meta_path) as fh:
            return d, 0.0, json.load(fh)
    t = time.time()
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tables = datagen.make_tables(DATA_SEED)
    datagen.write_tables(tables, tmp)
    meta = {
        "documents_hash": verify.pandas_hash(tables["documents"].to_pandas()),
        "oracle": verify.oracle_hashes(tmp, workloads.SCAN_MIX,
                                       workloads.SCAN_TABLES),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, time.time() - t, meta


def start_spark(cores: int):
    from semantic_olap_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} {HEAP_OPTS}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def environment(spark, cores: int, seed: int) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "master": spark.sparkContext.master,
        "cores": cores,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "ui_enabled": conf.get("spark.ui.enabled"),
        "spark_version": spark.version,
        "python_version": platform.python_version(),
        "seed": seed,
        "data_seed": DATA_SEED,
        "loadavg_1m_at_start": LOAD_AT_START,
    }


def end_to_end(run, t_ready: float, gen_s: float, rss_mb: float) -> dict:
    import workloads as W

    lat = [o["latency_s"] for o in run.ops]
    ref = statistics.median(o["ref_s"] for o in run.ops)
    n = len(lat)
    q = W.tail_q(n)
    # set-up = process start to first timed op, minus input generation,
    # with the repeated table set-up counted once (its median)
    setup = (t_ready - T_START) - gen_s - run.setup["repeats_total_s"] \
        + run.setup["repeats_median_s"]
    run.notes["op_tail"] = {"quantile": q, "samples": n}
    return {
        "setup_s": setup,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": W.quantile(lat, q),
        "ops_per_s": n / run.timed_wall,
        "llm_calls_per_op": run.llm.get("backend_calls", 0) / n,
        "peak_rss_mb": rss_mb,
        "failed_op_frac": sum(1 for o in run.ops if not o["ok"]) / n,
        "ref_s": ref,
        "op_p50_ref": statistics.median(lat) / ref,
        "ops_per_kref": 1000.0 * ref * n / run.timed_wall,
    }


def record_expected() -> int:
    """Recompute expected.json from fresh engines (one per query)."""
    import sessions
    import verify
    import workloads as W

    cores = os.cpu_count() or 4
    data_dir, _, meta = ensure_data()
    spark = start_spark(cores)
    try:
        from pyspark.sql import functions as F

        from semantic_olap_spark.engine import OlapEngine
        from semantic_olap_spark.sources.loaders import load_table

        docs = load_table(spark, data_dir, "documents")
        out = {"documents_hash": meta["documents_hash"]}
        for key, frame, pool in (
            ("drill", docs, sessions.drill_pool()),
            ("llm", docs.filter(F.col("doc_id") < W.LLM_DOCS),
             sessions.llm_pool()),
        ):
            out[key] = {}
            for i, q in enumerate(pool):
                eng = OlapEngine(frame, order_by=["doc_id"])
                out[key][q] = verify.frame_hash(eng.run(q))
                spark.catalog.clearCache()
                print(f"{key} {i + 1}/{len(pool)} {q}", file=sys.stderr)
    finally:
        stop_spark(spark)
    with open(EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args(argv)
    check_tree()
    cores = os.cpu_count() or 4
    configure(cores)
    if args.record_expected:
        return record_expected()

    import workloads as W

    if args.workload not in W.WORKLOADS:
        fail(f"--workload must be one of {sorted(W.WORKLOADS)}")
    if not os.path.isfile(EXPECTED):
        fail(f"{EXPECTED} missing: run --record-expected")
    with open(EXPECTED) as fh:
        expected = json.load(fh)

    data_dir, gen_s, meta = ensure_data()
    if meta["documents_hash"] != expected["documents_hash"]:
        fail("generated documents differ from the ones expected.json was "
             "recorded on (numpy/pyarrow changed?): run --record-expected")
    expected = dict(expected, oracle=meta["oracle"])

    phases = {"data_ready": time.time() - T_START}
    spark = start_spark(cores)
    phases["spark_ready"] = time.time() - T_START
    run = None
    try:
        run = W.Run(spark, data_dir, args.seed, args.seconds,
                    bool(args.trace), cores, expected)
        W.WORKLOADS[args.workload](run)
        env = environment(spark, cores, args.seed)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"python_kb": vm_hwm_kb("self"), "jvm_kb": vm_hwm_kb(jvm_pid)}
        rss_mb = (rss["python_kb"] + rss["jvm_kb"]) / 1024.0
        phases["ops_done"] = time.time() - T_START
    finally:
        for server in run.servers if run is not None else ():
            server.shutdown()
        stop_spark(spark)
    phases["spark_stopped"] = time.time() - T_START

    failed = sum(1 for o in run.ops if not o["ok"])
    e2e = end_to_end(run, run.t_timed, gen_s, rss_mb)
    tail = run.notes["op_tail"]
    print(f"{args.workload} seed {args.seed}: " + ", ".join(
        f"{k}={v:.6g} {END_TO_END[k]}" for k, v in e2e.items())
        + f" (op_tail_s at q{tail['quantile']:.3f} of {tail['samples']} ops)")
    if args.trace:
        values = W.layer_metrics(run)
        units = {k: W.layer_unit(k) for k in values}
    else:
        values = {k: e2e[k] for k in GATED}
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }
    rec_dir = os.path.join(STATE, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump({
            "workload": args.workload, "environment": env,
            "end_to_end": e2e, "setup": run.setup,
            "setup_parts": run.setup_parts, "data_gen_s": gen_s,
            "llm": run.llm, "notes": run.notes, "phases": phases,
            "peak_rss": rss,
            "session_end_persisted": run.session_end_persisted,
            "engine_ctor_s": run.ctor_s, "ops": run.ops,
            "spans": run.tracer.spans, "result": result,
        }, fh, indent=1, default=str)
    print(f"perfbench: record {rec_path} ({time.time() - T_START:.1f} s)",
          file=sys.stderr)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


LOAD_AT_START = os.getloadavg()[0]

if __name__ == "__main__":
    sys.exit(main())
