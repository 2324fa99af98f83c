"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402
import sessions  # noqa: E402
import workloads  # noqa: E402


def test_sessions_deterministic_per_seed():
    assert sessions.drill_sessions(3, 5) == sessions.drill_sessions(3, 5)
    assert sessions.drill_sessions(3, 5) != sessions.drill_sessions(4, 5)
    assert sessions.llm_session(3, 20) == sessions.llm_session(3, 20)
    assert sessions.llm_session(3, 20) != sessions.llm_session(4, 20)


def test_held_out_seed_pinned():
    assert sessions.drill_sessions(sessions.HELD_OUT_SEED, 2) == [
        ["mentions scan in text",
         "mentions scan in text and n_chars > 300",
         "mentions scan in text and n_chars > 300",
         "mentions scan in text and n_chars > 300 then extract the topic"],
        ["mentions merge in text",
         "mentions merge in text and n_chars > 200",
         "mentions merge in text and n_chars > 200",
         "mentions merge in text and n_chars > 200 then group source into "
         "source_family and count"],
    ]
    assert sessions.llm_session(sessions.HELD_OUT_SEED, 4) == [
        "mentions scan in text and n_chars > 300",
        "mentions merge in text and n_chars > 200",
        "mentions spark in text and n_chars > 100",
        "mentions spark in text and n_chars > 400",
    ]


def test_whole_blocks_have_the_same_mix():
    def mix(qs):
        return sorted(q.split(" in text", 1)[1] for q in qs)

    a = sum(sessions.drill_sessions(1, 8), [])
    b = sum(sessions.drill_sessions(2, 8), [])
    assert a != b and mix(a) == mix(b)
    assert mix(sessions.llm_session(1, 12)) == mix(sessions.llm_session(2, 12))


def test_llm_session_never_repeats_a_filter():
    qs = sessions.llm_session(11, 48)
    assert len(set(qs)) == len(qs) == 48


def test_llm_warmup_words_never_reach_the_timed_queries():
    from semantic_olap_spark.llm.prompts import STOPWORDS

    words = set(sessions.WARMUP_KEYWORDS)
    # a stopword drops out of the query's tokens, which would make each
    # timed query a Subset of the warm-up query on its threshold
    assert not words & set(sessions.LLM_KEYWORDS) and not words & STOPWORDS
    assert len(set(sessions.llm_warmup())) == len(sessions.THRESHOLDS)


def test_drill_warmup_never_runs_a_timed_query():
    warm = set(sum(sessions.drill_warmup(8), []))
    timed = {q for seed in range(20) for q in sum(
        sessions.drill_sessions(seed, 8), [])}
    assert len(warm) > 8 and not warm & timed


def test_every_generated_query_has_an_expected_hash():
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    for seed in range(20):
        for q in sum(sessions.drill_sessions(seed, 8), []):
            assert q in expected["drill"]
        for q in sessions.llm_session(seed, 48):
            assert q in expected["llm"]
    assert set(expected["drill"]) == set(sessions.drill_pool())
    assert set(expected["llm"]) == set(sessions.llm_pool())


def test_generated_tables_deterministic_and_typed():
    a = datagen.make_tables(5, sf=0.001)
    b = datagen.make_tables(5, sf=0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["documents"].equals(datagen.make_tables(6, sf=0.001)["documents"])
    assert str(a["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(a["nation"].schema.field("n_nationkey").type) == "int32"
    assert a["lineitem"].num_rows == 6000


def test_tail_quantile_keeps_ten_samples_beyond():
    assert workloads.tail_q(30) == pytest.approx(2 / 3)
    assert workloads.tail_q(12) == 0.5
    assert workloads.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == 3.0
    assert workloads.quantile([1.0, 2.0], 0.75) == 1.75


def test_tree_cpu_counts_this_process():
    import time

    import cpuclock

    before = cpuclock.tree_cpu_s()
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    assert cpuclock.tree_cpu_s() - before >= 0.1
    assert cpuclock.host_steal_s() >= 0
    assert 0 < cpuclock.ref_s() < 1


@pytest.fixture(scope="module")
def spark():
    import run

    run.configure(2)
    s = run.start_spark(2)
    yield s
    run.stop_spark(s)


def test_layer_counters_nonzero_with_ui_off(spark):
    from tracing import Tracer, storage_state

    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    tr = Tracer(spark.sparkContext)
    tr.op = 0
    with tr.span("probe"):
        df = spark.range(20_000).selectExpr("id % 13 AS k", "id")
        df.groupBy("k").count().collect()
    tr.attach_spark(tr.op_spans(0))
    (rec,) = tr.spans
    for key in ("jobs", "stages", "tasks", "run_ms", "cpu_ms",
                "shuffle_read", "shuffle_write"):
        assert rec[key] > 0, key
    cached = spark.range(100).cache()
    cached.count()
    persisted, nbytes = storage_state(spark.sparkContext)
    assert persisted >= 1 and nbytes > 0
    cached.unpersist()


def test_nested_spans_attribute_jobs_to_innermost(spark):
    from tracing import Tracer, self_time

    tr = Tracer(spark.sparkContext)
    tr.op = 1
    with tr.span("outer"):
        spark.range(10).count()
        with tr.span("inner"):
            spark.range(10).count()
            spark.range(10).count()
    tr.attach_spark(tr.op_spans(1))
    inner, outer = tr.spans
    assert (inner["name"], outer["name"]) == ("inner", "outer")
    assert inner["parent"] == outer["id"]
    assert inner["jobs"] == 2 * outer["jobs"] > 0
    assert 0 <= self_time(outer, tr.spans) < outer["end"] - outer["start"]


def test_benchmark_json_lists_every_reported_metric():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: run.END_TO_END[k] for k in run.GATED}
    empty = SimpleNamespace(tracer=SimpleNamespace(spans=[]), ops=[],
                            notes={}, llm={}, setup_parts={})
    names = list(workloads.layer_metrics(empty))
    assert [m["name"] for m in bench["per_layer"]] == names
    assert all(m["unit"] == workloads.layer_unit(m["name"])
               for m in bench["per_layer"])
