"""Tracked-cache lifecycle (r6 VERDICT watch item → r7 hook).

Operator-internal persists (funnel stages, staged-executor undecided
sets, rerank size-guard slices, dedup signature/token frames) feed
LAZY results, so operators cannot unpersist them — before r7 they
simply leaked until LRU eviction.  These tests pin the new contract:
every such persist is tracked, and ``release_caches`` /
``cache_scope`` leave no NEW storage blocks behind once the caller
has materialized.

The assertions compare persistent-RDD *id sets*, not counts: under
the full suite Spark's ContextCleaner asynchronously unpersists RDDs
whose Python references other tests dropped, so a global count can
shrink between a baseline read and the assertion (observed flake).
Ids created after the baseline are immune to that.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from semantic_olap_spark.caching import (
    cache_scope,
    release_caches,
    tracked_persist,
)


def _persisted_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _new_ids(spark, base: set[int]) -> set[int]:
    return _persisted_ids(spark) - base


def test_funnel_blocks_released_after_scope(spark, tables):
    from semantic_olap_spark.functions.analytics import funnel

    release_caches()
    base = _persisted_ids(spark)
    for _ in range(3):
        with cache_scope():
            out = funnel(
                tables["events"], ["view", "click", "purchase"]
            )
            assert out.count() == 3  # materialize INSIDE the scope
            assert _new_ids(spark, base)
        assert not _new_ids(spark, base)


def test_staged_executor_blocks_released(spark, tables):
    # two LLM leaves force the staged path's tracked persist of the
    # undecided frame (plans/executor.py)
    from semantic_olap_spark.plans.executor import run_filter

    release_caches()
    base = _persisted_ids(spark)
    ops = [
        {"id": 1, "operator_name": "sem_filter",
         "parameters": {"columns": ["text"], "condition": "about spark"}},
        {"id": 2, "operator_name": "sem_filter",
         "parameters": {"columns": ["text"],
                        "condition": "mentions join"}},
    ]
    for _ in range(2):
        with cache_scope():
            out = run_filter(tables["documents"], ops, ["AND", 1, 2])
            out.count()
        assert not _new_ids(spark, base)


def test_release_caches_global(spark):
    release_caches()
    base = _persisted_ids(spark)
    df = tracked_persist(spark.range(100).withColumn("x", F.lit(1)))
    df.count()
    assert len(_new_ids(spark, base)) == 1
    assert release_caches() == 1
    assert not _new_ids(spark, base)


def test_cache_scope_nesting_releases_only_inner(spark):
    release_caches()
    base = _persisted_ids(spark)
    outer = tracked_persist(spark.range(10))
    outer.count()
    with cache_scope():
        inner = tracked_persist(spark.range(20))
        inner.count()
        assert len(_new_ids(spark, base)) == 2
    # inner gone, outer (tracked BEFORE the scope) untouched
    assert len(_new_ids(spark, base)) == 1
    assert release_caches() == 1
    assert not _new_ids(spark, base)


def test_released_result_still_correct(spark, tables):
    """Correct-at-any-time: releasing before materialization only
    costs recompute — the result is identical."""
    from semantic_olap_spark.functions.analytics import funnel

    steps = ["view", "click", "purchase"]
    expected = [tuple(r) for r in funnel(tables["events"], steps).collect()]
    release_caches()
    out = funnel(tables["events"], steps)
    release_caches()  # drop storage BEFORE materializing
    assert [tuple(r) for r in out.collect()] == expected


def test_engine_run_releases_staged_persists(spark, tables, monkeypatch):
    """engine.run releases its operator-internal persists without the
    caller knowing the hook exists (r7 VERDICT ask #3).

    The two-sem-leaf query routes through the staged executor's
    tracked persist (counted below, so the query provably reaches
    it); after run() nothing of it is left to release."""
    import semantic_olap_spark.caching as caching
    from semantic_olap_spark.engine import OlapEngine

    staged = []

    def counting(df, level=None):
        staged.append(df)
        return tracked_persist(df, level)

    monkeypatch.setattr(caching, "tracked_persist", counting)
    q = "mentions spark in text and mentions join in text"

    release_caches()
    eng = OlapEngine(tables["documents"], order_by=["doc_id"])
    out = eng.run(q)
    assert staged  # the query reached the staged persist
    assert release_caches() == 0  # run() already released them
    assert out.count() > 0


def test_engine_analysis_result_no_llm_recompute(spark, tables):
    """After run() returns, acting on the result must spend ZERO
    additional LLM calls — the analysis path's judge stages ran once
    inside the scope and the returned frame reads its own cache."""
    from semantic_olap_spark.engine import OlapEngine
    from semantic_olap_spark.llm.client import CountingLLM, StubLLM

    release_caches()
    acc = spark.sparkContext.accumulator(0)
    factory = lambda: CountingLLM(StubLLM(), acc)  # noqa: E731
    eng = OlapEngine(
        tables["documents"], llm_factory=factory, order_by=["doc_id"]
    )
    out = eng.run(
        "mentions spark then group lang into lang_family and count "
        "and show the top 1 lang_family"
    )
    # flush pending accumulator deltas with one action, then pin
    rows1 = out.collect()
    spent = acc.value
    assert spent > 0  # the query really routed through LLM stages
    rows2 = out.collect()
    rows3 = out.collect()
    assert acc.value == spent, (
        f"post-run actions recomputed LLM stages: {acc.value - spent} "
        "extra calls"
    )
    assert rows1 == rows2 == rows3
    # the materialized result is registered with the global release
    # hook — a months-long session can still free it
    assert release_caches() >= 1


def test_engine_session_holds_o_lattice_blocks(spark, tables):
    """A session of N queries accumulates at most one storage block
    per lattice node — operator internals never pile up."""
    from semantic_olap_spark.engine import OlapEngine

    release_caches()
    base = _persisted_ids(spark)
    eng = OlapEngine(tables["documents"], order_by=["doc_id"])
    for q in (
        "mentions spark in text and mentions join in text",
        "mentions scan in text",
        "n_chars > 200 and mentions spark in text",
    ):
        eng.run(q).count()  # caller materializes whenever it likes
    new = _new_ids(spark, base)
    # one block per lattice node, plus the root's dense_ranks
    # localCheckpoint (sources/loaders.py — a deliberate pin for the
    # source frame's lifetime: recomputing a repartitionByRange with a
    # fresh boundary seed would silently corrupt row ids)
    assert len(new) <= len(eng.memory.nodes) + 1
