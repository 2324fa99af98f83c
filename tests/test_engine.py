"""Full NL-query lifecycle (SURVEY.md §3.1) under the stub LLM."""

from pyspark.sql import functions as F

from semantic_olap_spark.engine import OlapEngine
from tests.conftest import assert_matches, job_count


def _engine(tables):
    return OlapEngine(tables["documents"], order_by=["doc_id"])


def test_filter_only_query(tables, duck):
    eng = _engine(tables)
    out = eng.run("mentions spark in text").drop("OLAP_ID")
    assert_matches(
        out,
        duck,
        """
        SELECT * FROM documents
        WHERE (contains(lower(text), 'mentions')
               OR contains(lower(text), 'spark')
               OR contains(lower(text), 'text'))
        """,
    )


def test_dice_routing_for_numeric_clause(tables, duck):
    eng = _engine(tables)
    out = eng.run("n_chars > 200 and mentions spark in text").drop("OLAP_ID")
    assert_matches(
        out,
        duck,
        """
        SELECT * FROM documents
        WHERE coalesce(try_cast(n_chars AS DOUBLE) > 200, false)
          AND (contains(lower(text), 'mentions')
               OR contains(lower(text), 'spark')
               OR contains(lower(text), 'text'))
        """,
    )


def test_equal_query_reuses_node(tables):
    eng = _engine(tables)
    eng.run("mentions spark in text")
    n_nodes = len(eng.memory.nodes)
    eng.run("mentions spark in text")  # Equal → no new node
    assert len(eng.memory.nodes) == n_nodes


def test_subset_refinement_builds_on_parent(tables):
    # with a classifier that recognizes prefix containment, the
    # refined query should filter the PARENT node's data, not root
    def classify(new_q, node_q):
        if node_q == "All Data":
            return "Subset"
        return "Subset" if new_q.lower().startswith(node_q.lower()) else "No_relation"

    eng = OlapEngine(tables["documents"], classify=classify,
                     order_by=["doc_id"])
    first = eng.run("mentions spark in text")
    second = eng.run("mentions spark in text and n_chars > 200")
    node_ids = sorted(eng.memory.nodes)
    assert len(node_ids) == 3  # root + two query nodes
    last = eng.memory.nodes[node_ids[-1]]
    assert node_ids[-2] in last.parents  # chained, not re-rooted
    assert second.count() <= first.count()


def test_analysis_rollup_with_count(tables, duck):
    eng = _engine(tables)
    out = eng.run("mentions spark then group lang into lang_family and count")
    assert {"lang_family", "count_of_lang_family"} <= set(out.columns)
    got = {
        r["lang_family"]: r["count_of_lang_family"] for r in out.collect()
    }
    want = dict(
        duck.execute(
            """
            SELECT CASE WHEN contains(lower(lang), 'lang') THEN 'lang'
                        ELSE 'other' END AS fam, count(*)
            FROM documents
            WHERE contains(lower(text), 'mentions')
               OR contains(lower(text), 'spark')
            GROUP BY fam
            """
        ).fetchall()
    )
    # stub taxonomy induction yields ['other'] (no vocabulary in the
    # instruction) → every row lands in 'other'
    assert sum(got.values()) == sum(want.values())


def test_analysis_drilldown_creates_dimension(tables):
    eng = _engine(tables)
    out = eng.run("mentions spark then extract the topic")
    assert "topic" in out.columns
    node = eng.memory.nodes[max(eng.memory.nodes)]
    assert "topic" in node.col_views


def test_llm_relation_classifier_stub_semantics():
    from semantic_olap_spark.plans.memory import llm_relation_classifier

    c = llm_relation_classifier()
    assert c("mentions spark in text", "text mentions spark") == "Equal"
    assert c("mentions spark and n_chars > 200", "mentions spark") == "Subset"
    assert c("mentions spark", "mentions spark and n_chars > 200") == "Contain"
    assert c("mentions spark or stream", "stream or window") == "Intersect"
    assert c("mentions spark", "orders from france") == "No_relation"


def test_llm_relation_classifier_conservative_on_or_and_negation():
    # OR broadens and negation inverts — a token-superset heuristic
    # would misclassify both, silently dropping/returning wrong rows;
    # the stub must claim nothing (no_relation = correct re-filter)
    from semantic_olap_spark.plans.memory import llm_relation_classifier

    c = llm_relation_classifier()
    assert c("mentions spark or streaming", "mentions spark") == "No_relation"
    assert c("rows that do not mention spark", "mention spark") == "No_relation"
    assert c("mentions spark without errors", "mentions spark") == "No_relation"


def test_default_classifier_enables_subset_chaining(tables):
    # no explicit classify: the LLM classifier should still chain the
    # refined query onto its parent node
    eng = _engine(tables)
    eng.run("mentions spark in text")
    eng.run("mentions spark in text and n_chars > 200")
    node_ids = sorted(eng.memory.nodes)
    assert len(node_ids) == 3
    assert node_ids[-2] in eng.memory.nodes[node_ids[-1]].parents


def test_decompose_garbage_backend_falls_back_to_filter(tables):
    # an unparseable decompose answer must NOT become an empty filter
    # (that would silently return every row)
    from semantic_olap_spark.llm.client import StubLLM

    class GarbageDecompose(StubLLM):
        def predict(self, prompt):
            if prompt.startswith("### task: decompose_query"):
                return "Sorry, I cannot help with that."
            return super().predict(prompt)

    eng = OlapEngine(
        tables["documents"], llm_factory=GarbageDecompose,
        order_by=["doc_id"],
    )
    out = eng.run("mentions spark in text")
    assert out.count() < tables["documents"].count()


def test_describe_cube_catalog(tables):
    eng = _engine(tables)
    eng.run("mentions spark then group lang into lang_family and count")
    desc = eng.describe_cube()
    assert desc["root_id"] == min(n["id"] for n in desc["nodes"])
    node = max(desc["nodes"], key=lambda n: n["id"])
    assert node["query"] == "mentions spark"
    assert "lang_family" in node["dimensions"].get("lang", [])


def test_plan_only_replays_to_same_result(tables):
    from semantic_olap_spark.plans.executor import run_filter

    # plan without executing, then replay the emitted plan — must
    # equal a fresh engine's run() of the same query
    planner = _engine(tables)
    plan = planner.plan_only("n_chars > 200 and mentions spark in text")
    assert plan["operations"] and plan["logic"] is not None
    names = {
        op.get("operator_name") or op.get("operator")
        for op in plan["operations"]
    }
    assert names & {"num_filter", "filter_pattern"}  # dice routed
    assert len(planner.memory.nodes) == 1  # nothing memoized
    replayed = run_filter(
        planner.memory.nodes[planner.memory.root_id].df,
        plan["operations"],
        plan["logic"],
        planner.llm_factory,
    )
    runner = _engine(tables)
    ran = runner.run("n_chars > 200 and mentions spark in text")
    a = {r["doc_id"] for r in replayed.select("doc_id").collect()}
    b = {r["doc_id"] for r in ran.select("doc_id").collect()}
    assert a == b and a
    # Equal-node probe still short-circuits planning
    runner2_plan = runner.plan_only("n_chars > 200 and mentions spark in text")
    assert runner2_plan["reused_node"] is not None
    assert runner2_plan["operations"] == []


def test_topk_after_analysis(tables):
    eng = _engine(tables)
    out = eng.run(
        "mentions spark then group lang into lang_family and count "
        "and show the top 1 lang_family"
    )
    # topk intent: field lang_family matched, but not numeric-hinted →
    # num check: labels aren't numeric → falls back through dispatch;
    # result must be a single row
    assert out.count() == 1


def test_from_star_denormalizes_and_runs(tables, duck):
    eng = OlapEngine.from_star(
        tables["orders"],
        [(tables["customer"], "o_custkey", "c_custkey")],
        order_by=["o_orderkey"],
    )
    out = eng.run("mentions BUILDING in c_mktsegment").drop("OLAP_ID")
    assert_matches(
        out,
        duck,
        """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority,
               c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE contains(lower(c_mktsegment), 'mentions')
           OR contains(lower(c_mktsegment), 'building')
        """,
    )


def test_from_star_collision_refused(tables):
    import pytest

    dup = tables["orders"].withColumnRenamed("o_orderdate", "shared")
    dim = tables["customer"].withColumnRenamed("c_name", "shared")
    with pytest.raises(ValueError, match="collision"):
        OlapEngine.from_star(dup, [(dim, "o_custkey", "c_custkey")])


def test_engines_over_one_frame_share_its_ranking_not_its_caches(
    spark, tables
):
    from semantic_olap_spark.llm.client import StubLLM, wrap_cost_tracking

    factory, stats = wrap_cost_tracking(spark, StubLLM)

    def engine():
        return OlapEngine(tables["documents"], llm_factory=factory,
                          order_by=["doc_id"])

    first = engine()
    # the frame is ranked once: a second engine's constructor runs no job
    second, jobs = job_count(spark, engine)
    assert jobs == 0
    # ...but reads no node cache of the first: the same query costs the
    # same LLM calls on both
    q = "n_chars > 200 and mentions spark in text"
    rows, spent = [], []
    for eng in (first, second):
        before = stats.backend_calls
        rows.append(sorted(map(tuple, eng.run(q).collect())))
        spent.append(stats.backend_calls - before)
    assert rows[0] == rows[1]
    assert len(rows[0]) > 0
    assert spent[0] > 0
    assert spent[1] == spent[0]


def test_materialized_slice_fills_its_node_in_one_job(spark, tables):
    from semantic_olap_spark.llm.client import StubLLM, wrap_cost_tracking

    factory, stats = wrap_cost_tracking(spark, StubLLM)
    eng = OlapEngine(tables["documents"], llm_factory=factory,
                     order_by=["doc_id"])
    eng.memory.nodes[eng.memory.root_id].df.count()  # warm the root cache
    out, jobs = job_count(spark, lambda: eng.run("mentions join in text"))
    assert jobs == 1
    spent = stats.backend_calls
    assert spent > 0  # the slice really judged rows with the LLM
    # the node cache is full: reading it calls no LLM again
    assert len(out.collect()) > 0
    assert stats.backend_calls == spent


def _persisted_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_closed_engines_leave_no_persists_behind(spark, tables):
    """close() releases every node cache and analysis result an engine
    filled, so N sessions over one frame hold what the first held (the
    shared root); a frame run() returned stays readable afterwards."""
    from semantic_olap_spark.caching import release_caches

    release_caches()
    base = _persisted_ids(spark)
    # no top-k clause: sem_topk's dense-rank localCheckpoint belongs
    # to the returned frame's lineage, not to the engine, and stays
    # until the JVM collects that lineage
    analysis = "mentions spark then group lang into lang_family and count"
    after = []
    for _ in range(3):
        with OlapEngine(tables["documents"], order_by=["doc_id"]) as eng:
            eng.run("mentions spark in text")
            out = eng.run(analysis)
            rows = sorted(map(tuple, out.collect()))
            held = _persisted_ids(spark) - base
        after.append(_persisted_ids(spark) - base)
        assert len(held) > len(after[-1])  # close() released something
    assert [len(a) for a in after] == [len(after[0])] * len(after)
    assert rows and sorted(map(tuple, out.collect())) == rows


def test_traced_layers_reach_the_engine_call_sites(spark, tables):
    """The layer tracer patches the planner and roll-up calls in the
    engine module's namespace: a query with a filter and an analysis
    must record every engine-level span, so a refactor that moves a
    traced call elsewhere fails here instead of reporting zeros."""
    from perfbench.tracing import Tracer

    eng = _engine(tables)
    tracer = Tracer(spark.sparkContext)
    with tracer.installed():
        eng.run(
            "n_chars > 200 then group lang into lang_family and count "
            "and show the top 1 lang_family"
        ).collect()
    names = {s["name"] for s in tracer.spans}
    assert {
        "engine.decompose", "engine.plan_filter", "plans.memory.probe",
        "plans.planner.inject", "plans.executor.run_filter",
        "plans.planner.understand_topk", "plans.planner.topk_dispatch",
    } <= names
