"""Planner verbs: dice strategy selection, slice planning, flatten,
top-k dispatch, roll_up / drill_down orchestration (SURVEY.md §2.3)."""

import pandas as pd
from pyspark.sql import functions as F

from semantic_olap_spark.llm import prompts as P
from semantic_olap_spark.llm.client import StubLLM
from semantic_olap_spark.plans.memory import CubeMemory
from semantic_olap_spark.plans.planner import (
    compile_filter_op,
    dice_plan,
    flatten_plan,
    inject_sub_plans,
    is_column_numeric,
    profile_enumerable,
    profile_patternized,
    remove_super_keywords,
    run_nl_filter,
    slice_plan,
    topk_dispatch,
    understand_topk,
)
from semantic_olap_spark.plans.rollup import (
    drill_down,
    query_granularity_exist,
    roll_up,
    understand_self_reduce,
)
from semantic_olap_spark.sources.loaders import with_olap_id
from tests.conftest import assert_matches, job_count


# ---- profiling ---------------------------------------------------------


def test_profile_patternized_true_on_props(tables):
    # events.props = {"k": 69} — one digit-masked template
    assert profile_patternized(tables["events"], "props")


def test_profile_patternized_false_on_text(tables):
    assert not profile_patternized(tables["documents"], "text")


def test_profile_enumerable_true_on_priority(tables):
    # 5 distinct short values with full coverage
    assert profile_enumerable(tables["orders"], "o_orderpriority")


def test_profile_enumerable_false_on_text(tables):
    assert not profile_enumerable(tables["documents"], "text")


def test_is_column_numeric(tables, spark):
    assert is_column_numeric(tables["orders"], "o_totalprice")
    assert not is_column_numeric(tables["orders"], "o_orderpriority")
    df = spark.createDataFrame([("1",), ("2.5",), (None,)], ["v"])
    assert is_column_numeric(df, "v")


def test_is_column_numeric_answers_numeric_types_from_schema(spark):
    from decimal import Decimal

    df = spark.createDataFrame(
        [(float("nan"), Decimal("1.50"), True, "3.5"),
         (float("inf"), Decimal("-2.00"), False, "-1e3"),
         (float("-inf"), None, None, None)],
        "d DOUBLE, m DECIMAL(10,2), b BOOLEAN, s STRING",
    )
    # NaN / ±Infinity and decimals parse back as numbers: no job needed
    for col in ("d", "m"):
        assert job_count(spark, lambda: is_column_numeric(df, col)) == (True, 0)
    # booleans and strings keep the scan
    is_bool, jobs = job_count(spark, lambda: is_column_numeric(df, "b"))
    assert not is_bool and jobs >= 1
    is_str, jobs = job_count(spark, lambda: is_column_numeric(df, "s"))
    assert is_str and jobs >= 1


# ---- dice --------------------------------------------------------------


def test_dice_selects_pattern_for_props(tables):
    plan = dice_plan(tables["events"], "props", "value > 50")
    assert plan["optimize"]["strategy"] == "pattern_extraction"
    assert plan["field"] == "props"


def test_dice_selects_enumerable_for_priority(tables):
    # priority column: not patternized enough? it IS patternized
    # (5 templates < 5 is false: exactly 5 distinct masked) — profile
    # decides; the assertion pins the chain's actual outcome
    plan = dice_plan(tables["orders"], "o_orderpriority", "urgent priority rows")
    assert plan["optimize"]["strategy"] in ("pattern_extraction", "enumerable")


def test_dice_pattern_for_numeric_column(tables):
    # floats digit-mask to the single template "<*>.<*>" → fewer than
    # 5 templates → is_highly_patternized true (same in the reference)
    plan = dice_plan(tables["orders"], "o_totalprice", "o_totalprice > 100000")
    assert plan["optimize"]["strategy"] == "pattern_extraction"


def test_dice_compare_for_text_contains(tables):
    # free text: not patternized, not enumerable; condition says
    # "contains" → simple-filter YES → compare_str_or_num
    plan = dice_plan(tables["documents"], "text", "text contains spark")
    assert plan["optimize"]["strategy"] == "compare_str_or_num"


def test_dice_fallback_none_for_vague_condition(tables):
    plan = dice_plan(tables["documents"], "text", "posts complaining politely")
    assert plan["optimize"]["strategy"] == "None"


def test_compile_compare_strategy_end_to_end(tables, duck):
    plan = {
        "type": "dice",
        "optimize": {"strategy": "compare_str_or_num"},
        "field": "o_totalprice",
        "query": "o_totalprice > 400000",
    }
    sub = compile_filter_op(plan)
    assert sub["operations"][0]["operator_name"] == "num_filter"
    from semantic_olap_spark.plans.executor import run_filter

    out = run_filter(tables["orders"], sub["operations"], sub["logic"])
    assert_matches(
        out,
        duck,
        "SELECT * FROM orders "
        "WHERE coalesce(try_cast(o_totalprice AS DOUBLE) > 400000, false)",
    )


def test_compile_compare_strategy_list_answer_falls_back(tables):
    # a direct-filter answer shaped as a list (not the {"operations":
    # ...} dict asked for) must fall back to the LLM row filter
    class ListLLM:
        def predict(self, prompt):
            return '[{"operator_name": "num_filter"}]'

    plan = {
        "type": "dice",
        "optimize": {"strategy": "compare_str_or_num"},
        "field": "o_totalprice",
        "query": "o_totalprice > 400000",
    }
    sub = compile_filter_op(plan, llm_factory=ListLLM)
    assert sub["operations"] == [
        {"id": 1, "operator_name": "sem_filter",
         "parameters": {"columns": ["o_totalprice"],
                        "condition": "o_totalprice > 400000"}}
    ]


def test_dice_pattern_end_to_end_on_props(tables, duck):
    plan = dice_plan(tables["events"], "props", "value > 50")
    sub = compile_filter_op(plan)
    assert sub["operations"][0]["operator_name"] == "filter_pattern"
    from semantic_olap_spark.plans.executor import run_filter

    out = run_filter(tables["events"], sub["operations"], sub["logic"])
    assert_matches(
        out,
        duck,
        r"""
        SELECT * FROM events
        WHERE coalesce(
            try_cast(regexp_extract(props, '(\d+)', 1) AS DOUBLE) > 50, false)
        """,
    )


# ---- slice -------------------------------------------------------------


def test_remove_super_keywords():
    assert remove_super_keywords(
        ["spark", "sparksql", "sql", "stream"]
    ) == ["sql", "spark", "stream"]


def test_slice_plan_and_cascade(tables, duck):
    plan = slice_plan(tables["documents"], "mentions spark in text")
    assert plan["type"] == "slice"
    assert "spark" in plan["optimize"]["initial_filter"]
    assert plan["optimize"]["filtered_fields"] == ["text"]  # pruned by name
    sub = compile_filter_op(plan)
    names = [o["operator_name"] for o in sub["operations"]]
    assert names == ["keyword_filter", "sem_filter"]
    from semantic_olap_spark.plans.executor import run_filter

    out = run_filter(tables["documents"], sub["operations"], sub["logic"])
    # stub sem_filter: any condition token present; keyword prefilter
    # is the same token set → equivalent to the OR of tokens
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


# ---- flatten + nl pipeline --------------------------------------------


def test_flatten_plan_inlines_and_renumbers():
    plan = {
        "operations": [
            {"id": 1, "sub_plan": {
                "operations": [
                    {"id": 1, "type": "keyword_filter",
                     "params": {"keywords": ["a"], "columns": ["text"]}},
                    {"id": 2, "type": "sem_filter",
                     "params": {"columns": ["text"], "condition": "x"}},
                ],
                "logic": ["AND", 1, 2],
            }},
            {"id": 2, "operator_name": "num_filter",
             "parameters": {"conditions": []}},
        ],
        "logic": ["OR", 1, 2],
    }
    flat = flatten_plan(plan)
    ids = [o["id"] for o in flat["operations"]]
    assert ids == [1, 2, 3]
    assert flat["logic"] == ["OR", ["AND", 1, 2], 3]
    assert flat["operations"][2]["operator_name"] == "num_filter"


def test_run_nl_filter_end_to_end(tables, duck):
    out = run_nl_filter(
        tables["documents"],
        [
            {"id": 1, "agent": "slice", "instruction": "mentions spark in text"},
            {"id": 2, "agent": "dice", "field": "n_chars",
             "instruction": "n_chars > 200"},
        ],
        ["AND", 1, 2],
    )
    assert_matches(
        out,
        duck,
        """
        SELECT * FROM documents
        WHERE (contains(lower(text), 'mentions')
               OR contains(lower(text), 'spark')
               OR contains(lower(text), 'text'))
          AND coalesce(try_cast(n_chars AS DOUBLE) > 200, false)
        """,
    )


class _PromptLog(StubLLM):
    """StubLLM that records every driver-side prompt."""

    def __init__(self, log):
        self.log = log

    def predict(self, prompt):
        self.log.append(prompt)
        return super().predict(prompt)


def _dice_then_filter(spark, df, field, condition):
    """dice → inject_sub_plans → flatten_plan → run_filter, counted."""
    from semantic_olap_spark.plans.executor import run_filter

    log: list[str] = []
    factory = lambda: _PromptLog(log)  # noqa: E731
    plan = {"operations": [{"id": 1, "agent": "dice", "field": field,
                            "instruction": condition}], "logic": [1]}
    flat, plan_jobs = job_count(
        spark, lambda: flatten_plan(inject_sub_plans(plan, df, factory))
    )
    out, filter_jobs = job_count(
        spark, lambda: run_filter(df, flat["operations"], flat["logic"], factory)
    )
    return flat, out, plan_jobs, filter_jobs, [P.task_of(p) for p in log]


def test_dice_pattern_profiles_once_per_query(spark, tables):
    # a fresh frame object: nothing memoized for it yet
    df = tables["documents"].select("doc_id", "n_chars")
    flat, out, plan_jobs, filter_jobs, tasks = _dice_then_filter(
        spark, df, "n_chars", "n_chars > 200"
    )
    assert flat["operations"][0]["operator_name"] == "filter_pattern"
    # the dice veto aggregated the templates; building the physical
    # filter reuses that profile: no job, one pattern prompt per template
    assert plan_jobs >= 1 and filter_jobs == 0
    assert tasks.count("filter_pattern") == 1  # n_chars has one template
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in df.filter(F.col("n_chars") > 200).collect()
    )


def test_dice_enumerable_profiles_once_per_query(spark, tables):
    df = tables["orders"].select("o_orderkey", "o_orderpriority")
    flat, out, plan_jobs, filter_jobs, tasks = _dice_then_filter(
        spark, df, "o_orderpriority", "urgent priority rows"
    )
    assert flat["operations"][0]["operator_name"] == "filter_enum_llm"
    assert plan_jobs >= 1 and filter_jobs == 0
    assert tasks.count("filter_enum") == 1
    assert sorted(r["o_orderkey"] for r in out.collect()) == sorted(
        r["o_orderkey"]
        for r in df.filter(F.col("o_orderpriority") == "1-URGENT").collect()
    )


# ---- top-k dispatch ----------------------------------------------------


def test_understand_topk_and_dispatch_num(tables, duck):
    params = understand_topk(
        "top 5 orders by o_totalprice", tables["orders"].columns
    )
    assert params["topk_type"] == "num"
    out = topk_dispatch(tables["orders"], params)
    got = [r["o_totalprice"] for r in out.collect()]
    want = [
        r[0] for r in duck.execute(
            "SELECT o_totalprice FROM orders ORDER BY o_totalprice DESC LIMIT 5"
        ).fetchall()
    ]
    assert got == want


def test_topk_dispatch_falls_back_to_sem_for_text(spark):
    df = with_olap_id(
        spark.createDataFrame(
            [("spark spark",), ("spark",), ("none",)], ["note"]
        ),
        order_by=["note"],
    )
    out = topk_dispatch(
        df,
        {"topk_type": "num", "sort_field": "note", "top_k": 2,
         "sort_order": "desc", "sort_basis": "most about spark"},
    )
    # note isn't numeric → tournament ran → wins column present
    assert "wins" in out.columns
    assert out.count() == 2


def test_topk_not_applicable_passthrough(tables):
    out = topk_dispatch(tables["orders"], {"topk_type": "not applicable"})
    assert out is tables["orders"]


def test_topk_partial_intent_passthrough(tables):
    # hallucinated/partial intents degrade to not-applicable
    for params in (
        {"topk_type": "num"},
        {"topk_type": "sem", "sort_field": "o_totalprice"},
        {"topk_type": "num", "sort_field": "nope", "top_k": 3},
        {"topk_type": "num", "sort_field": "o_totalprice", "top_k": "x"},
    ):
        assert topk_dispatch(tables["orders"], params) is tables["orders"]


def test_dice_op_with_null_field_degrades_to_slice(tables, duck):
    # the planner IR allows "field": null on a dice op; it must not
    # crash in F.col(None) — it degrades to the slice cascade
    out = run_nl_filter(
        tables["documents"],
        [{"id": 1, "agent": "dice", "field": None,
          "instruction": "mentions spark in text"}],
        [1],
    )
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


# ---- roll_up / drill_down ---------------------------------------------


def test_understand_self_reduce():
    assert understand_self_reduce("count the rows") == {"type": "count"}
    r = understand_self_reduce("take the avg of values")
    assert r["type"] == "num_reduce" and r["params"]["agg"] == "avg"


def test_query_granularity_exist_exact_and_none():
    assert query_granularity_exist(["topic", "area"], "topic") == "topic"
    assert query_granularity_exist(["topic"], "TOPIC") == "topic"  # stub ci
    assert query_granularity_exist(["topic"], "zone") is None


def test_roll_up_new_granularity_with_analyses(spark, tables):
    docs = with_olap_id(tables["documents"], order_by=["doc_id"])
    mem = CubeMemory(docs)
    msg, out = roll_up(
        mem, mem.root_id, "lang", "lang_family",
        [{"dimension": "self", "reduce_target": "count the rows"},
         {"dimension": "source", "reduce_target": "summarize sources"}],
    )
    assert "Created new granularity 'lang_family'" in msg
    cols = set(out.columns)
    assert {"lang_family", "count_of_lang_family", "source", "OLAP_ID"} <= cols
    # memoized: aggregate stored on the granularity view
    gv = mem.nodes[mem.root_id].col_views["lang"].get("lang_family")
    assert gv is not None and gv.view is not None
    assert any(s["operator_name"] == "sem_reduce" for s in gv.plan)


def test_roll_up_reuses_existing_granularity(spark, tables):
    docs = with_olap_id(tables["documents"], order_by=["doc_id"])
    mem = CubeMemory(docs)
    roll_up(mem, mem.root_id, "lang", "lang_family", [])
    before = set(mem.nodes[mem.root_id].col_views["lang"].names())
    msg, _ = roll_up(
        mem, mem.root_id, "lang", "lang_family",
        [{"dimension": "self", "reduce_target": "count rows"}],
    )
    assert "already exists" in msg or "directly" in msg
    # no duplicate granularity minted
    assert set(mem.nodes[mem.root_id].col_views["lang"].names()) == before


def test_roll_up_num_reduce_self(spark, tables, duck):
    ev = with_olap_id(tables["events"], order_by=["event_id"])
    mem = CubeMemory(ev)
    _, out = roll_up(
        mem, mem.root_id, "event_type", None,
        [{"dimension": "self", "reduce_target": "count how many"}],
    )
    got = {r["event_type"]: r["count_of_event_type"] for r in out.collect()}
    want = dict(duck.execute(
        "SELECT event_type, count(*) FROM events GROUP BY event_type"
    ).fetchall())
    assert got == want


def test_drill_down_absorbs_coarser(spark, tables):
    docs = with_olap_id(tables["documents"], order_by=["doc_id"])
    mem = CubeMemory(docs)
    node = mem.nodes[mem.root_id]
    # seed a coarser dimension with one granularity
    roll_up(mem, mem.root_id, "lang", "lang_family", [])
    msg, out = drill_down(
        mem, mem.root_id, "detail_topic",
        "dominant topic, one of: vector, stream, window",
        related_coarser_dimension="lang",
    )
    assert "merged into it" in msg
    assert "detail_topic" in node.df.columns
    dim = node.col_views["detail_topic"]
    assert "lang_family" in dim.names()  # absorbed
    assert "lang" not in node.col_views  # coarser removed


def test_plan_only_entry_point_replays_identically(spark, tables):
    # the plan-only contract (reference baselines): plan_nl_filter's
    # output replayed through run_filter equals run_nl_filter
    from semantic_olap_spark.plans.executor import run_filter
    from semantic_olap_spark.plans.planner import (
        plan_nl_filter,
        run_nl_filter,
    )

    docs = tables["documents"]
    ops = [
        {"id": 1, "agent": "slice", "instruction": "mentions spark in text"},
        {"id": 2, "agent": "dice", "field": "n_chars",
         "instruction": "n_chars > 200"},
    ]
    logic = ["AND", 1, 2]
    flat = plan_nl_filter(docs, ops, logic)
    # a real plan in the 10-operator language, nothing executed yet
    assert flat["operations"] and all(
        "operator_name" in op and "parameters" in op
        for op in flat["operations"]
    )
    replayed = run_filter(docs, flat["operations"], flat["logic"])
    direct = run_nl_filter(docs, ops, logic)
    assert sorted(r["doc_id"] for r in replayed.collect()) == sorted(
        r["doc_id"] for r in direct.collect()
    )


def test_topk_dispatch_sem_prescreen_passthrough(spark):
    # sem_prescreen_k reaches sem_topk: with a covering slice the
    # result equals the unprescreened tournament
    df = with_olap_id(
        spark.createDataFrame(
            [("spark spark spark",), ("spark spark",), ("spark",),
             ("join",), ("none",)],
            ["note"],
        ),
        order_by=["note"],
    )
    params = {"topk_type": "sem", "sort_field": "note", "top_k": 2,
              "sort_order": "desc", "sort_basis": "most about spark"}
    full = topk_dispatch(df, params)
    pre = topk_dispatch(df, params, sem_prescreen_k=5)
    # column order differs between the two modes (prescreen reorders
    # the projection); the contract is row values
    a = sorted((r.asDict() for r in full.collect()),
               key=lambda d: d["OLAP_ID"])
    b = sorted((r.asDict() for r in pre.collect()),
               key=lambda d: d["OLAP_ID"])
    assert a == b
