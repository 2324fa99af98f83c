"""Plan executor: staged evaluation correctness + lineage + cascades."""

from pyspark.sql import functions as F

from semantic_olap_spark.plans.executor import PlanExecutor, run_filter
from semantic_olap_spark.sources.loaders import with_olap_id
from tests.conftest import assert_matches


def _ops():
    return [
        {"id": 1, "operator_name": "keyword_filter",
         "parameters": {"columns": ["text"], "keywords": ["spark"], "logic": "or"}},
        {"id": 2, "operator_name": "num_filter",
         "parameters": {"conditions": [
             {"column": "n_chars", "threshold": 200, "operator": ">"}]}},
        {"id": 3, "operator_name": "sem_filter",
         "parameters": {"columns": ["text"], "condition": "mentions window"}},
    ]


def test_run_filter_and_tree(tables, duck):
    out = run_filter(tables["documents"], _ops(), ["AND", 1, 2, 3])
    assert_matches(
        out,
        duck,
        """
        SELECT * FROM documents
        WHERE contains(lower(text), 'spark') AND n_chars > 200
          AND contains(lower(text), 'window')
        """,
    )


def test_run_filter_mixed_tree(tables, duck):
    out = run_filter(tables["documents"], _ops(), ["AND", 1, ["OR", 2, 3]])
    assert_matches(
        out,
        duck,
        """
        SELECT * FROM documents
        WHERE contains(lower(text), 'spark')
          AND (n_chars > 200 OR contains(lower(text), 'window'))
        """,
    )


def test_run_filter_or_of_expensive(tables, duck):
    ops = _ops() + [
        {"id": 4, "operator_name": "sem_filter",
         "parameters": {"columns": ["text"], "condition": "mentions vector"}},
    ]
    out = run_filter(tables["documents"], ops, ["OR", ["AND", 1, 2], 3, 4])
    assert_matches(
        out,
        duck,
        """
        SELECT * FROM documents
        WHERE (contains(lower(text), 'spark') AND n_chars > 200)
           OR contains(lower(text), 'window')
           OR contains(lower(text), 'vector')
        """,
    )


def test_run_filter_default_logic_is_and(tables, duck):
    out = run_filter(tables["documents"], _ops()[:2])
    assert_matches(
        out,
        duck,
        "SELECT * FROM documents WHERE contains(lower(text), 'spark') AND n_chars > 200",
    )


def test_executor_pipeline_with_topk(tables, duck):
    ex = PlanExecutor()
    out = ex.execute(
        tables["orders"],
        [
            {"operator_name": "keyword_filter",
             "parameters": {"columns": ["o_orderstatus"], "keywords": ["f"],
                            "logic": "or", "relation": "equal"}},
            {"operator_name": "num_topk",
             "parameters": {"column": "o_totalprice", "k": 5, "order": "desc",
                            "tiebreak": ["o_orderkey"]}},
        ],
    )
    assert_matches(
        out,
        duck,
        """
        SELECT * FROM orders WHERE lower(o_orderstatus) = 'f'
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 5
        """,
    )
    assert [s["operator_name"] for s in ex.lineage] == ["keyword_filter", "num_topk"]


def test_executor_filter_group_step(tables, duck):
    ex = PlanExecutor()
    out = ex.execute(
        tables["documents"],
        [{"operator_name": "filter_group", "operations": _ops(),
          "logic": ["AND", 1, ["OR", 2, 3]]}],
    )
    assert_matches(
        out,
        duck,
        """
        SELECT * FROM documents
        WHERE contains(lower(text), 'spark')
          AND (n_chars > 200 OR contains(lower(text), 'window'))
        """,
    )


def test_executor_accepts_golden_plan_params_spelling(tables, duck):
    # reference golden plans (datas/evaluate_datas.json) use the key
    # "params" and "operator"; lineage uses "parameters"/"operator_name"
    ex = PlanExecutor()
    out = ex.execute(
        tables["documents"],
        [
            {"operator": "keyword_filter",
             "params": {"columns": ["text"], "keywords": ["spark"]}},
            {"operator": "num_filter",
             "params": {"conditions": [
                 {"column": "n_chars", "threshold": 200, "operator": ">"}]}},
        ],
    )
    assert_matches(
        out,
        duck,
        "SELECT * FROM documents WHERE contains(lower(text), 'spark') AND n_chars > 200",
    )


def test_run_filter_golden_params_spelling(tables, duck):
    ops = [
        {"id": 1, "operator": "keyword_filter",
         "params": {"columns": ["text"], "keywords": ["spark"]}},
        {"id": 2, "operator": "sem_filter",
         "params": {"columns": ["text"], "condition": "mentions window"}},
    ]
    out = run_filter(tables["documents"], ops, ["AND", 1, 2])
    assert_matches(
        out,
        duck,
        """
        SELECT * FROM documents
        WHERE contains(lower(text), 'spark') AND contains(lower(text), 'window')
        """,
    )


def test_slice_cascade_subset_property(tables):
    """keyword-prefilter ∧ sem_filter ⊆ sem_filter (SURVEY.md §5 item 4)."""
    from semantic_olap_spark.operators.deterministic import keyword_filter
    from semantic_olap_spark.operators.semantic import sem_filter

    full = sem_filter(tables["documents"], ["text"], "about spark")
    cascaded = sem_filter(
        keyword_filter(tables["documents"], ["text"], ["spark"], "or"),
        ["text"],
        "about spark",
    )
    full_ids = {r["doc_id"] for r in full.select("doc_id").collect()}
    casc_ids = {r["doc_id"] for r in cascaded.select("doc_id").collect()}
    assert casc_ids <= full_ids


def test_run_filter_mixed_negated_and_positive_llm_leaves(tables, duck):
    # staged Kleene evaluation with a negated LLM leaf AND a positive
    # one: the negation must survive the stage-by-stage split/union
    ops = [
        {"id": 1, "operator_name": "num_filter",
         "parameters": {"conditions": [
             {"column": "n_chars", "threshold": 150, "operator": ">"}]}},
        {"id": 2, "operator_name": "sem_filter",
         "parameters": {"columns": ["text"], "condition": "rows about spark",
                        "retain_if": False}},
        {"id": 3, "operator_name": "sem_filter",
         "parameters": {"columns": ["text"], "condition": "mentions window"}},
    ]
    out = run_filter(tables["documents"], ops, ["AND", 1, ["OR", 2, 3]])
    assert_matches(
        out, duck,
        """
        SELECT * FROM documents
        WHERE n_chars > 150
          AND (NOT contains(lower(text), 'spark')
               OR contains(lower(text), 'window'))
        """,
    )


def test_run_filter_builds_profiled_leaf_once(tables, duck):
    # no LLM leaf: only the num_filter leaf is recompiled raw; the
    # filter_enum leaf keeps its built Column, so its preview prompt
    # goes to the LLM once
    from semantic_olap_spark.llm import prompts as P
    from semantic_olap_spark.llm.client import StubLLM

    tasks: list[str] = []

    class PromptLog(StubLLM):
        def predict(self, prompt):
            tasks.append(P.task_of(prompt))
            return super().predict(prompt)

    ops = [
        {"id": 1, "operator_name": "filter_enum",
         "parameters": {"column": "o_orderpriority",
                        "condition": "urgent priority rows"}},
        {"id": 2, "operator_name": "num_filter",
         "parameters": {"conditions": [
             {"column": "o_totalprice", "threshold": 100000,
              "operator": ">"}]}},
    ]
    out = run_filter(tables["orders"], ops, ["AND", 1, 2], PromptLog)
    assert tasks.count("filter_enum") == 1
    assert_matches(
        out, duck,
        "SELECT * FROM orders "
        "WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 100000",
    )
