"""Planner-level OLAP verbs: dice, slice, plan compilation, top-k.

Implements SURVEY.md §2.3 — the layer that *constructs* physical
filter plans which ``plans/executor.py`` already runs:

- **dice** (reference Agents/Dice_Agent.py:140-222): the LLM proposes
  candidate strategies for a single-field filter; *data statistics
  veto them* (``profile_patternized`` ← ``is_highly_patternized``,
  Dice_Agent.py:68-77; ``profile_enumerable`` ← ``is_enumerable``,
  Dice_Agent.py:79-105), priority pattern > enum > compare > LLM
  fallback (strategy_check, Dice_Agent.py:163-197).
- **slice** (Agents/Slice_Agent.py:38-108): LLM keyword expansion +
  superstring dedup (``Slice_Agent.py:30-36``) + candidate-field
  pruning, emitted as the keyword_filter ∧ sem_filter cascade
  (Exection_Agent.py:246-257).
- **plan compilation** (Exection_Agent.py:245-299): per-verb plans →
  physical sub-plans → ``flatten_plan`` (inline + renumber,
  Exection_Agent.py:82-102) → the staged executor.
- **top-k dispatch** (OLAP_Agent.py:437-476): LLM detects top-k
  intent; a numeric-column check (``is_column_numeric``,
  OLAP_Agent.py:473-476) falls back to sem_topk when the column
  isn't numeric.

Profiling is Spark-native and runs once per query: one profile per
diced column, shared with the physical filter.  A profile is ONE
grouping shuffle (digit-masked templates, or values) collected in one
job as an ordered-limit top-N plus a totals aggregate; the dice veto
reads it and ``filter_pattern``/``filter_enum`` build their filter
from the same rows (``operators.semantic.template_profile`` /
``value_profile``).  Profiles live for one planned query:
``run_nl_filter`` (and the engine's ``run``/``plan_only``/
``estimate``) forget them when they finish.
"""

from __future__ import annotations

import json
import re
from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from semantic_olap_spark.llm import prompts as P
from semantic_olap_spark.llm.client import LLMFactory, default_llm_factory
from semantic_olap_spark.llm.repair import parse_llm_json
from semantic_olap_spark.operators.semantic import (
    profile_scope,
    template_profile,
    value_profile,
)

Logic = object  # int | [op, ...]


# ---- data profiling (Dice_Agent.py:68-105, Spark-native) ---------------


def profile_patternized(
    df: DataFrame,
    column: str,
    top_n: int = 3,
    top_ratio_threshold: float = 0.8,
    unique_ratio_threshold: float = 0.01,
) -> bool:
    """``is_highly_patternized`` (Dice_Agent.py:68-77) on Spark.

    Digit-masked template concentration: top-``top_n`` templates
    cover > ``top_ratio_threshold`` of rows AND the number of
    distinct templates is < ``unique_ratio_threshold`` of rows — or
    there are fewer than 5 templates overall.  Reads the column's
    template profile, the one ``filter_pattern`` then filters with.
    """
    prof = template_profile(df, column, top_n)
    total, n_patterns = prof.totals["total"] or 0, prof.totals["n_groups"]
    if total == 0:
        return False
    if n_patterns < 5:
        return True
    top = sum(r["_c"] for r in prof.top[:top_n])
    return (
        top / total > top_ratio_threshold
        and n_patterns / total < unique_ratio_threshold
    )


def profile_enumerable(
    df: DataFrame,
    column: str,
    max_unique: int = 20,
    max_ratio: float = 0.05,
    max_avg_length: float = 30,
    top_coverage_threshold: float = 0.9,
    top_n: int = 5,
) -> bool:
    """``is_enumerable`` (Dice_Agent.py:79-105) on Spark.

    All statistics derive from the column's value profile, the one
    ``filter_enum`` then previews: distinct count, total, length
    average weighted by frequency, and top-``top_n`` coverage.
    ``n_total`` includes nulls (pandas ``len(col)``); coverage is
    over non-nulls (pandas ``value_counts(normalize=True)``),
    mirroring the reference.
    """
    prof = value_profile(df, column, top_n)
    n_total = prof.totals["total"] or 0
    n_nonnull = prof.totals["n_nonnull"] or 0
    if n_total == 0 or n_nonnull == 0:
        return False
    n_unique = prof.totals["n_groups"]
    avg_len = (prof.totals["len_sum"] or 0) / n_nonnull
    top_cov = sum(r["_c"] for r in prof.top[:top_n]) / n_nonnull
    return (
        (n_unique <= max_unique or n_unique / n_total <= max_ratio)
        and avg_len <= max_avg_length
        and top_cov >= top_coverage_threshold
    )


def is_column_numeric(df: DataFrame, column: str) -> bool:
    """Every non-null value parses as a number (OLAP_Agent.py:473-476).

    A numeric column answers from the schema: its string form always
    parses back (NaN and ±Infinity included).  Other types scan.
    """
    if isinstance(df.schema[column].dataType, NumericType):
        return True
    bad = df.filter(
        F.col(column).isNotNull()
        & F.col(column).cast("string").try_cast("double").isNull()
    )
    return bad.limit(1).count() == 0


# ---- dice (Dice_Agent.py:140-222) --------------------------------------

_STRATEGY_PRIORITY = ("pattern_extraction", "enumerable", "compare_str_or_num")


def _field_samples(df: DataFrame, column: str, n: int = 3) -> str:
    rows = (
        df.select(F.col(column).cast("string"))
        .filter(F.col(column).isNotNull())
        .limit(n)
        .collect()
    )
    samples = [r[0] for r in rows]
    if samples and sum(len(s) for s in samples) / len(samples) > 100:
        return f"{column}: too long to sample; unstructured field."
    return f"{column}: {samples}"


def dice_plan(
    df: DataFrame,
    field: str,
    condition: str,
    llm_factory: LLMFactory = default_llm_factory,
) -> dict:
    """Choose + profile-check a physical strategy for one field.

    Mirrors Dice_Agent.run: LLM proposes strategies from field
    samples (strategy_choose), then data statistics veto in priority
    order (strategy_check); anything unvalidated falls through to
    the LLM row filter.  Returns
    ``{"type": "dice", "optimize": {"strategy": ...}, "field": ...,
    "query": condition}``.
    """
    llm = llm_factory()
    raw = llm.predict(
        P.dice_strategy_prompt(field, _field_samples(df, field), condition)
    )
    proposal = parse_llm_json(raw, default={})
    chosen_field = proposal.get("field") or field
    if chosen_field not in df.columns:
        chosen_field = field
    strategies = proposal.get("strategy") or []
    final = "None"
    for strat in _STRATEGY_PRIORITY:
        if strat not in strategies:
            continue
        if strat == "pattern_extraction" and profile_patternized(df, chosen_field):
            final = strat
            break
        if strat == "enumerable" and profile_enumerable(df, chosen_field):
            final = strat
            break
        if strat == "compare_str_or_num":
            ans = llm.predict(P.simple_filter_prompt(condition)).strip().upper()
            if ans == "YES":
                final = strat
                break
    return {
        "type": "dice",
        "optimize": {"strategy": final},
        "field": chosen_field,
        "query": condition,
    }


# ---- slice (Slice_Agent.py:30-108) -------------------------------------


def remove_super_keywords(keywords: Sequence[str]) -> list[str]:
    """Superstring dedup (Slice_Agent.py:30-36): drop any keyword that
    contains a shorter kept keyword (matching the shorter already
    matches the longer's rows and more)."""
    kws = sorted(set(keywords), key=lambda x: (len(x), x))
    result: list[str] = []
    for kw in kws:
        if not any(kw != shorter and shorter in kw for shorter in result):
            result.append(kw)
    return result


def slice_plan(
    df: DataFrame,
    condition: str,
    llm_factory: LLMFactory = default_llm_factory,
) -> dict:
    """Keyword expansion + field pruning (Slice_Agent.run)."""
    llm = llm_factory()
    keywords = parse_llm_json(llm.predict(P.keywords_prompt(condition)), default=[])
    keywords = remove_super_keywords([str(k) for k in keywords])
    cols = df.columns
    fields = parse_llm_json(llm.predict(P.fields_prompt(condition, cols)), default=[])
    fields = [f for f in fields if f in cols]
    if not fields:
        fields = list(cols)
    return {
        "type": "slice",
        "optimize": {"initial_filter": keywords, "filtered_fields": fields},
        "query": condition.replace("in any field", ""),
    }


# ---- physical compilation (Exection_Agent.py:245-299) ------------------


def compile_filter_op(
    opt: Mapping, llm_factory: LLMFactory = default_llm_factory
) -> dict:
    """One verb plan → physical sub-plan in the executor's language.

    Mirrors Execution_Agent.operation_execution: slice → keyword
    prefilter ∧ sem_filter cascade; dice → the validated strategy's
    physical op, or the NL→deterministic direct plan for
    compare_str_or_num, or the sem_filter fallback.
    """
    query = opt["query"]
    if opt["type"] == "slice":
        fields = opt["optimize"]["filtered_fields"]
        ops: list[dict] = []
        if opt["optimize"]["initial_filter"]:
            ops.append(
                {"id": 1, "operator_name": "keyword_filter",
                 "parameters": {"columns": fields,
                                "keywords": opt["optimize"]["initial_filter"],
                                "logic": "or", "relation": "contains"}}
            )
        ops.append(
            {"id": 2, "operator_name": "sem_filter",
             "parameters": {"columns": fields, "condition": query}}
        )
        logic = ["AND", 1, 2] if len(ops) == 2 else [2]
        return {"operations": ops, "logic": logic}
    strategy = opt["optimize"]["strategy"]
    field = opt["field"]
    if strategy == "pattern_extraction":
        return {
            "operations": [
                {"id": 1, "operator_name": "filter_pattern",
                 "parameters": {"column": field, "condition": query}}
            ],
            "logic": [1],
        }
    if strategy == "enumerable":
        return {
            "operations": [
                {"id": 1, "operator_name": "filter_enum_llm",
                 "parameters": {"column": field, "condition": query}}
            ],
            "logic": [1],
        }
    if strategy == "compare_str_or_num":
        llm = llm_factory()
        plan = parse_llm_json(
            llm.predict(P.direct_filter_prompt(query)),
            default={"operations": [], "logic": []},
        )
        for op in plan.get("operations", []):
            p = op.setdefault("parameters", op.pop("params", {}))
            name = op.get("operator_name") or op.get("type")
            if name in ("keyword_filter", "filter_keywords", "sem_filter",
                        "filter_LLM"):
                p["columns"] = [field]
            else:
                for cond in p.get("conditions", []):
                    if not cond.get("column"):
                        cond["column"] = field
                p.setdefault("column", field)
        if plan.get("operations"):
            return plan
    # LLM fallback (Exection_Agent.py:286-292)
    return {
        "operations": [
            {"id": 1, "operator_name": "sem_filter",
             "parameters": {"columns": [field] if isinstance(field, str)
                            else list(field), "condition": query}}
        ],
        "logic": [1],
    }


def inject_sub_plans(
    plan: Mapping, df: DataFrame,
    llm_factory: LLMFactory = default_llm_factory,
) -> dict:
    """Per-op micro-planning (Execution_Agent.inject_sub_plans):
    each top-level operation routes to dice or slice and carries its
    compiled physical sub-plan."""
    ops_new = []
    for op in plan["operations"]:
        agent = (op.get("agent") or op.get("type") or "slice").lower()
        condition = op.get("instruction") or op.get("query") or ""
        field = op.get("field")
        # a dice op whose field is null/unknown (the planner IR allows
        # "field": null) degrades to slice rather than crashing in
        # F.col(None)
        if agent == "dice" and field in df.columns:
            verb = dice_plan(df, field, condition, llm_factory)
        else:
            verb = slice_plan(df, condition, llm_factory)
        ops_new.append(
            {"id": op["id"], "sub_plan": compile_filter_op(verb, llm_factory)}
        )
    return {"operations": ops_new, "logic": plan["logic"]}


def _substitute(expr: Logic, mapping: Mapping) -> Logic:
    if isinstance(expr, list):
        if expr and isinstance(expr[0], str) and expr[0] in ("AND", "OR"):
            return [expr[0]] + [_substitute(e, mapping) for e in expr[1:]]
        return [_substitute(e, mapping) for e in expr]
    if isinstance(expr, int):
        return mapping.get(expr, expr)
    return expr


def flatten_plan(plan: Mapping) -> dict:
    """Inline nested sub-plans + renumber ids (Exection_Agent.py:82-102).

    Each operation either is a leaf (kept, renumbered) or carries a
    ``sub_plan`` whose flattened logic replaces the operation's id in
    the parent logic tree.
    """
    new_ops: list[dict] = []
    counter = {"id": 1}

    def _flatten(node: Mapping) -> Logic:
        id_map: dict[int, Logic] = {}
        for op in node["operations"]:
            if "sub_plan" in op:
                id_map[op["id"]] = _flatten(op["sub_plan"])
            else:
                clean = {
                    "id": counter["id"],
                    "operator_name": op.get("operator_name") or op.get("type"),
                    "parameters": {
                        k: v
                        for k, v in (op.get("parameters")
                                     or op.get("params", {})).items()
                        if k != "llm"
                    },
                }
                new_ops.append(clean)
                id_map[op["id"]] = counter["id"]
                counter["id"] += 1
        return _substitute(node["logic"], id_map)

    flat_logic = _flatten(plan)
    return {"operations": new_ops, "logic": flat_logic}


def plan_nl_filter(
    df: DataFrame,
    operations: Sequence[Mapping],
    logic: Logic,
    llm_factory: LLMFactory = default_llm_factory,
) -> dict:
    """Plan-only entry point: the flattened physical plan, unexecuted.

    The contract of the reference's plan-only baselines
    (Semantic-OLAP/baselines/baseline_LLM_direct.py:138-178,
    baseline_ReAct_OutTool.py:307-317): given the decomposed-filter
    IR, emit the full plan in the 10-operator language —
    ``{"operations": [...], "logic": [...]}`` — without touching the
    data beyond the profiling samples.  ``run_nl_filter`` is exactly
    this plan replayed through the staged executor, so plan-matching
    evaluation (the eval corpus's methodology) can run against the
    planner alone.
    """
    injected = inject_sub_plans(
        {"operations": operations, "logic": logic}, df, llm_factory
    )
    return flatten_plan(injected)


@profile_scope()
def run_nl_filter(
    df: DataFrame,
    operations: Sequence[Mapping],
    logic: Logic,
    llm_factory: LLMFactory = default_llm_factory,
) -> DataFrame:
    """End-to-end: verb ops → micro-plans → flatten → staged execute.

    ``operations``: ``[{"id", "agent": "dice"|"slice", "field",
    "instruction"}]`` — the decomposed-filter IR of
    plan_generate_filter (OLAP_Agent.py:289-294).
    """
    from semantic_olap_spark.plans.executor import run_filter

    flat = plan_nl_filter(df, operations, logic, llm_factory)
    return run_filter(df, flat["operations"], flat["logic"], llm_factory)


# ---- top-k dispatch (OLAP_Agent.py:437-476) ----------------------------


def understand_topk(
    query: str,
    columns: Sequence[str],
    llm_factory: LLMFactory = default_llm_factory,
) -> dict:
    llm = llm_factory()
    return parse_llm_json(
        llm.predict(P.topk_intent_prompt(columns, query)),
        default={"topk_type": "not applicable"},
    )


def topk_dispatch(
    df: DataFrame,
    topk_params: Mapping,
    llm_factory: LLMFactory = default_llm_factory,
    id_col: str | None = None,
    sem_prescreen_k: int | None = None,
) -> DataFrame:
    """num vs sem top-k with the numeric-column fallback check.

    ``topk_type == "num"`` only holds if the column really parses
    numeric (is_column_numeric); otherwise the tournament runs —
    exactly the reference's guard (OLAP_Agent.py:451-466).

    ``sem_prescreen_k`` opts the semantic branch into sem_topk's
    prescreen scale path (LLM calls ∝ prescreen_k instead of table
    size).  Opt-IN because the slice can differ from the full
    tournament on adversarial data — the engine keeps reference
    semantics by default and the deployment chooses the trade.
    """
    from semantic_olap_spark.operators.deterministic import num_topk
    from semantic_olap_spark.operators.semantic import OLAP_ID, sem_topk

    ttype = topk_params.get("topk_type")
    if ttype not in ("num", "sem"):
        return df
    field = topk_params.get("sort_field")
    try:
        k = int(topk_params.get("top_k"))
    except (TypeError, ValueError):
        k = 0
    if not field or field not in df.columns or k <= 0:
        # partial/hallucinated intent (missing field or k) — treat as
        # not-applicable like every other malformed-answer path
        return df
    if ttype == "num" and is_column_numeric(df, field):
        return num_topk(df, field, k, topk_params.get("sort_order", "desc"))
    query = (
        topk_params.get("sort_basis", "")
        + f"\n Order: {topk_params.get('sort_order', 'desc')}"
    )
    return sem_topk(
        df, [field], query, k, id_col=id_col or OLAP_ID,
        llm_factory=llm_factory, prescreen_k=sem_prescreen_k,
    )
