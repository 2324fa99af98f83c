"""Prompt builders + the shared token heuristics the stub relies on.

The reference's entire LLM interface is ``llm.predict(prompt) -> str``
(Semantic-OLAP/Agents/Components/Operaters.py:69,343,388,423,487).
Our prompts mirror the reference's operator semantics — Yes/No row
judge (Operaters.py:54-67), per-row mapper (Operaters.py:327-342),
unique-value summarizer (Operaters.py:407-422), pairwise relevance
judge (Operaters.py:475-486), enum keep-list (Operaters.py:261-277),
per-template regex plan (Operaters.py:132-175) — with one addition: a
machine-readable first line ``### task: <name>`` so the deterministic
StubLLM can dispatch without NL understanding.  A real model simply
reads it as context.

Every builder is paired with a parser the stub uses; keeping both in
this module is what makes stub behavior exactly reproducible (the
test strategy of SURVEY.md §5 item 2).
"""

from __future__ import annotations

import json
import re
from typing import Sequence

CONTENT_SEP = "<<<CONTENT>>>"

# Minimal fixed stopword list used when extracting "significant"
# tokens from an NL condition. Deliberately small and frozen — stub
# determinism matters more than linguistic quality.
STOPWORDS = frozenset(
    """a an and are about all any as at be but by can for from had has have
    how in is it its not of on or rows row related that the their them then
    there these they this to was were what when where which who whose why
    will with find show give list most""".split()
)


def condition_tokens(condition: str) -> list[str]:
    """Significant lowercase tokens of an NL condition, in order."""
    toks = re.findall(r"[a-z0-9_]+", condition.lower())
    seen, out = set(), []
    for t in toks:
        if len(t) >= 3 and t not in STOPWORDS and t not in seen:
            seen.add(t)
            out.append(t)
    return out


def vocab_of(description: str) -> list[str]:
    """Parse an enumerated label vocabulary out of an instruction.

    Convention: ``... one of: a, b, c`` (case-insensitive). Returns
    [] when the instruction doesn't enumerate labels.
    """
    m = re.search(r"one of:\s*([^.;\n]+)", description, flags=re.I)
    if not m:
        return []
    return [v.strip() for v in m.group(1).split(",") if v.strip()]


def row_content(col_names: Sequence[str], values: Sequence) -> str:
    """The reference feeds rows as ``col: value`` lines (Operaters.py:347)."""
    return "\n".join(
        f"{c}: {'' if v is None else v}" for c, v in zip(col_names, values)
    )


# ---- builders ----------------------------------------------------------


def filter_prompt(condition: str, content: str) -> str:
    return (
        "### task: sem_filter\n"
        "Decide whether the content satisfies the condition. "
        "Answer exactly Yes or No.\n"
        f"Condition: {condition}\n"
        f"{CONTENT_SEP}\n{content}"
    )


def join_prompt(condition: str, left_content: str, right_content: str) -> str:
    return (
        "### task: sem_join\n"
        "Decide whether the LEFT row and the RIGHT row jointly "
        "satisfy the join condition. Answer exactly Yes or No.\n"
        f"Condition: {condition}\n"
        f"{CONTENT_SEP}\n"
        f"<<<LEFT>>>\n{left_content}\n"
        f"<<<RIGHT>>>\n{right_content}"
    )


def dedup_pair_prompt(a_content: str, b_content: str) -> str:
    return (
        "### task: sem_dedup_pair\n"
        "Decide whether document A and document B are near-duplicates "
        "(same substantive content, allowing paraphrase and "
        "boilerplate differences). Answer exactly Yes or No.\n"
        f"{CONTENT_SEP}\n"
        f"<<<A>>>\n{a_content}\n"
        f"<<<B>>>\n{b_content}"
    )


def map_prompt(keyword: str, map_description: str, content: str) -> str:
    return (
        "### task: sem_map\n"
        f'Generate the value of a new column "{keyword}" for this row. '
        "Reply with the value only; reply NA if it cannot be derived.\n"
        f"Instruction: {map_description}\n"
        f"{CONTENT_SEP}\n{content}"
    )


def group_classify_prompt(
    keyword: str, group_description: str, tags: Sequence[str], content: str
) -> str:
    return (
        "### task: sem_group_classify\n"
        f'Assign one group tag for column "{keyword}". '
        "Reply with the tag only.\n"
        f"Instruction: {group_description}\n"
        f"Tags: {json.dumps(list(tags))}\n"
        f"{CONTENT_SEP}\n{content}"
    )


def group_induce_prompt(
    keyword: str, group_description: str, samples: Sequence[str]
) -> str:
    return (
        "### task: sem_group_induce\n"
        "Propose a small set of 1-3 word group tags (lowercase, "
        "underscores) covering the sample values. Reply with a JSON "
        "array of tags.\n"
        f"Instruction: {group_description}\n"
        f"Column: {keyword}\n"
        f"{CONTENT_SEP}\n{json.dumps(list(samples))}"
    )


def reduce_prompt(columns: Sequence[str], values: Sequence[str]) -> str:
    return (
        "### task: sem_reduce\n"
        "Summarize the following unique values into one short phrase.\n"
        f"Columns: {json.dumps(list(columns))}\n"
        f"{CONTENT_SEP}\n{json.dumps(list(values))}"
    )


def topk_pair_prompt(query: str, content_a: str, content_b: str) -> str:
    return (
        "### task: sem_topk_pair\n"
        "Which content is more relevant to the query? Answer exactly "
        "A or B.\n"
        f"Query: {query}\n"
        f"<<<A>>>\n{content_a}\n"
        f"<<<B>>>\n{content_b}"
    )


def score_prompt(query: str, content: str) -> str:
    return (
        "### task: sem_score\n"
        "Rate how relevant the content is to the query. Reply with a "
        "single non-negative integer (higher = more relevant).\n"
        f"Query: {query}\n"
        f"{CONTENT_SEP}\n{content}"
    )


def enum_prompt(condition: str, values: Sequence[str]) -> str:
    return (
        "### task: filter_enum\n"
        "Given the distinct values of a column, return the JSON array "
        "of values that satisfy the condition.\n"
        f"Condition: {condition}\n"
        f"{CONTENT_SEP}\n{json.dumps(list(values))}"
    )


def pattern_prompt(condition: str, template: str, examples: Sequence[str]) -> str:
    return (
        "### task: filter_pattern\n"
        "Values of a column share the digit-masked template below "
        "(<*> marks digit runs). Derive a regex with one capture "
        "group per digit run and a numeric filter plan implementing "
        "the condition. Reply with JSON "
        '{"regex": str, "conditions": [{"group": int, "operator": '
        'str, "threshold": float}], "logic": "and"|"or"}.\n'
        f"Condition: {condition}\n"
        f"Template: {template}\n"
        f"{CONTENT_SEP}\n{json.dumps(list(examples))}"
    )


# ---- planner prompts (§2.3 verbs — dice/slice/roll_up/drill_down) ------


def dice_strategy_prompt(field: str, field_info: str, query: str) -> str:
    """Strategy proposal (reference Dice_Agent.py PROMPT_STRATEGY)."""
    return (
        "### task: dice_strategy\n"
        "Given field samples and a query, list which optimization "
        "strategies might apply (pattern_extraction / enumerable / "
        "compare_str_or_num) and name the target field. Reply with "
        'JSON {"thought": str, "field": str, "strategy": [str, ...]}.\n'
        f"Field: {field}\n"
        f"Query: {query}\n"
        f"{CONTENT_SEP}\n{field_info}"
    )


def simple_filter_prompt(query: str) -> str:
    """YES/NO: does the query express a simple compare/contains filter
    (reference Dice_Agent.llm_has_simple_filter)."""
    return (
        "### task: simple_filter_check\n"
        "Does the sentence clearly express a simple filtering "
        "condition (contains/equals for strings; >, <, >=, <=, == "
        "for numbers)? Answer exactly YES or NO.\n"
        f"Query: {query}\n"
        f"{CONTENT_SEP}\n{query}"
    )


def direct_filter_prompt(query: str) -> str:
    """NL → deterministic filter plan (reference PROMPT_DIRECT)."""
    return (
        "### task: direct_filter_plan\n"
        "Convert the query into a filter plan using keyword_filter "
        "and num_filter only. Reply with JSON {\"operations\": "
        '[{"id": int, "operator_name": str, "parameters": {...}}], '
        '"logic": [...]}.\n'
        f"Query: {query}\n"
        f"{CONTENT_SEP}\n{query}"
    )


def keywords_prompt(query: str) -> str:
    """Keyword expansion for slice (Slice_Agent PROMPT_FILTER_ORIGINAL_DATA)."""
    return (
        "### task: keyword_expansion\n"
        "Build a flat JSON list of single-word (or two-word) keywords "
        "capturing the intent, including variants and synonyms.\n"
        f"Query: {query}\n"
        f"{CONTENT_SEP}\n{query}"
    )


def fields_prompt(query: str, columns: Sequence[str]) -> str:
    """Candidate-field pruning for slice (Slice_Agent.fields_choose)."""
    return (
        "### task: field_pruning\n"
        "Given a query and candidate fields, return the JSON list of "
        "fields potentially relevant to the query. Be conservative — "
        "when unsure, include the field.\n"
        f"Query: {query}\n"
        f"{CONTENT_SEP}\n{json.dumps(list(columns))}"
    )


def self_reduce_prompt(description: str) -> str:
    """count vs num_reduce parse (Roll_Up_Agent.understand_self_reduce)."""
    return (
        "### task: self_reduce\n"
        'Classify the reduction: reply {"type": "count"} or '
        '{"type": "num_reduce", "params": {"agg": "sum|avg|max|min"}}.\n'
        f"Description: {description}\n"
        f"{CONTENT_SEP}\n{description}"
    )


def granularity_match_prompt(
    candidates: Sequence[str], target: str, thought: str = ""
) -> str:
    """Granularity-reuse judgment (Roll_Up_Agent.query_dimension_exist)."""
    return (
        "### task: granularity_match\n"
        "Pick the existing granularity matching the target at the "
        'same conceptual level, else "None". Reply with JSON '
        '{"thought": str, "chosen": str}.\n'
        f"Target: {target}\n"
        f"Thought: {thought}\n"
        f"{CONTENT_SEP}\n{json.dumps(list(candidates))}"
    )


def topk_intent_prompt(columns: Sequence[str], query: str) -> str:
    """Top-k intent detection (OLAP_Agent UNDERSTAND_TOPK_PROMPT)."""
    return (
        "### task: topk_intent\n"
        "Does the query express top-k intent? If yes reply "
        '{"topk_type": "num"|"sem", "sort_field": str, "sort_order": '
        '"asc"|"desc", "top_k": int, "sort_basis": str}; else '
        '{"topk_type": "not applicable"}.\n'
        f"Query: {query}\n"
        f"{CONTENT_SEP}\n{json.dumps(list(columns))}"
    )


# ---- lifecycle prompts (§3.1 — decompose / filter plan / ReAct) --------


def decompose_prompt(query: str) -> str:
    """filter_query vs analysis_query split (OLAP_Agent.decompose_query_intent)."""
    return (
        "### task: decompose_query\n"
        "Split the query into the data-selection part and the "
        'structural-analysis part. Reply with JSON {"filter_query": '
        'str, "analysis_query": str} (empty string when absent).\n'
        f"Query: {query}\n"
        f"{CONTENT_SEP}\n{query}"
    )


def filter_plan_prompt(
    columns: Sequence[str], history_query: str, query: str
) -> str:
    """Delta-filter decomposition into dice/slice atomic ops
    (OLAP_Agent PLAN_OLAP_AGENT_PROMPT_SLICE_DICE)."""
    return (
        "### task: filter_plan\n"
        "Compare the current query with the historical query, keep "
        "only the NEW filter conditions, and split them into atomic "
        "single-condition steps routed to the dice agent (one known "
        "field) or the slice agent (cross-field). Reply with JSON "
        '{"operations": [{"id": int, "agent": "dice"|"slice", '
        '"instruction": str, "field": str|null}], "logic": [...]}.\n'
        f"History: {history_query}\n"
        f"Query: {query}\n"
        f"{CONTENT_SEP}\n{json.dumps(list(columns))}"
    )


def react_prompt(query: str, dimensions: Sequence[str], history: str) -> str:
    """One ReAct step of the analysis loop (make_stepwise_ReAct_prompt).

    Actions: drill_down / roll_up / get_dimension / get_granularity /
    null (stop).
    """
    return (
        "### task: react_step\n"
        "Plan the next structural action (drill_down, roll_up, "
        "get_dimension, get_granularity) or null when the structure "
        'is sufficient. Reply with JSON {"thought": str, "action": '
        '{"type": str, "params": {...}} | null}.\n'
        f"Query: {query}\n"
        f"Dimensions: {json.dumps(list(dimensions))}\n"
        f"{CONTENT_SEP}\n{history}"
    )


def relation_prompt(current_query: str, historical_query: str) -> str:
    """Cube-node relation classification (OLAP_Memory.py PROMPT_GET_NODE):
    contain / subset / equal / intersect / no_relation between the data
    sets of two queries."""
    return (
        "### task: relation_classify\n"
        "Compare the data sets selected by the two queries. Reply "
        'with JSON {"reason": str, "relation": "contain"|"subset"|'
        '"equal"|"intersect"|"no_relation"}. subset = the current '
        "query adds constraints on top of the historical one.\n"
        f"Current: {current_query}\n"
        f"Historical: {historical_query}\n"
        f"{CONTENT_SEP}\n"
    )


# ---- parsing helpers (used by StubLLM) ---------------------------------


def split_sections(prompt: str) -> tuple[dict[str, str], str]:
    """Return ({header-key: value}, content-after-CONTENT_SEP)."""
    head, _, content = prompt.partition(CONTENT_SEP + "\n")
    fields: dict[str, str] = {}
    for line in head.splitlines():
        if ":" in line:
            k, _, v = line.partition(":")
            fields.setdefault(k.strip().lower(), v.strip())
    return fields, content


def task_of(prompt: str) -> str:
    first = prompt.split("\n", 1)[0]
    return first.replace("### task:", "").strip()
