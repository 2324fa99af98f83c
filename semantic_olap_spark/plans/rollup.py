"""Roll-up and drill-down orchestration over the cube memory.

Reference semantics (Agents/Roll_Up_Agent.py, Agents/Drill_Down_Agent.py)
re-expressed Spark-first:

- **roll_up** (Roll_Up_Agent.py:129-250): re-express a dimension at a
  coarser granularity — reuse an existing granularity when the LLM
  says one matches (query_dimension_exist, Roll_Up_Agent.py:81-126),
  else ``sem_group``; then optional per-group analyses — ``self`` →
  count or num_reduce (understand_self_reduce, Roll_Up_Agent.py:11-37),
  other dimensions → ``sem_reduce`` — and memoize the aggregate on
  the granularity view (set_view, Roll_Up_Agent.py:235-236).

  The reference loops groups in Python (reduce_groups_to_dataframe,
  Roll_Up_Agent.py:39-75) — one LLM call and one pandas slice per
  group.  Here the whole analysis is ONE ``groupBy(label).agg(...)``:
  count/num aggregates are plain Catalyst aggregates, each sem_reduce
  column is a ``collect_list → distinct → sorted → capped`` array
  summarized by an Arrow-batched UDF — so the shuffle carries one row
  per group and group count, not table size, bounds the LLM calls.

- **drill_down** (Drill_Down_Agent.py:39-76): ``sem_map`` a new
  column over all existing dimensions; when a related coarser
  dimension exists, absorb it as a granularity of the new one
  (Drill_Down_Agent.py:68-75).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_olap_spark.llm import prompts as P
from semantic_olap_spark.llm.client import LLMFactory, default_llm_factory
from semantic_olap_spark.llm.repair import parse_llm_json
from semantic_olap_spark.operators.deterministic import AGGS
from semantic_olap_spark.operators.semantic import sem_group, sem_map, summarizer
from semantic_olap_spark.plans.memory import CubeMemory, CubeNode, GranularityView
from semantic_olap_spark.sources.loaders import OLAP_ID


def understand_self_reduce(
    description: str, llm_factory: LLMFactory = default_llm_factory
) -> dict:
    """count vs num_reduce parse (Roll_Up_Agent.py:11-37)."""
    llm = llm_factory()
    plan = parse_llm_json(
        llm.predict(P.self_reduce_prompt(description)), default={"type": "count"}
    )
    if plan.get("type") not in ("count", "num_reduce"):
        plan = {"type": "count"}
    return plan


def query_granularity_exist(
    candidates: Sequence[str],
    target: str,
    thought: str = "",
    llm_factory: LLMFactory = default_llm_factory,
) -> str | None:
    """Granularity-reuse judgment (Roll_Up_Agent.py:81-126).

    Exact-name fast path, then the LLM matcher; only an answer that
    names an existing granularity counts.
    """
    if target in candidates:
        return target
    llm = llm_factory()
    res = parse_llm_json(
        llm.predict(P.granularity_match_prompt(candidates, target, thought)),
        default={},
    )
    chosen = res.get("chosen")
    return chosen if chosen in candidates else None


def _ensure_root_granularity(node: CubeNode, dimension: str) -> GranularityView:
    dim = node.dimension(dimension)
    root = dim.get(dimension)
    if root is None:
        root = GranularityView(
            dimension,
            node.df.select(OLAP_ID, dimension),
            description=dimension,
        )
        dim.add(root)
    return root


def roll_up(
    memory: CubeMemory,
    node_id: int,
    dimension: str,
    target_granularity: str | None,
    analyze_dimension: Sequence[Mapping] = (),
    llm_factory: LLMFactory = default_llm_factory,
    thought: str = "",
    max_values: int = 500,
) -> tuple[str, DataFrame]:
    """The roll_up verb (Roll_Up_Agent.run, Roll_Up_Agent.py:129-250).

    ``analyze_dimension``: ``[{"dimension": "self"|<col>,
    "reduce_target": str}]``.  Returns (message, result DataFrame).
    """
    node = memory.nodes[node_id]
    if dimension not in node.df.columns:
        raise ValueError(f"unknown dimension {dimension!r}")
    dim = node.dimension(dimension)
    _ensure_root_granularity(node, dimension)

    exist = None
    if target_granularity and target_granularity != "None":
        exist = query_granularity_exist(
            dim.names(), target_granularity, thought, llm_factory
        )
        if exist is not None:
            actual = exist
            label_df = dim.get(exist).df
        else:
            actual = target_granularity
            grouped = sem_group(
                node.df.select(OLAP_ID, dimension),
                [dimension],
                f"group into granularity {target_granularity}",
                target_granularity,
                llm_factory,
            )
            label_df = grouped.select(OLAP_ID, target_granularity)
            dim.add(
                GranularityView(
                    target_granularity,
                    label_df,
                    description=target_granularity,
                    plan=[{
                        "operator_name": "sem_group",
                        "parameters": {
                            "columns": [dimension],
                            "group_description":
                                f"group into granularity {target_granularity}",
                            "keyword": target_granularity,
                        },
                    }],
                )
            )
    else:
        actual = dimension
        label_df = dim.get(dimension).df

    def message(suffix: str = "") -> str:
        if actual == dimension:
            m = (f"No roll-up performed. Using the existing granularity "
                 f"'{dimension}' directly for analysis.")
        elif exist is not None:
            m = (f"The target granularity '{target_granularity}' already "
                 f"exists in '{dimension}' as '{exist}', using it directly.")
        else:
            m = (f"Created new granularity '{target_granularity}' for "
                 f"'{dimension}' and grouped data accordingly.")
        return m + suffix

    if not analyze_dimension:
        others = [c for c in node.df.columns if c not in (dimension,)]
        merged = node.df.select(*others).join(label_df, on=OLAP_ID, how="right")
        return message(), merged

    # -- per-group analyses, compiled into ONE groupBy ------------------
    analyze_plan: list[dict] = []
    aggs = [F.sort_array(F.collect_list(F.col(OLAP_ID))).alias(OLAP_ID)]
    columns_analysis: list[str] = []
    analyzed: list[str] = []
    for spec in analyze_dimension:
        if spec["dimension"] == "self":
            self_plan = understand_self_reduce(
                spec.get("reduce_target", ""), llm_factory
            )
            if self_plan["type"] == "count":
                aggs.append(F.count(F.lit(1)).alias(f"count_of_{actual}"))
                analyze_plan.append({
                    "operator_name": "count",
                    "parameters": {"group_by": actual, "columns": []},
                })
            else:
                # faithful to the reference: 'self' num_reduce
                # aggregates the GRANULARITY column itself
                # (Roll_Up_Agent.py:59-61 num_reduce(group_df[
                # group_key_col])) — meaningful when the grouped
                # values are numeric (no-rollup case), NULL for
                # string labels, exactly as pd.to_numeric coerces
                agg = self_plan.get("params", {}).get("agg", "sum")
                aggs.append(
                    AGGS[agg](F.col(actual).try_cast("double"))
                    .alias(f"{agg}_of_{actual}")
                )
                analyze_plan.append({
                    "operator_name": "num_reduce",
                    "parameters": {"group_by": actual, "columns": [],
                                   "agg": agg},
                })
            analyzed.append("self")
        elif spec["dimension"] in node.df.columns and spec["dimension"] != dimension:
            columns_analysis.append(spec["dimension"])
            analyzed.append(spec["dimension"])
    if columns_analysis:
        analyze_plan.append({
            "operator_name": "sem_reduce",
            "parameters": {"columns": list(columns_analysis),
                           "group_by": actual},
        })

    merged = node.df.select(OLAP_ID, *columns_analysis).join(
        label_df, on=OLAP_ID, how="right"
    )
    vals_cols = []
    for col in columns_analysis:
        arr = F.slice(
            F.sort_array(
                F.array_distinct(F.collect_list(F.col(col).cast("string")))
            ),
            1, max_values,
        )
        vals_cols.append((col, arr))
    grouped = merged.groupBy(actual).agg(
        *aggs, *[arr.alias(f"_vals_{c}") for c, arr in vals_cols]
    )
    for col, _ in vals_cols:
        grouped = grouped.withColumn(
            col, summarizer([col], llm_factory)(F.col(f"_vals_{col}"))
        ).drop(f"_vals_{col}")

    gv = dim.get(actual)
    if gv is not None:
        gv.view = grouped
        gv.plan = list(gv.plan) + analyze_plan
    return (
        message(f" And Then '{analyzed}' has been analyzed according to it."),
        grouped,
    )


def drill_down(
    memory: CubeMemory,
    node_id: int,
    dimension_name: str,
    description: str,
    related_coarser_dimension: str | None = None,
    llm_factory: LLMFactory = default_llm_factory,
) -> tuple[str, DataFrame]:
    """The drill_down verb (Drill_Down_Agent.run, Drill_Down_Agent.py:39-76).

    Adds an LLM-generated finer column over all current dimensions;
    absorbs a related coarser dimension's granularities into the new
    one and removes the coarser dimension, mirroring
    Drill_Down_Agent.py:68-75.
    """
    node = memory.nodes[node_id]
    cols = [c for c in node.df.columns if c != OLAP_ID]
    new_df = sem_map(node.df, cols, description, dimension_name, llm_factory)
    plan = {
        "operator_name": "sem_map",
        "parameters": {"columns": cols, "map_description": description,
                       "keyword": dimension_name},
    }
    # swap the node's frame without stranding the old cached lineage:
    # CubeNode.__init__ cached the previous frame; repeated drill_downs
    # in a session would otherwise accumulate stale cached frames in
    # executor memory.  Unpersist the replaced frame, cache the new one.
    old_df = node.df
    node.df = new_df.cache()
    try:
        old_df.unpersist()
    except Exception:
        pass
    dim = node.dimension(dimension_name)
    dim.add(
        GranularityView(
            dimension_name,
            new_df.select(OLAP_ID, dimension_name),
            description=description,
            plan=[plan],
        )
    )
    if related_coarser_dimension and related_coarser_dimension in node.col_views:
        coarser = node.col_views[related_coarser_dimension]
        for name, gv in coarser.granularities.items():
            if name not in dim.granularities:
                dim.add(gv)
        node.col_views.pop(related_coarser_dimension, None)
        return (
            f"New dimension has successfully build: '{dimension_name}', and "
            f"dimension '{related_coarser_dimension}' is merged into it.",
            new_df,
        )
    return f"New dimension has successfully build: {dimension_name}", new_df
