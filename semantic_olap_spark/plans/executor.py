"""Plan-language executor: cost-ordered, staged, lineage-recording.

The public plan language is the reference's ten-operator list format
(SURVEY.md §3.3) — ordered steps ``{"operator_name": ..,
"parameters": {..}}`` — the same language its golden plans
(Semantic-OLAP/datas/evaluate_datas.json), its lineage
(Exection_Agent.py:310-370) and its baseline planners all use.

Optimizer logic reproduced Spark-first (SURVEY.md §4):

- **Cost-class ordering** (Exection_Agent.py:54-60 PRIORITY_MAP):
  deterministic filters (class 0) and profiled physical filters
  (class 1) compile to Catalyst expressions and are evaluated first;
  LLM predicates (class 2) run last.
- **Staged short-circuit evaluation** (Exection_Agent.py:377-394):
  each LLM predicate runs ONLY on rows whose outcome is still
  undecided.  Spark's boolean operators are already Kleene 3VL
  (``false & null = false``), so "undecided" is literally: compile
  the logic tree with pending LLM leaves as NULL literals; rows where
  the tree is non-null are decided.  Because Catalyst evaluates
  Python UDFs eagerly for all rows of a projection (they are lifted
  into ArrowEvalPython nodes — a ``when()`` guard does NOT skip
  them), the skip must be *physical*: split off decided rows, run the
  UDF on the undecided remainder only, union results back.  The
  union stays one lazy DAG; nothing materializes per stage.
"""

from __future__ import annotations

import copy
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_olap_spark.llm.client import LLMFactory, default_llm_factory
from semantic_olap_spark.operators import deterministic as det
from semantic_olap_spark.operators import semantic as sem
from semantic_olap_spark.operators.logic import (
    compile_logic,
    logic_leaves,
    normalize_logic,
    null_bool,
)

# Cost classes — reference Exection_Agent.py:54-60.
PRIORITY_MAP = {
    "num_filter": 0,
    "keyword_filter": 0,
    "pattern_based": 1,
    "filter_pattern": 1,
    "enumerable": 1,
    "filter_enum": 1,
    "filter_enum_llm": 1,
    "sem_filter": 2,
    "filter_LLM": 2,
}

_FILTER_OPS = set(PRIORITY_MAP)


def step_params(step: Mapping) -> dict:
    """Parameters of a plan step under either key spelling.

    The reference's golden plans (datas/evaluate_datas.json) use
    ``params``; its lineage output uses ``parameters``.  Accept both.
    """
    p = step.get("parameters")
    if p is None:
        p = step.get("params", {})
    return dict(p)


def _build_cond(
    df: DataFrame, name: str, p: Mapping, llm_factory: LLMFactory,
    raw_num: bool = False,
) -> Column:
    """Compile one filter operation to a boolean Column.

    ``raw_num=True`` emits num_filter leaves WITHOUT the null→False
    coalesce: filtering results are identical (null drops the row),
    and the raw comparison pushes into the parquet scan.  Keep it
    False in the staged path — there the coalesce marks cheap leaves
    *decided*, which is what keeps LLM UDFs off rows a null numeric
    value already settles.
    """
    if name == "keyword_filter":
        return det.keyword_filter_cond(
            p["columns"], p["keywords"], p.get("logic", "or"), p.get("relation", "contains")
        )
    if name == "num_filter":
        if raw_num:
            return det._num_pred(p["conditions"], p.get("logic", "and"))
        return det.num_filter_cond(p["conditions"], p.get("logic", "and"))
    if name in ("sem_filter", "filter_LLM"):
        return sem.sem_filter_cond(
            p["columns"], p["condition"], llm_factory,
            retain_if=bool(p.get("retain_if", True)),
        )
    if name in ("filter_pattern", "pattern_based"):
        return sem.filter_pattern_cond(
            df, p.get("column") or p.get("field"), p["condition"], llm_factory
        )
    if name in ("filter_enum", "filter_enum_llm", "enumerable"):
        return sem.filter_enum_cond(
            df, p.get("column") or p.get("field"), p["condition"], llm_factory
        )
    raise ValueError(f"unknown filter operator {name!r}")


def run_filter(
    df: DataFrame,
    operations: Sequence[Mapping],
    logic=None,
    llm_factory: LLMFactory = default_llm_factory,
    llm_leaf_order: Sequence[int] | str | None = None,
) -> DataFrame:
    """Execute a boolean tree of filter operations, staged by cost.

    ``operations``: ``[{"id": int, "operator_name": str,
    "parameters": {...}}]``; ``logic``: the boolean tree over ids
    (default: AND of all).  Mirrors Execution_Agent.run_filter
    (Exection_Agent.py:301-396).

    ``llm_leaf_order`` picks the order class-2 (LLM) leaves run in —
    results are order-independent (Kleene staging, property-tested),
    only the judged-row counts change:

    - ``None``: plan order (the reference's behavior).
    - ``"auto"``: selectivity-aware order from
      ``plans.costmodel.choose_llm_leaf_order`` — probes a bounded
      sample, then runs the most-decisive leaf first.  Worth it when
      the input is much larger than the probe sample.
    - explicit id sequence: a permutation of the LLM leaf ids (e.g. a
      planner's cached choice).
    """
    ops = {int(op["id"]): op for op in operations}
    tree = normalize_logic(
        logic if logic is not None else [int(op["id"]) for op in operations]
    )
    leaf_ids = logic_leaves(tree)
    unknown = set(leaf_ids) - set(ops)
    if unknown:
        raise ValueError(f"logic references unknown op ids {sorted(unknown)}")

    def op_name(oid: int) -> str:
        o = ops[oid]
        return o.get("operator_name") or o.get("operator")

    cheap: dict[int, Column] = {}
    expensive: list[int] = []
    for oid in leaf_ids:
        name = op_name(oid)
        if PRIORITY_MAP.get(name, 2) < 2:
            cheap[oid] = _build_cond(df, name, step_params(ops[oid]), llm_factory)
        else:
            expensive.append(oid)

    if not expensive:
        # no staging needed → recompile only the numeric leaves, raw
        # (pushdown-friendly); a null tree value drops the row in
        # filter() exactly as the coalesced form would.  Every other
        # leaf keeps its built Column: rebuilding a profiled filter
        # would re-ask the LLM for its plan
        raw = {
            oid: _build_cond(df, "num_filter", step_params(ops[oid]),
                             llm_factory, raw_num=True)
            if op_name(oid) == "num_filter" else col
            for oid, col in cheap.items()
        }
        return df.filter(compile_logic(tree, raw))

    if llm_leaf_order is not None and len(expensive) > 1:
        if llm_leaf_order == "auto":
            # lazy import: costmodel imports this module
            from semantic_olap_spark.plans.costmodel import (
                choose_llm_leaf_order,
            )

            expensive = choose_llm_leaf_order(
                df, operations, logic, llm_factory=llm_factory
            )
        else:
            chosen = [int(i) for i in llm_leaf_order]
            if sorted(chosen) != sorted(expensive):
                raise ValueError(
                    f"llm_leaf_order {chosen} is not a permutation of "
                    f"the LLM leaf ids {sorted(expensive)}"
                )
            expensive = chosen

    # Staged evaluation: LLM predicates one at a time, each only on
    # rows still undecided under Kleene semantics.
    orig_cols = df.columns
    accepted: list[DataFrame] = []
    undecided = df
    evaluated: dict[int, str] = {}

    def leaf_col(oid: int) -> Column:
        if oid in cheap:
            return cheap[oid]
        if oid in evaluated:
            return F.col(evaluated[oid])
        return null_bool()

    for stage_i, oid in enumerate(expensive):
        tree_col = compile_logic(tree, leaf_col)
        accepted.append(undecided.filter(tree_col).select(*orig_cols))
        undecided = undecided.filter(tree_col.isNull())
        colname = f"__op_{oid}"
        name = op_name(oid)
        undecided = undecided.withColumn(
            colname,
            F.coalesce(
                _build_cond(undecided, name, step_params(ops[oid]), llm_factory),
                F.lit(False),
            ),
        )
        # the LAST stage's frame is consumed exactly once by the
        # final-union filter below — persisting it gains nothing
        if len(expensive) > 1 and stage_i < len(expensive) - 1:
            # With ≥2 LLM leaves, each later stage AND the final union
            # re-traverse this lineage; without a persist every branch
            # re-runs the earlier UDF stages (re-paying recompute even
            # when the LLM cache absorbs the inference).  MEMORY_AND_
            # DISK so a large undecided set spills instead of OOMing.
            # Tracked: the staged frames feed the LAZY result, so they
            # cannot unpersist here — callers release after
            # materializing via caching.release_caches()/cache_scope()
            from semantic_olap_spark.caching import tracked_persist

            undecided = tracked_persist(undecided)
        evaluated[oid] = colname

    final = compile_logic(tree, leaf_col)
    accepted.append(
        undecided.filter(F.coalesce(final, F.lit(False))).select(*orig_cols)
    )
    out = accepted[0]
    for a in accepted[1:]:
        out = out.unionByName(a)
    return out


class PlanExecutor:
    """Run ten-operator-language plans step-by-step with lineage.

    A step is ``{"operator_name": str, "parameters": {...}}``.
    Consecutive filter steps in a flat plan are implicit AND —
    sequential ``df.filter`` chains, which Spark fuses and which
    natively realize the staged-evaluation semantics for pure-AND
    plans (SURVEY.md §4.2).  A ``filter_group`` step carries nested
    ``operations`` + ``logic`` for general boolean trees and routes
    through :func:`run_filter`.

    ``tables`` (optional) names side DataFrames for multi-table
    steps: a ``join`` step resolves ``right`` against it — the
    extension the reference's single-table language never needed
    (SURVEY.md §2.5) but real star-schema plans do.  ``register``
    adds custom single-frame operators without forking the language:
    the registered callable receives ``(df, params)``.
    """

    def __init__(
        self,
        llm_factory: LLMFactory = default_llm_factory,
        tables: Mapping[str, DataFrame] | None = None,
    ):
        if not callable(llm_factory):
            # catches e.g. PlanExecutor(spark) early — otherwise the
            # object rides into a UDF closure and fails much later
            # with an opaque SPARK-5063 pickling error
            raise TypeError(
                f"llm_factory must be callable, got {type(llm_factory).__name__}"
            )
        self.llm_factory = llm_factory
        self.lineage: list[dict] = []
        self.tables = dict(tables or {})
        self._custom: dict = {}

    def register(self, name: str, fn) -> None:
        """Add/override a plan operator: ``fn(df, params) -> DataFrame``."""
        if name in ("filter_group", "join"):
            raise ValueError(f"cannot override structural step {name!r}")
        self._custom[name] = fn

    def execute(self, df: DataFrame, plan: Sequence[Mapping]) -> DataFrame:
        for step in plan:
            df = self.execute_step(df, step)
        return df

    def _join_step(self, df: DataFrame, p: Mapping) -> DataFrame:
        right_name = p.get("right")
        if right_name not in self.tables:
            raise ValueError(
                f"join step: unknown table {right_name!r} — pass it via "
                f"PlanExecutor(tables={{...}}); have {sorted(self.tables)}"
            )
        right = self.tables[right_name]
        if p.get("select"):
            right = right.select(*p["select"])
        if p.get("broadcast"):
            right = F.broadcast(right)
        if p.get("left_on"):
            cond = df[p["left_on"]] == right[p["right_on"]]
            return df.join(right, cond, p.get("how", "inner"))
        on = p.get("on")
        if isinstance(on, str):
            on = [on]
        if not on:
            raise ValueError("join step needs on= or left_on=/right_on=")
        return df.join(right, list(on), p.get("how", "inner"))

    def execute_step(self, df: DataFrame, step: Mapping) -> DataFrame:
        name = step.get("operator_name") or step.get("operator")
        p = step_params(step)
        entry = {"operator_name": name, "parameters": p}
        if name == "filter_group":
            # the sub-plan may ride at the step's top level — record
            # the resolved form or the lineage loses the whole filter
            entry["operations"] = step.get("operations") or p.get("operations")
            entry["logic"] = step.get("logic") or p.get("logic")
        self.lineage.append(copy.deepcopy(entry))
        lf = self.llm_factory
        if name in self._custom:
            return self._custom[name](df, p)
        if name == "join":
            return self._join_step(df, p)
        if name == "filter_group":
            ops = step.get("operations") or p.get("operations")
            logic = step.get("logic") or p.get("logic")
            order = step.get("llm_leaf_order") or p.get("llm_leaf_order")
            return run_filter(df, ops, logic, lf, llm_leaf_order=order)
        if name == "num_filter":
            # DataFrame form = raw predicate = parquet pushdown
            return det.num_filter(df, p["conditions"], p.get("logic", "and"))
        if name in _FILTER_OPS:
            return df.filter(_build_cond(df, name, p, lf))
        if name == "sem_map":
            return sem.sem_map(
                df, p["columns"], p["map_description"], p["keyword"], lf
            )
        if name == "sem_group":
            # golden plans spell the instruction both ways
            # (evaluate_datas.json: group_description 10×,
            # map_description 10×)
            desc = p.get("group_description") or p.get("map_description", "")
            return sem.sem_group(
                df,
                p["columns"],
                desc,
                p["keyword"],
                lf,
                taxonomy=p.get("taxonomy"),
            )
        if name == "sem_reduce":
            return sem.sem_reduce(
                df, p["columns"], p.get("group_by"), lf, p.get("alias", "summary")
            )
        if name == "num_reduce":
            return det.num_reduce(
                df, p["columns"], p["agg"], p.get("group_by"), p.get("round_to")
            )
        if name == "count":
            return det.count_op(df, p.get("group_by"), p.get("columns", ()))
        if name == "num_topk":
            return det.num_topk(
                df, p["column"], p["k"], p.get("order", "desc"), p.get("tiebreak", ())
            )
        if name == "sem_topk":
            return sem.sem_topk(
                df,
                p.get("columns") or [p.get("column")],
                p["query"],
                p["k"],
                p.get("n_opponents", 5),
                p.get("id_col", sem.OLAP_ID),
                lf,
            )
        fn = _PIPELINE_OPS.get(name)
        if fn is not None:
            return fn(df, p)
        raise ValueError(f"unknown operator {name!r}")


# ---- pipeline operators as plan-language steps (SURVEY §7.1 M7:
# "each designed as a plan-language operator").  Single-frame ops
# only — every entry is (df, params) -> DataFrame, so NL planners and
# replayed plans can splice dedup/sampling/packing/profiling steps
# between filters exactly like the reference's own operators.


def _pipe(fn, *required, **renames):
    """Adapt functions.* signature to a (df, params) plan step."""

    def step(df: DataFrame, p: Mapping) -> DataFrame:
        kwargs = dict(p)
        for missing in (r for r in required if r not in kwargs):
            raise ValueError(f"{fn.__name__} step requires {missing!r}")
        for plan_key, arg_key in renames.items():
            if plan_key in kwargs:
                kwargs[arg_key] = kwargs.pop(plan_key)
        return fn(df, **kwargs)

    return step


def _dedup_near_step(df: DataFrame, p: Mapping) -> DataFrame:
    """minhash candidate pairs → cluster → keep best, one step."""
    from semantic_olap_spark.functions.dedup import (
        dedup_keep_best,
        minhash_lsh_pairs,
    )

    pair_kwargs = {
        k: p[k]
        for k in (
            "text_col", "id_col", "shingle_n", "num_hashes", "bands",
            "threshold", "max_bucket_size",
        )
        if k in p
    }
    pairs = minhash_lsh_pairs(df, **pair_kwargs)
    return dedup_keep_best(
        df, pairs,
        id_col=p.get("id_col", "doc_id"),
        score_col=p.get("score_col"),
    )


def _bench_pipe_contamination(df: DataFrame, p: Mapping) -> DataFrame:
    # two-frame op: the benchmark side arrives as a named temp view
    # (plan params are JSON scalars, not frames)
    from semantic_olap_spark.functions.cleaning import contamination_report

    view = p.get("benchmark_view")
    if not view:
        raise ValueError("contamination_report step requires benchmark_view")
    bench = df.sparkSession.table(view)
    kwargs = {k: p[k] for k in ("n", "text_col", "bench_text_col", "id_col")
              if k in p}
    return contamination_report(df, bench, **kwargs)


def _sentiment_step(df: DataFrame, p: Mapping) -> DataFrame:
    from pyspark.sql import functions as F

    from semantic_olap_spark.functions import sentiment_score

    return df.withColumn(
        p.get("out_col", "sentiment"),
        sentiment_score(F.col(p.get("text_col", "text"))),
    )


def _build_pipeline_ops() -> dict:
    from semantic_olap_spark.functions import (
        assemble_docs,
        bm25_topk,
        cap_per_group,
        chunk_documents,
        cohort_retention,
        dedup_exact,
        extract_entities,
        funnel,
        hash_embed,
        hash_sample,
        heuristic_filter,
        jaccard_pairs,
        minhash_lsh_pairs,
        mix_corpus,
        ngram_counts,
        ngram_lm_score,
        normalize_text,
        pack_documents,
        profile_columns,
        quantile_filter,
        quantize_embeddings,
        redact_pii,
        repetition_profile,
        reservoir_sample,
        simhash_pairs,
        stratified_sample,
        take_token_budget,
        text_profile,
        train_test_split,
        winnow_overlap_pairs,
    )
    from semantic_olap_spark.functions.sketches import top_frequent
    from semantic_olap_spark.functions.stats import corr_matrix, histogram
    from semantic_olap_spark.functions.timeseries import (
        ffill,
        resample,
        rolling_agg,
        sessionize,
    )
    from semantic_olap_spark.functions.quality import (
        quality_report,
        unique_violations,
    )
    from semantic_olap_spark.operators.fuzzy import fuzzy_pairs
    from semantic_olap_spark.operators.reshape import (
        cube_agg,
        grouping_sets_agg,
        pivot_agg,
        rollup_agg,
    )

    return {
        "pivot": _pipe(
            pivot_agg, "group_cols", "pivot_col", "pivot_values", "value_col"
        ),
        "cube": _pipe(cube_agg, "dims", "value_cols"),
        "rollup_agg": _pipe(rollup_agg, "dims", "value_cols"),
        "grouping_sets": _pipe(grouping_sets_agg, "sets", "value_cols"),
        "top_frequent": _pipe(top_frequent, "col"),
        "resample": _pipe(resample, "ts_col"),
        "ffill": _pipe(ffill, "cols", "ts_col"),
        "rolling_agg": _pipe(rolling_agg, "ts_col", "value_col", "group_by"),
        "sessionize": _pipe(sessionize, "ts_col", "group_by"),
        "fuzzy_pairs": _pipe(fuzzy_pairs, "col", "id_col"),
        "quality_report": _pipe(quality_report, "rules"),
        "topk_per_group": _pipe(det.topk_per_group, "group_by", "order_col"),
        "histogram": _pipe(histogram, "col"),
        "corr_matrix": _pipe(corr_matrix, "cols"),
        "unique_violations": _pipe(unique_violations, "cols"),
        "normalize_text": _pipe(normalize_text),
        "chunk_documents": _pipe(chunk_documents, "size"),
        "assemble_docs": _pipe(assemble_docs, "group_col"),
        "cap_per_group": _pipe(cap_per_group, "group_col", "cap"),
        "extract_entities": _pipe(extract_entities),
        "contamination_report": _bench_pipe_contamination,
        "quantize_embeddings": _pipe(quantize_embeddings),
        "hash_embed": _pipe(hash_embed),
        "sentiment": _sentiment_step,
        "text_profile": _pipe(text_profile),
        "redact_pii": _pipe(redact_pii),
        "repetition_profile": _pipe(repetition_profile),
        "heuristic_filter": _pipe(heuristic_filter),
        "take_token_budget": _pipe(take_token_budget, "budget", "score_col"),
        "dedup_exact": _pipe(dedup_exact),
        "dedup_near": _dedup_near_step,
        "jaccard_pairs": _pipe(jaccard_pairs),
        "minhash_lsh_pairs": _pipe(minhash_lsh_pairs),
        "simhash_pairs": _pipe(simhash_pairs),
        "winnow_overlap_pairs": _pipe(winnow_overlap_pairs),
        "hash_sample": _pipe(hash_sample, "fraction", "key_col"),
        "mix_corpus": _pipe(mix_corpus, "strata_col", "weights", "key_col"),
        "ngram_counts": _pipe(ngram_counts),
        "ngram_lm_score": _pipe(ngram_lm_score),
        "bm25_topk": _pipe(bm25_topk, "query"),
        "funnel": _pipe(funnel, "steps"),
        "cohort_retention": _pipe(cohort_retention),
        "stratified_sample": _pipe(
            stratified_sample, "strata_col", "fractions", "key_col"
        ),
        "train_test_split": _pipe(train_test_split, "weights", "key_col"),
        "reservoir_sample": _pipe(reservoir_sample, "n", "key_col"),
        "quantile_filter": _pipe(quantile_filter, "col", "q"),
        "pack_documents": _pipe(pack_documents, "budget"),
        "profile_columns": _pipe(profile_columns),
        "bpe_encode": _bpe_step(False),
        "bpe_token_count": _bpe_step(True),
        "pagerank": _pagerank_step,
    }


def _pagerank_step(df: DataFrame, p: Mapping) -> DataFrame:
    from semantic_olap_spark.functions.graph import pagerank

    kwargs = {
        k: p[k]
        for k in ("src", "dst", "iterations", "rank_col")
        if k in p
    }
    return pagerank(df, **kwargs)


def _bpe_step(count_only: bool):
    # merges arrive from plan JSON as [[a,b], ...]; normalize to the
    # tuple pairs the encoder ranks on
    def step(df: DataFrame, p: Mapping) -> DataFrame:
        from semantic_olap_spark.functions.bpe import (
            bpe_encode,
            bpe_token_count,
        )

        merges = [tuple(m) for m in p["merges"]]
        fn = bpe_token_count if count_only else bpe_encode
        kwargs = {
            k: p[k]
            for k in ("text_col", "out_col", "lowercase")
            if k in p
        }
        return fn(df, merges, **kwargs)

    return step


_PIPELINE_OPS = _build_pipeline_ops()
