"""Hybrid retrieval: fuse independent rankings; LLM-rerank candidates.

Beyond-reference operator (SURVEY.md §2.5 gap family): production
retrieval stacks rank the same corpus several ways — sparse lexical
(:func:`~semantic_olap_spark.functions.text.bm25_topk`), dense
embedding (:func:`~semantic_olap_spark.functions.similarity.cosine_topk`
/ ANN), recency or quality priors — and combine them.  Reciprocal
Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009) is the
standard parameter-light combiner:

    rrf(d) = Σ_lists  1 / (rrf_k + rank_list(d))

computed only over the lists that contain ``d``.

Scale posture: the inputs are *rankings* — top-k outputs, bounded by
construction (k rows each, not corpora).  Ranks are materialized
with a global ``row_number`` window per input, which is a
single-partition sort of at most k rows — the one place in the
package where a global window is correct because the input is
bounded before the window, not by it.  The fusion itself is a
union + one k-bounded ``groupBy``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

__all__ = ["llm_rerank", "rrf_fuse"]


def llm_rerank(
    candidates: DataFrame,
    text_col: str,
    query: str,
    k: int,
    id_col: str = "doc_id",
    llm_factory=None,
    score_col: str = "llm_score",
    max_candidates: int | None = 1000,
) -> DataFrame:
    """Cross-encoder-style rerank: LLM-score each *candidate* against
    the query, keep the top ``k``.

    The second stage of the standard retrieval cascade: a cheap
    ranker (BM25 / ANN / token score) bounds the candidate set, then
    the expensive judge reads only that slice — LLM cost is
    ``|candidates|``, never corpus size.  Because a whole corpus
    passed by accident would silently become per-row LLM calls, the
    input is size-checked against ``max_candidates`` (pass ``None``
    only when the caller already guarantees boundedness).

    Scoring: one ``sem_score`` prompt per row (Arrow-batched pandas
    UDF; under the deterministic stub the score is the query-token
    occurrence count — exactly SQL-expressible, which is what lets
    the driver oracle check the full cascade).  A reply with no
    integer scores 0 (never NULL — a backend hiccup must not eject a
    candidate).  Final order: ``(score desc, id asc)``; the sort is
    global but k-bounded (TakeOrderedAndProject over an
    already-bounded input — same justification as :func:`rrf_fuse`).

    Observability note: accumulator-based call counting
    (``CountingLLM``) under-reports in limit-bearing plans — see the
    CountingLLM docstring; every candidate IS scored exactly once.

    The size guard ``persist``s (memory-and-disk) the
    ``limit(max_candidates + 1)`` slice — at most that many rows
    materialize, never a whole mistaken corpus — then both the
    guard's count and the scored run read the cached slice, so an
    expensive candidate producer (bm25_topk, a semantic operator
    with its own LLM UDFs) runs exactly once per invocation, not
    twice.  (When the guard passes, the slice IS the full candidate
    set: ``limit(n + 1)`` with ≤ n input rows returns every row.)
    ``persist`` rather than ``localCheckpoint``: a checkpoint drops
    lineage, so losing an executor (or a dynamic-allocation
    scale-in) mid-query would fail the job; the cached slice just
    recomputes — the worst case is the producer running twice, the
    failure case never.  Slice-identity caveat of that trade (r6
    ADVICE): ``limit`` over an unordered producer is
    non-deterministic, so IF cached blocks are evicted/lost and the
    slice recomputes, the recomputed ``limit(n + 1)`` rows may
    differ from the rows the guard counted — the guard's boundedness
    verdict still holds (row COUNT is stable), but the scored set
    can silently diverge from the counted set mid-query.  Order the
    candidate input (or pass an already-deterministic producer) when
    exact slice identity matters more than surviving executor loss.
    Pass ``max_candidates=None`` when the input is already provably
    bounded to skip both the cache and the count.
    """
    from semantic_olap_spark.llm import prompts as P
    from semantic_olap_spark.llm.client import default_llm_factory
    from semantic_olap_spark.operators.semantic import int_answer, llm_udf

    factory = llm_factory or default_llm_factory
    if max_candidates is not None:
        from pyspark import StorageLevel

        from semantic_olap_spark.caching import tracked_persist

        # tracked (r6 ADVICE leak): the slice feeds the lazy scored
        # result, so it cannot unpersist here — callers release after
        # materializing via caching.release_caches()/cache_scope()
        bounded = tracked_persist(
            candidates.limit(max_candidates + 1),
            StorageLevel.MEMORY_AND_DISK,
        )
        n = bounded.count()
        if n > max_candidates:
            raise ValueError(
                f"llm_rerank got > {max_candidates} candidates — this "
                f"operator is the rerank stage of a cascade, not a "
                f"corpus scanner; prescreen first (bm25_topk / ANN / "
                f"a token score) or raise/disable max_candidates"
            )
        candidates = bounded
    scorer = llm_udf(
        LongType(),
        lambda t: P.score_prompt(query, P.row_content([text_col], [t])),
        int_answer, factory,
    )
    return (
        candidates.withColumn(
            score_col, scorer(F.col(text_col).cast("string"))
        )
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def rrf_fuse(
    ranked: Sequence[DataFrame],
    id_col: str = "doc_id",
    score_cols: Sequence[str] | None = None,
    k: int = 10,
    rrf_k: int = 60,
    score_col: str = "rrf",
    round_to: int = 6,
) -> DataFrame:
    """Fuse ≥2 ranked frames by Reciprocal Rank Fusion.

    Each input frame holds one ranking of the same id space:
    ``id_col`` plus a score column (named in ``score_cols``, or the
    single non-id column).  Ranking within each list is
    ``(score desc, id asc)`` — the package-wide stable ordering — and
    ranks are 1-based.  Returns the top ``k`` ids by fused score
    (``score desc, id asc``), with the score rounded to ``round_to``
    so the ordering is bit-stable across engines.

    Ids missing from a list simply contribute no term for it (the
    standard RRF convention), so lists of different lengths and
    different coverage fuse without alignment.
    """
    if len(ranked) < 2:
        raise ValueError(f"need >= 2 rankings to fuse, got {len(ranked)}")
    if score_cols is None:
        score_cols = []
        for i, df in enumerate(ranked):
            rest = [c for c in df.columns if c != id_col]
            if len(rest) != 1:
                raise ValueError(
                    f"ranking #{i} has columns {df.columns}; pass "
                    f"score_cols to name the score column explicitly"
                )
            score_cols.append(rest[0])
    elif len(score_cols) != len(ranked):
        raise ValueError(
            f"{len(score_cols)} score_cols for {len(ranked)} rankings"
        )
    parts = []
    for df, sc in zip(ranked, score_cols):
        w = Window.orderBy(F.col(sc).desc(), F.col(id_col).asc())
        parts.append(
            df.select(
                F.col(id_col),
                (1.0 / (F.lit(int(rrf_k)) + F.row_number().over(w)))
                .alias("_contrib"),
            )
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return (
        unioned.groupBy(id_col)
        .agg(F.round(F.sum("_contrib"), round_to).alias(score_col))
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(int(k))
    )
