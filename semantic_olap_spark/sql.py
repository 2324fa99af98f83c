"""SQL-first surface: semantic operators callable from ``spark.sql``.

The DataFrame API is the engine's native surface; this module makes
the semantic layer reachable from plain SQL — ``SELECT * FROM docs
WHERE sem_filter(text, 'reports a postgres error')`` — so SQL-only
clients (notebooks, BI tools, `spark-sql`) get the same operators
with the same execution shape.  Each function is built by the
DataFrame operators' own UDF builder
(:func:`~semantic_olap_spark.operators.semantic.llm_udf`) over the
session's LLM factory and reads its answers with the same answer
rules, so SQL and DataFrame results agree (``sem_map`` maps failure
markers to "NA" on both surfaces).  Catalyst treats each UDF like any
other predicate/projection (it is subject to the usual UDF placement
rules — deterministic-filter pushdown still happens below it).

Names are prefixed ``sem_`` and collide with nothing Spark ships.
Registration is per-SparkSession and idempotent (re-registering
replaces the previous binding — how Spark's UDF registry behaves).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import BooleanType, LongType, StringType

from semantic_olap_spark.llm import prompts as P
from semantic_olap_spark.llm.client import LLMFactory, default_llm_factory
from semantic_olap_spark.operators.semantic import (
    int_answer,
    llm_udf,
    text_or_na_answer,
    yes_answer,
)
from semantic_olap_spark.sources.loaders import TABLES, load_tables


def register_semantic_sql(
    spark: SparkSession,
    llm_factory: LLMFactory = default_llm_factory,
) -> list[str]:
    """Register the semantic UDFs; returns the registered names."""
    udfs = {
        "sem_filter": llm_udf(
            BooleanType(),
            lambda content, cond: P.filter_prompt(cond or "", content or ""),
            yes_answer, llm_factory,
        ),
        "sem_map": llm_udf(
            StringType(),
            lambda content, keyword, instr: P.map_prompt(
                keyword or "", instr or "", content or ""
            ),
            text_or_na_answer, llm_factory,
        ),
        "sem_same": llm_udf(
            BooleanType(),
            lambda a, b: P.dedup_pair_prompt(a or "", b or ""),
            yes_answer, llm_factory,
        ),
        "sem_score": llm_udf(
            LongType(),
            lambda content, query: P.score_prompt(query or "", content or ""),
            int_answer, llm_factory,
        ),
    }
    for name, udf in udfs.items():
        spark.udf.register(name, udf)
    return list(udfs)


def register_tables(
    spark: SparkSession, sf_dir: str, with_udfs: bool = True,
    llm_factory: LLMFactory = default_llm_factory,
) -> list[str]:
    """Temp views for every testdata table (+ the semantic UDFs).

    After this, the whole engine is reachable from ``spark.sql``:
    deterministic SQL runs native, semantic predicates through the
    registered UDFs.
    """
    names = []
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
        names.append(name)
    if with_udfs:
        register_semantic_sql(spark, llm_factory)
    return names


__all__ = ["register_semantic_sql", "register_tables", "TABLES"]
