"""SQL surface: spark.sql + registered semantic UDFs == DataFrame API."""

from __future__ import annotations

from semantic_olap_spark.sql import register_semantic_sql, register_tables
from tests.conftest import assert_matches


def test_sql_sem_filter_matches_dataframe_op(spark, tables, sf_dir):
    from semantic_olap_spark.operators.semantic import sem_filter

    register_tables(spark, sf_dir)
    via_sql = spark.sql(
        "SELECT doc_id FROM documents "
        "WHERE sem_filter(text, 'rows about spark')"
    )
    via_df = sem_filter(
        tables["documents"], ["text"], "rows about spark"
    ).select("doc_id")
    a = {r["doc_id"] for r in via_sql.collect()}
    b = {r["doc_id"] for r in via_df.collect()}
    assert a == b and a


def test_sql_mixed_deterministic_and_semantic(spark, sf_dir, duck):
    register_tables(spark, sf_dir)
    out = spark.sql(
        """
        SELECT source, count(*) AS n
        FROM documents
        WHERE n_chars > 200 AND sem_filter(text, 'mentions window')
        GROUP BY source
        """
    )
    # stub rule: any condition token appears in the content
    assert_matches(
        out,
        duck,
        """
        SELECT source, count(*) AS n
        FROM documents
        WHERE n_chars > 200
          AND (contains(lower(text), 'mentions')
               OR contains(lower(text), 'window'))
        GROUP BY source
        """,
    )


def test_sql_sem_map_and_same(spark, sf_dir):
    register_tables(spark, sf_dir)
    row = spark.sql(
        "SELECT sem_map(text, 'topic', 'main topic word') AS t, "
        "       sem_same(text, text) AS s "
        "FROM documents LIMIT 1"
    ).collect()[0]
    assert isinstance(row["t"], str) and row["t"]
    assert row["s"] is True  # identical texts are duplicates


def test_sql_sem_map_failure_marker_is_na(spark):
    # same answer rule as DataFrame sem_map: failure markers -> "NA"
    answers = {"qq1": " unknown ", "qq2": "", "qq3": "N/A", "qq4": " spark "}

    class MarkerLLM:
        def predict_batch(self, prompts):
            return [next(a for k, a in answers.items() if k in p)
                    for p in prompts]

    register_semantic_sql(spark, llm_factory=MarkerLLM)
    try:
        rows = spark.sql(
            "SELECT t, sem_map(t, 'topic', 'main topic') AS m FROM VALUES "
            "('qq1'), ('qq2'), ('qq3'), ('qq4') AS v(t)"
        ).collect()
    finally:
        register_semantic_sql(spark)
    assert {r["t"]: r["m"] for r in rows} == {
        "qq1": "NA", "qq2": "NA", "qq3": "NA", "qq4": "spark",
    }


def test_pushdown_below_semantic_udf(spark, sf_dir):
    import io
    from contextlib import redirect_stdout

    register_tables(spark, sf_dir)
    q = spark.sql(
        "SELECT doc_id FROM documents "
        "WHERE n_chars > 300 AND sem_filter(text, 'about joins')"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    # the deterministic predicate must reach the scan even with the
    # UDF in the WHERE clause
    assert "PushedFilters" in plan and "n_chars" in plan.split(
        "PushedFilters"
    )[1][:200]


def test_register_is_idempotent(spark):
    names = register_semantic_sql(spark)
    names2 = register_semantic_sql(spark)
    assert names == names2 == [
        "sem_filter", "sem_map", "sem_same", "sem_score",
    ]


def test_sql_sem_score_rerank(spark, sf_dir):
    # SQL-only rerank: ORDER BY sem_score(...) — same stub semantics
    # as the DataFrame llm_rerank judge (token occurrences)
    register_tables(spark, sf_dir)
    rows = spark.sql(
        "SELECT doc_id, sem_score(text, 'spark join') AS s "
        "FROM documents ORDER BY s DESC, doc_id ASC LIMIT 5"
    ).collect()
    assert len(rows) == 5 and rows[0]["s"] >= rows[-1]["s"] > 0
    top = spark.sql(
        "SELECT lower(text) AS t FROM documents WHERE doc_id = "
        + str(rows[0]["doc_id"])
    ).collect()[0]["t"]
    # the content itself is not the prompt: scores count occurrences
    # over the "text: <text>" rendering, same as the judge
    hand = ("text: " + top).count("spark") + ("text: " + top).count("join")
    assert hand == rows[0]["s"]
