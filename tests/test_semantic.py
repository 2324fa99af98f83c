"""Semantic operators under the deterministic stub (SURVEY.md §5 item 2).

The stub's rules are containment/token-count semantics, so each
operator has an exact SQL equivalent the DuckDB oracle can check —
the same shape the driver's t2 gate uses.
"""

import pytest
from pyspark.sql import functions as F

from semantic_olap_spark.operators.semantic import (
    filter_enum_llm,
    filter_pattern,
    sem_filter,
    sem_group,
    sem_group_sequential,
    sem_map,
    sem_reduce,
    sem_topk,
)
from semantic_olap_spark.sources.loaders import with_olap_id
from tests.conftest import assert_matches


def test_sem_filter_stub_oracle(tables, duck):
    df = sem_filter(tables["documents"], ["text"], "rows about spark")
    assert_matches(
        df, duck, "SELECT * FROM documents WHERE contains(lower(text), 'spark')"
    )


def test_sem_filter_multi_token_any(tables, duck):
    df = sem_filter(tables["documents"], ["text"], "mentions vector or stream")
    assert_matches(
        df,
        duck,
        """
        SELECT * FROM documents
        WHERE contains(lower(text), 'vector') OR contains(lower(text), 'stream')
        """,
    )


def test_sem_map_vocab(tables, duck):
    df = sem_map(
        tables["documents"],
        ["text"],
        "dominant topic, one of: vector, stream, window",
        "topic",
    ).select("doc_id", "topic")
    assert_matches(
        df,
        duck,
        """
        SELECT doc_id,
               CASE WHEN contains(lower(text), 'vector') THEN 'vector'
                    WHEN contains(lower(text), 'stream') THEN 'stream'
                    WHEN contains(lower(text), 'window') THEN 'window'
                    ELSE 'NA' END AS topic
        FROM documents
        """,
    )


def test_sem_group_two_phase(tables, duck):
    df = sem_group(
        tables["documents"],
        ["text"],
        "group by workload type, one of: scan, join, sort",
        "workload",
    ).select("doc_id", "workload")
    assert_matches(
        df,
        duck,
        """
        SELECT doc_id,
               CASE WHEN contains(lower(text), 'scan') THEN 'scan'
                    WHEN contains(lower(text), 'join') THEN 'join'
                    WHEN contains(lower(text), 'sort') THEN 'sort'
                    ELSE 'other' END AS workload
        FROM documents
        """,
    )


def test_sem_group_taxonomy_reuse(tables):
    df = sem_group(
        tables["documents"], ["text"], "irrelevant description",
        "g", taxonomy=["spark", "other"],
    )
    got = {r["g"] for r in df.select("g").distinct().collect()}
    assert got <= {"spark", "other"}


def test_sem_group_cluster_scale_path(tables):
    from semantic_olap_spark.operators.semantic import sem_group_cluster

    out = sem_group_cluster(
        tables["documents"], ["text"],
        "group by workload type, one of: scan, join, sort", "workload",
        n_clusters=6,
    )
    # original schema preserved + the new label column
    assert set(out.columns) == set(tables["documents"].columns) | {"workload"}
    labels = {r["workload"] for r in out.select("workload").distinct().collect()}
    assert labels <= {"scan", "join", "sort", "other"}
    # deterministic under the fixed seed
    again = sem_group_cluster(
        tables["documents"], ["text"],
        "group by workload type, one of: scan, join, sort", "workload",
        n_clusters=6,
    )
    a = {r["doc_id"]: r["workload"] for r in out.collect()}
    b = {r["doc_id"]: r["workload"] for r in again.collect()}
    assert a == b


def test_sem_group_sequential_parity_small(spark):
    # online minting: first row mints its first significant token
    df = spark.createDataFrame(
        [(0, "alpha alpha"), (1, "beta things"), (2, "alpha again")],
        ["OLAP_ID", "txt"],
    )
    out = sem_group_sequential(df, ["txt"], "group them", "g")
    rows = {r["OLAP_ID"]: r["g"] for r in out.collect()}
    assert rows[0] == rows[2]  # both alpha rows share the minted tag
    assert rows[1] != rows[0]


def test_sem_reduce_grouped(tables, duck):
    df = sem_reduce(tables["nation"], ["n_name"], "n_regionkey", alias="names")
    assert_matches(
        df,
        duck,
        """
        SELECT n_regionkey, string_agg(n_name, '; ' ORDER BY n_name) AS names
        FROM (SELECT DISTINCT n_regionkey, n_name FROM nation)
        GROUP BY n_regionkey
        """,
    )


def test_sem_reduce_global(tables, duck):
    df = sem_reduce(tables["region"], ["r_name"], alias="names")
    assert_matches(
        df,
        duck,
        "SELECT string_agg(r_name, '; ' ORDER BY r_name) AS names "
        "FROM (SELECT DISTINCT r_name FROM region)",
    )


def test_sem_topk_rotation_tournament(spark):
    # hand-checkable: relevance = #occurrences of 'spark'
    rows = [
        (0, "spark spark spark"),
        (1, "spark spark"),
        (2, "nothing here"),
        (3, "spark"),
        (4, "plain text"),
        (5, "spark spark spark spark"),
    ]
    df = spark.createDataFrame(rows, ["OLAP_ID", "text"])
    out = sem_topk(df, ["text"], "spark", k=3, n_opponents=3)
    got = [r["OLAP_ID"] for r in out.collect()]
    # rows 5,0,1 have the most 'spark' occurrences
    assert set(got) == {5, 0, 1}


def test_sem_topk_ties_break_by_id(spark):
    df = spark.createDataFrame(
        [(i, "same text") for i in range(5)], ["OLAP_ID", "text"]
    )
    out = sem_topk(df, ["text"], "unrelated query", k=2, n_opponents=2)
    got = [r["OLAP_ID"] for r in out.collect()]
    # all-tie tournament: stable id-ordered winners
    assert got == sorted(got)


def test_sem_topk_small_input_schema_stable(spark):
    # n <= k short-circuits without a tournament, but the output
    # schema must match the tournament path (wins column present)
    df = spark.createDataFrame([(0, "a"), (1, "b")], ["OLAP_ID", "text"])
    out = sem_topk(df, ["text"], "anything", k=5)
    assert out.columns == ["OLAP_ID", "text", "wins"]
    assert [r["OLAP_ID"] for r in out.collect()] == [0, 1]
    out2 = sem_topk(df, ["text"], "anything", k=5, keep_wins=False)
    assert out2.columns == ["OLAP_ID", "text"]


def test_sem_topk_no_single_partition_exchange(spark):
    # scale check: ranking must not funnel through one partition
    rows = [(i, f"text {i} spark" * (i % 4)) for i in range(40)]
    df = spark.createDataFrame(rows, ["OLAP_ID", "text"])
    out = sem_topk(df, ["text"], "spark", k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert out.count() == 3


def test_filter_enum(tables, duck):
    df = filter_enum_llm(tables["orders"], "o_orderpriority", "urgent priority")
    assert_matches(
        df,
        duck,
        "SELECT * FROM orders WHERE contains(lower(o_orderpriority), 'urgent')",
    )


def test_filter_enum_dict_answer_keeps_nothing(tables):
    # a keep-list answer shaped as a dict must not turn its KEYS into
    # the keep-list
    class DictLLM:
        def predict(self, prompt):
            return '{"1-URGENT": true, "2-HIGH": true}'

    df = filter_enum_llm(
        tables["orders"], "o_orderpriority", "urgent priority",
        llm_factory=DictLLM,
    )
    assert df.count() == 0


def test_filter_pattern_events_props(tables, duck):
    # props look like {"k": 69} — digit-masked template {"k": <*>}
    df = filter_pattern(tables["events"], "props", "value > 50")
    assert_matches(
        df,
        duck,
        r"""
        SELECT * FROM events
        WHERE coalesce(try_cast(regexp_extract(props, '(\d+)', 1) AS DOUBLE) > 50,
                       false)
        """,
    )


def test_filter_pattern_no_match_condition(tables):
    # a condition with no comparison yields empty plan → no rows
    df = filter_pattern(tables["events"], "props", "no numeric comparison here")
    assert df.count() == 0


def test_sem_filter_pushdown_composes(tables):
    # cheap filter composed after sem_filter still prunes parquet columns
    df = sem_filter(tables["documents"], ["text"], "spark").select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan  # semantic op runs as Arrow UDF


def test_sem_filter_retain_if_false(tables, duck):
    # reference filter_LLM(..., retain_if=False) keeps rows judged No
    # (Operaters.py:45,71-77)
    df = sem_filter(
        tables["documents"], ["text"], "rows about spark", retain_if=False
    )
    assert_matches(
        df, duck,
        "SELECT * FROM documents WHERE NOT contains(lower(text), 'spark')",
    )


def test_sem_filter_retain_if_partitions_table(tables):
    total = tables["documents"].count()
    kept = sem_filter(tables["documents"], ["text"], "rows about spark").count()
    dropped = sem_filter(
        tables["documents"], ["text"], "rows about spark", retain_if=False
    ).count()
    assert kept + dropped == total


def test_sem_join_basic(spark):
    from semantic_olap_spark.operators.semantic import sem_join

    left = spark.createDataFrame(
        [
            (1, "the spark shuffle join runs fast"),
            (2, "a scan over parquet files"),
            (3, "nothing relevant here"),
        ],
        ["doc_id", "text"],
    )
    right = spark.createDataFrame(
        [("spark",), ("scan",), ("window",)], ["topic"]
    )
    got = {
        (r["doc_id"], r["topic"])
        for r in sem_join(
            left, right, ["text"], ["topic"], "document covers the topic"
        ).collect()
    }
    assert got == {(1, "spark"), (2, "scan")}


def test_sem_join_prefilter_lossless_under_stub(tables):
    from semantic_olap_spark.operators.semantic import sem_join

    docs = tables["documents"].limit(200)
    right = docs.sparkSession.createDataFrame(
        [("spark",), ("join",)], ["topic"]
    )
    with_pref = sem_join(
        docs, right, ["text"], ["topic"], "doc covers topic"
    )
    without = sem_join(
        docs, right, ["text"], ["topic"], "doc covers topic", prefilter=False
    )
    a = {(r["doc_id"], r["topic"]) for r in with_pref.collect()}
    b = {(r["doc_id"], r["topic"]) for r in without.collect()}
    assert a == b and a


def test_sem_join_cascade_shape(tables):
    """Pin the physical plan: the coverage prefilter must live in the
    JOIN CONDITION and the judge UDF above the join, so the LLM only
    sees covered pairs (CombineFilters would otherwise merge the two
    filters and ArrowEvalPython would run on the full cross product).
    Exercises the parquet-scan path, where Spark 4.1's ArrayForAll
    pushdown bug bites (LocalRelation inputs mask it).
    """
    from semantic_olap_spark.operators.semantic import sem_join

    docs = tables["documents"]
    right = docs.sparkSession.createDataFrame(
        [("spark",), ("scan",)], ["topic"]
    )
    out = sem_join(docs, right, ["text"], ["topic"], "doc covers topic")
    out.count()  # materialize so the AQE final plan exists
    plan = out._jdf.queryExecution().executedPlan().toString()
    join_lines = [
        line for line in plan.splitlines() if "NestedLoopJoin" in line
    ]
    assert join_lines and "aggregate(_sj_toks" in join_lines[0]
    assert plan.index("ArrowEvalPython") < plan.index("NestedLoopJoin")


def test_sem_join_rejects_overlapping_columns(spark):
    import pytest

    from semantic_olap_spark.operators.semantic import sem_join

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="disjoint"):
        sem_join(df, df, ["text"], ["text"], "c")


def test_sem_join_oracle(tables, duck):
    from semantic_olap_spark.operators.semantic import sem_join

    docs = tables["documents"]
    right = docs.sparkSession.createDataFrame(
        [("spark",), ("scan",), ("window",)], ["topic"]
    )
    got = sem_join(
        docs, right, ["text"], ["topic"], "document mentions the topic"
    ).select("doc_id", "topic")
    assert_matches(
        got,
        duck,
        """
        SELECT d.doc_id, t.topic
        FROM documents d
        JOIN (VALUES ('spark'), ('scan'), ('window')) t(topic)
          ON contains(lower(d.text), t.topic)
        """,
    )


def test_sem_dedup_pairs_planted_near_dups(spark):
    from semantic_olap_spark.operators.semantic import sem_dedup_pairs

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, boiler + " alpha"),
        (2, boiler + " beta"),           # near-dup of 1 (high overlap)
        (3, "completely different text about parquet scans and joins"),
        (4, boiler + " alpha"),          # exact dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"])
        for r in sem_dedup_pairs(
            df, threshold=0.3, shingle_n=2
        ).collect()
    }
    assert (1, 4) in got            # exact dup survives both stages
    assert (1, 2) in got and (2, 4) in got
    assert not any(3 in p for p in got)


def test_sem_dedup_judge_runs_only_on_candidates(spark):
    from semantic_olap_spark.llm.client import (
        default_llm_factory,
        wrap_cost_tracking,
    )
    from semantic_olap_spark.operators.semantic import sem_dedup_pairs

    # 40 documents, two planted dup pairs: the judge must see the
    # handful of blocked candidates, NOT n*(n-1)/2 = 780 pairs
    rows = [(i, f"unique document number {i} about topic {i * 7 % 13}")
            for i in range(36)]
    rows += [
        (100, "shared boilerplate text one two three four five"),
        (101, "shared boilerplate text one two three four five"),
        (102, "another duplicated body six seven eight nine ten"),
        (103, "another duplicated body six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    factory, stats = wrap_cost_tracking(df.sparkSession, default_llm_factory)
    got = {
        (r["id_a"], r["id_b"])
        for r in sem_dedup_pairs(
            df, llm_factory=factory, threshold=0.3
        ).collect()
    }
    assert {(100, 101), (102, 103)} <= got
    assert stats.requests < 100  # candidates only, nowhere near 780


def test_sem_group_cluster_golden_pin(spark):
    """Replay-parity pin for the driver row (now the FROZEN-taxonomy
    apply path, r9: full DuckDB hash oracle via pinned centroid
    literals — see _q_sem_group_cluster).  The pandas-protocol hash
    must match tools/golden_hashes.json so pytest catches cross-round
    drift without the driver; the label histogram pins the (honest,
    degenerate) stub labeling while the cluster column carries the
    per-row discrimination.
    """
    import hashlib
    import json
    import os
    from collections import Counter

    import __spark_entry__ as entrymod
    from tests.conftest import SF_T2

    pdf = entrymod.queries()["sem_group_cluster"](spark, SF_T2).toPandas()
    hist = Counter(pdf["workload"])
    # the stub labels every sampled cluster "scan" on this corpus —
    # the histogram pin is weak alone, hence the full-frame hash too
    assert dict(hist) == {"scan": 500}

    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(str(v) for v in r)
        for r in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    golden_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "golden_hashes.json",
    )
    with open(golden_path) as fh:
        golden = json.load(fh)
    assert h.hexdigest() == golden["sem_group_cluster"]


def test_fit_cluster_taxonomy_provenance(spark):
    """The PINNED_WORKLOAD_* constants are exactly what
    fit_cluster_taxonomy produces at the driver's sf0.01 (seed 42,
    k=6) — the bpe.py PINNED_MERGES provenance discipline: the frozen
    artifact stays re-derivable, never a magic number.  Centroids are
    compared with a small tolerance (KMeans means sum doubles across
    partitions; low-order bits may vary with partitioning) and the
    pinned literals themselves must round-trip the apply path to the
    SAME assignment as the fresh fit.
    """
    from semantic_olap_spark.operators.semantic import (
        PINNED_WORKLOAD_CENTROIDS,
        PINNED_WORKLOAD_TAGS,
        WORKLOAD_VOCAB,
        fit_cluster_taxonomy,
        sem_group_cluster_apply,
    )
    from tests.conftest import SF_T2

    docs = spark.read.parquet(f"{SF_T2}/documents.parquet")
    cents, tags = fit_cluster_taxonomy(
        docs, ["text"],
        "group by workload type, one of: scan, join, sort",
        "workload", WORKLOAD_VOCAB, n_clusters=6, seed=42,
    )
    assert tuple(tags) == PINNED_WORKLOAD_TAGS
    assert len(cents) == len(PINNED_WORKLOAD_CENTROIDS)
    for got, pinned in zip(cents, PINNED_WORKLOAD_CENTROIDS):
        for g, p in zip(got, pinned):
            assert abs(g - p) < 1e-4, (got, pinned)
    # fresh fit and pinned literals induce the SAME assignment
    fresh = sem_group_cluster_apply(
        docs, ["text"], "workload", WORKLOAD_VOCAB, cents, tags,
        cluster_col="cluster",
    )
    pinned_out = sem_group_cluster_apply(
        docs, ["text"], "workload", WORKLOAD_VOCAB,
        PINNED_WORKLOAD_CENTROIDS, PINNED_WORKLOAD_TAGS,
        cluster_col="cluster",
    )
    a = {r["doc_id"]: (r["cluster"], r["workload"])
         for r in fresh.collect()}
    b = {r["doc_id"]: (r["cluster"], r["workload"])
         for r in pinned_out.collect()}
    assert a == b and len(a) == 500


def test_sem_group_cluster_apply_validation(spark):
    from semantic_olap_spark.operators.semantic import (
        sem_group_cluster_apply,
    )

    df = spark.createDataFrame([(1, "scan scan")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="centroids vs"):
        sem_group_cluster_apply(
            df, ["text"], "w", ("scan",), [[1.0]], ["a", "b"]
        )
    with pytest.raises(ValueError, match="dim"):
        sem_group_cluster_apply(
            df, ["text"], "w", ("scan", "join"), [[1.0]], ["a"]
        )


def test_taxonomy_save_load_roundtrip(spark, tmp_path):
    """fit → save → load → apply equals apply-with-in-memory-fit; the
    artifact is the fit-once / apply-anywhere contract."""
    from semantic_olap_spark.operators.semantic import (
        PINNED_WORKLOAD_CENTROIDS,
        PINNED_WORKLOAD_TAGS,
        WORKLOAD_VOCAB,
        load_taxonomy,
        save_taxonomy,
        sem_group_cluster_apply,
    )

    p = str(tmp_path / "taxonomy.json")
    save_taxonomy(
        p, WORKLOAD_VOCAB, PINNED_WORKLOAD_CENTROIDS,
        PINNED_WORKLOAD_TAGS,
    )
    vocab, cents, tags = load_taxonomy(p)
    assert vocab == list(WORKLOAD_VOCAB)
    assert tags == list(PINNED_WORKLOAD_TAGS)
    df = spark.createDataFrame(
        [(1, "scan scan filter"), (2, "join join group window")],
        ["doc_id", "text"],
    )
    a = sem_group_cluster_apply(
        df, ["text"], "w", WORKLOAD_VOCAB, PINNED_WORKLOAD_CENTROIDS,
        PINNED_WORKLOAD_TAGS, cluster_col="c",
    )
    b = sem_group_cluster_apply(
        df, ["text"], "w", vocab, cents, tags, cluster_col="c"
    )
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )
    with pytest.raises(ValueError, match="centroids vs"):
        save_taxonomy(p, vocab, cents, tags[:-1])


def test_fit_cluster_taxonomy_sample_fraction(spark):
    """The 100 TB fit posture: a seeded Bernoulli sample feeds the
    fit; the taxonomy still applies to the FULL frame."""
    from semantic_olap_spark.operators.semantic import (
        fit_cluster_taxonomy,
        sem_group_cluster_apply,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i} " + ("scan " if i % 2 else "join ") * (i % 5 + 1))
         for i in range(200)],
        ["doc_id", "text"],
    )
    cents, tags = fit_cluster_taxonomy(
        df, ["text"], "group by workload, one of: scan, join",
        "w", ("scan", "join"), n_clusters=2, sample_fraction=0.5,
    )
    assert len(cents) == 2 and len(tags) == 2
    out = sem_group_cluster_apply(
        df, ["text"], "w", ("scan", "join"), cents, tags,
        cluster_col="c",
    )
    rows = out.collect()
    assert len(rows) == 200  # apply covers the whole frame
    assert {r["c"] for r in rows} == {0, 1}
