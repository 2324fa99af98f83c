"""Loaders: JSON flatten semantics + OLAP_ID assignment."""

import gc
import json
import weakref

from pyspark.sql import functions as F
from pyspark.sql import types as T

from semantic_olap_spark.sources import loaders
from semantic_olap_spark.sources.loaders import (
    load_json_flat,
    load_table,
    with_olap_id,
)
from tests.conftest import job_count


def test_load_json_flat_stringifies_nested(spark, tmp_path):
    recs = [
        {"id": 1, "title": "a", "tags": ["x", "y"], "meta": {"k": 1}},
        {"id": 2, "title": "b", "tags": [], "meta": {"k": 2}},
    ]
    p = str(tmp_path / "recs.json")
    with open(p, "w") as f:
        json.dump(recs, f)
    df = load_json_flat(spark, p)
    # nested values become their JSON text (reference main.py:5-16)
    assert dict(df.dtypes)["tags"] == "string"
    assert dict(df.dtypes)["meta"] == "string"
    row = {r["id"]: r for r in df.collect()}
    assert json.loads(row[1]["tags"]) == ["x", "y"]
    assert json.loads(row[1]["meta"]) == {"k": 1}


def test_with_olap_id_dense_and_stable(spark):
    df = spark.createDataFrame([("c",), ("a",), ("b",)], ["v"])
    out = with_olap_id(df, order_by=["v"])
    rows = {r["v"]: r["OLAP_ID"] for r in out.collect()}
    assert rows == {"a": 0, "b": 1, "c": 2}
    # idempotent: never reassigned (SURVEY §7.4 risk 3)
    again = with_olap_id(out, order_by=["v"])
    assert again is out


def test_with_olap_id_ranks_a_frame_once_per_order(spark):
    df = spark.createDataFrame([(3, "a"), (1, "c"), (2, "b")], ["k", "v"])
    first = with_olap_id(df, order_by=["k"])
    # every engine over one frame shares its ranking: no job the 2nd time
    again, jobs = job_count(spark, lambda: with_olap_id(df, order_by=["k"]))
    assert again is first
    assert jobs == 0
    # another order is another ranking
    by_v, jobs = job_count(spark, lambda: with_olap_id(df, order_by=["v"]))
    assert by_v is not first
    assert jobs > 0
    assert {r["v"]: r["OLAP_ID"] for r in by_v.collect()} == {
        "a": 0, "b": 1, "c": 2
    }
    assert {r["k"]: r["OLAP_ID"] for r in first.collect()} == {
        1: 0, 2: 1, 3: 2
    }


def test_with_olap_id_memo_lives_as_long_as_the_frame(spark):
    df = spark.createDataFrame([(2,), (1,)], ["k"])
    with_olap_id(df, order_by=["k"])
    assert df in loaders._RANKED
    n, ref = len(loaders._RANKED), weakref.ref(df)
    del df
    gc.collect()
    # the ranking holds no reference to its source frame
    assert ref() is None
    assert len(loaders._RANKED) <= n - 1


def test_dense_ranks_parallel_no_global_window(spark):
    # the order-by path must produce exact dense 0..n-1 ranks WITHOUT
    # an unpartitioned window (the single-partition exchange is the
    # scale-killer dense_ranks exists to avoid)
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    df = spark.range(5000).select(
        ((F.col("id") * 13 + 7) % 5000).alias("k"),
        (F.col("id") % 3).alias("v"),
    )
    out = with_olap_id(df, order_by=["k"])
    rows = sorted(
        (r["k"], r["OLAP_ID"]) for r in out.select("k", "OLAP_ID").collect()
    )
    assert rows == [(i, i) for i in range(5000)]
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # rows are ranked inside the range partitions (keyed by the
    # range-partition id): no window at all, so no single partition
    assert "_dr_pid" in plan
    assert "SinglePartition" not in plan
    assert "Window" not in plan


def test_with_olap_id_sparse_unique(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], ["v"])
    out = with_olap_id(df)
    ids = [r["OLAP_ID"] for r in out.collect()]
    assert len(set(ids)) == 100


def test_events_timestamp_normalized(spark):
    # r7 contract: tz-naive encodings (TIMESTAMP(NANOS) read as long,
    # or plain micros TIMESTAMP_NTZ) surface as TIMESTAMP_NTZ — never
    # interpreted into the session TimestampType, so every downstream
    # consumer is a pure function of the stored wall-clock and
    # results are invariant to the session timezone even across DST
    # transitions (tests/test_dst_timestamps.py)
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampNTZType)
    assert ev.filter(F.col("ts").isNull()).count() == 0


def test_load_table_spark_written_roundtrip(spark, tmp_path):
    # Spark writes NTZ as naive parquet micros; a loaded-then-written
    # table must round-trip to the same type AND wall-clock values.
    # Also guards the nanos-decode misfire class: pyarrow reports
    # several encodings as timestamp[ns] — decode must only apply to
    # columns that actually surface as raw long nanos (regression:
    # the sf1 scale corpus crashed load_table with
    # `l_shipdate div 1000` on a TIMESTAMP column)
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    dst = str(tmp_path)
    ev.limit(100).write.mode("overwrite").parquet(f"{dst}/events.parquet")
    back = load_table(spark, dst, "events")
    assert isinstance(back.schema["ts"].dataType, T.TimestampNTZType)
    a = sorted(str(r["ts"]) for r in ev.limit(100).collect())
    b = sorted(str(r["ts"]) for r in back.collect())
    assert a == b


def test_load_csv_malformed_policies(spark, tmp_path):
    from semantic_olap_spark.sources.loaders import load_csv

    p = tmp_path / "in.csv"
    p.write_text("id,score\n1,2.5\n2,notanumber\n3,4.0\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    # PERMISSIVE + corrupt_col: bad row kept, raw line routed aside
    df = load_csv(
        spark, str(p), schema=schema, corrupt_col="_bad"
    ).cache()
    assert df.count() == 3
    bad = df.filter(F.col("_bad").isNotNull()).collect()
    assert len(bad) == 1 and bad[0]["_bad"] == "2,notanumber"
    # DROPMALFORMED: the row disappears
    dropped = load_csv(
        spark, str(p), schema=schema, malformed="DROPMALFORMED"
    )
    assert sorted(r["id"] for r in dropped.collect()) == [1, 3]


def test_load_jsonl_splittable_and_flatten(spark, tmp_path):
    from semantic_olap_spark.sources.loaders import load_jsonl

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "meta": {"a": 1}}\n'
        '{"id": 2, "meta": {"a": 2}}\n'
    )
    df = load_jsonl(spark, str(p), flatten=True)
    rows = {r["id"]: r["meta"] for r in df.collect()}
    assert rows == {1: '{"a":1}', 2: '{"a":2}'}
    assert isinstance(df.schema["meta"].dataType, T.StringType)


def test_flatten_json_col_typed_expansion(spark):
    from pyspark.sql import functions as F

    from semantic_olap_spark.sources.loaders import flatten_json_col

    df = spark.createDataFrame(
        [(1, '{"k": 7, "tag": "a"}'), (2, '{"k": 9, "tag": "b"}'),
         (3, None)],
        ["id", "props"],
    )
    out = flatten_json_col(df, "props")
    assert {"props_k", "props_tag"} <= set(out.columns)
    got = {r["id"]: (r["props_k"], r["props_tag"]) for r in out.collect()}
    assert got == {1: (7, "a"), 2: (9, "b"), 3: (None, None)}
    # inferred type is numeric, not string
    assert dict(out.dtypes)["props_k"] in ("bigint", "int")
    # drop + custom prefix + explicit schema
    out2 = flatten_json_col(
        df, "props", prefix="", schema="k LONG, tag STRING", drop=True
    )
    assert "props" not in out2.columns and "k" in out2.columns
    # all-null column refuses inference with a clear error
    import pytest as _pytest

    nulls = spark.createDataFrame(
        [(1, None)], "id INT, props STRING"
    )
    with _pytest.raises(ValueError, match="no non-null"):
        flatten_json_col(nulls, "props")


def test_flatten_json_col_on_events(spark, tables, duck):
    from pyspark.sql import functions as F

    from semantic_olap_spark.sources.loaders import flatten_json_col
    from tests.conftest import assert_matches

    ev = tables["events"]
    out = (
        flatten_json_col(ev, "props")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("props_k").cast("long")).alias("sum_k"),
        )
    )
    assert_matches(
        out,
        duck,
        """
        SELECT event_type, count(*) AS n,
               sum((props->>'k')::BIGINT) AS sum_k
        FROM events GROUP BY event_type
        """,
    )


def test_load_text_line_and_whole_modes(spark, tmp_path):
    from semantic_olap_spark.sources.loaders import load_text

    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("solo\n")
    lines = load_text(spark, str(d))
    assert sorted(r["text"] for r in lines.collect()) == [
        "line one", "line two", "solo",
    ]
    whole = load_text(spark, str(d), whole_files=True)
    got = {
        r["path"].rsplit("/", 1)[1]: r["text"] for r in whole.collect()
    }
    assert got == {"a.txt": "line one\nline two\n", "b.txt": "solo\n"}


def test_dense_ranks_empty_input(spark):
    from semantic_olap_spark.sources.loaders import dense_ranks_with_total

    df = spark.createDataFrame([], "k BIGINT, v STRING")
    out, total = dense_ranks_with_total(df, ["k"], "r")
    assert total == 0 and out.count() == 0
    assert "r" in out.columns


def _keyed(spark, keys):
    return spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k BIGINT, tag BIGINT"
    )


def test_dense_ranks_unique_keys_match_row_number(spark):
    from pyspark.sql import Window

    keys = [(i * 7919) % 1000 for i in range(1000)]
    out = with_olap_id(_keyed(spark, keys), order_by=["k"])
    want = _keyed(spark, keys).withColumn(
        "rn", F.row_number().over(Window.orderBy("k")) - 1
    )
    assert {r["tag"]: r["OLAP_ID"] for r in out.collect()} == {
        r["tag"]: r["rn"] for r in want.collect()
    }


def test_dense_ranks_tied_keys_permutation_in_order(spark):
    keys = [i % 7 for i in range(700)]
    rows = with_olap_id(_keyed(spark, keys), order_by=["k"]).collect()
    by_id = sorted(rows, key=lambda r: r["OLAP_ID"])
    assert [r["OLAP_ID"] for r in by_id] == list(range(len(keys)))
    assert [r["k"] for r in by_id] == sorted(keys)


def test_dense_ranks_survive_a_later_filter(spark):
    keys = [(i * 37) % 500 for i in range(500)]
    out = with_olap_id(_keyed(spark, keys), order_by=["k"])
    ids = {r["tag"]: r["OLAP_ID"] for r in out.collect()}
    kept = out.filter(F.col("k") % 3 == 0)
    got = {r["tag"]: r["OLAP_ID"] for r in kept.collect()}
    assert got and got == {t: i for t, i in ids.items() if keys[t] % 3 == 0}
    # the filter stays above the rank projection: pushed below it, the
    # rank would number only the surviving rows
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert plan.index("Filter") < plan.index("monotonically_increasing_id")


def test_dense_ranks_balanced_over_default_parallelism(spark):
    df = spark.range(5000).repartition(1).select(
        ((F.col("id") * 13 + 7) % 5000).alias("k")
    )
    out = with_olap_id(df, order_by=["k"])
    sizes = out.rdd.glom().map(len).collect()
    nparts = spark.sparkContext.defaultParallelism
    assert len(sizes) == nparts and all(sizes)
    assert sum(sizes) == 5000
    assert "Window" not in out._jdf.queryExecution().executedPlan().toString()
