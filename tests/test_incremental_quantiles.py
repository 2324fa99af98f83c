"""Mergeable quantile states (functions/incremental.py).

Contracts:
- batch-folded state == one-shot state, bit-exact (the merge is
  elementwise integer addition — a commutative monoid);
- finalize error vs the exact sort-based percentile is bounded by
  one bin width;
- q=0 / q=1 decode to the exact min / max carried in the state;
- nulls never count; empty-count groups finalize to NULL;
- input validation raises early.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import fuzz_budget
from semantic_olap_spark.functions.incremental import (
    finalize_quantiles,
    merge_quantile_states,
    quantile_state,
)

LO, HI, NBINS = 0.0, 600_000.0, 64
BINW = (HI - LO) / NBINS


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet("/root/testdata/sf0.001/orders.parquet")


def test_merge_parity_three_batches(orders):
    whole = quantile_state(
        orders, "o_totalprice", LO, HI, NBINS, group_by="o_orderpriority"
    )
    parts = [
        quantile_state(
            orders.filter(F.col("o_orderkey") % 3 == i),
            "o_totalprice", LO, HI, NBINS, group_by="o_orderpriority",
        )
        for i in range(3)
    ]
    merged = merge_quantile_states(parts, group_by="o_orderpriority")
    a = sorted(whole.collect(), key=lambda r: r["o_orderpriority"])
    b = sorted(merged.collect(), key=lambda r: r["o_orderpriority"])
    assert a == b  # bit-exact, not approximately


def test_fold_order_free(orders):
    parts = [
        quantile_state(
            orders.filter(F.col("o_orderkey") % 3 == i),
            "o_totalprice", LO, HI, NBINS, group_by="o_orderpriority",
        )
        for i in range(3)
    ]
    ab = merge_quantile_states(parts, group_by="o_orderpriority")
    ba = merge_quantile_states(parts[::-1], group_by="o_orderpriority")
    assert sorted(ab.collect()) == sorted(ba.collect())


def test_error_bound_vs_exact(orders):
    st = quantile_state(
        orders, "o_totalprice", LO, HI, NBINS, group_by="o_orderpriority"
    )
    est = {
        r["o_orderpriority"]: (r["q_0_5"], r["q_0_95"])
        for r in finalize_quantiles(st, LO, HI, qs=[0.5, 0.95]).collect()
    }
    exact = {
        r["o_orderpriority"]: (r["p50"], r["p95"])
        for r in orders.groupBy("o_orderpriority").agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
        ).collect()
    }
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k][0] - exact[k][0]) <= BINW
        assert abs(est[k][1] - exact[k][1]) <= BINW


def test_q0_q1_exact_min_max(orders):
    st = quantile_state(orders, "o_totalprice", LO, HI, NBINS)
    row = finalize_quantiles(st, LO, HI, qs=[0.0, 1.0]).collect()[0]
    exact = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    ).collect()[0]
    assert row["q_0_0"] == exact["mn"]
    assert row["q_1_0"] == exact["mx"]


def test_out_of_range_values_clamp_to_edge_bins(spark):
    df = spark.createDataFrame(
        [(-50.0,), (5.0,), (95.0,), (150.0,)], "v double"
    )
    st = quantile_state(df, "v", 0.0, 100.0, 10)
    counts = st.collect()[0]["counts"]
    assert counts[0] == 2  # -50 clamps into bin 0
    assert counts[-1] == 2  # 150 clamps into bin 9
    assert sum(counts) == 4


def test_nulls_ignored_and_empty_group_null(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", None)], "g string, v double"
    )
    st = quantile_state(df, "v", 0.0, 10.0, 4, group_by="g")
    out = {r["g"]: r for r in finalize_quantiles(st, 0.0, 10.0, [0.5]).collect()}
    assert out["a"]["cnt"] == 1 and out["a"]["q_0_5"] is not None
    assert out["b"]["cnt"] == 0 and out["b"]["q_0_5"] is None


def test_keyless_empty_input_counts_zero(spark):
    df = spark.createDataFrame([], "v double")
    row = quantile_state(df, "v", 0.0, 10.0, 4).collect()[0]
    assert row["cnt"] == 0 and row["counts"] == [0, 0, 0, 0]
    assert row["min"] is None and row["max"] is None


def test_single_bin_degenerate(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
    st = quantile_state(df, "v", 0.0, 10.0, 1)
    row = finalize_quantiles(st, 0.0, 10.0, [0.5]).collect()[0]
    # one bin: the estimate is min(upper edge, max) = max
    assert row["q_0_5"] == 3.0


def test_validation():
    with pytest.raises(ValueError, match="nbins"):
        quantile_state(None, "v", 0.0, 1.0, 0)
    with pytest.raises(ValueError, match="hi > lo"):
        quantile_state(None, "v", 1.0, 1.0, 4)
    with pytest.raises(ValueError, match="need at least one"):
        merge_quantile_states([])


def test_quantile_out_of_range(orders):
    st = quantile_state(orders, "o_totalprice", LO, HI, NBINS)
    with pytest.raises(ValueError, match="outside"):
        finalize_quantiles(st, LO, HI, qs=[1.5])


# ---- hypothesis: merge parity under arbitrary values and splits -------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_HSETTINGS = dict(
    max_examples=fuzz_budget(12, 5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_VALS = st.lists(
    st.floats(min_value=-1e6, max_value=1e6,
              allow_nan=False, allow_infinity=False),
    min_size=0, max_size=50,
)


@settings(**_HSETTINGS)
@given(vals=_VALS, nsplit=st.integers(min_value=1, max_value=4))
def test_merge_parity_random_values_and_splits(spark, vals, nsplit):
    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "i long, v double") if rows else (
        spark.createDataFrame([], "i long, v double")
    )
    whole = quantile_state(df, "v", -1e6, 1e6, 16).collect()
    parts = [
        quantile_state(df.filter(F.col("i") % nsplit == j), "v",
                       -1e6, 1e6, 16)
        for j in range(nsplit)
    ]
    merged = merge_quantile_states(parts).collect()
    assert merged == whole  # bit-exact under any split
    if vals:
        got = finalize_quantiles(
            quantile_state(df, "v", -1e6, 1e6, 16), -1e6, 1e6, [0.5]
        ).collect()[0]["q_0_5"]
        exact = sorted(vals)[max(0, -(-len(vals) // 2) - 1)]
        assert abs(got - exact) <= (2e6 / 16) + 1e-6
