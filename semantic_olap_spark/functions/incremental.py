"""Incremental aggregate maintenance: mergeable exact states.

The reference memoizes whole *result tables* on granularity views
(Semantic-OLAP/Agents/Components/OLAP_Memory.py:76-77 ``set_view``) —
a cache that must be thrown away whenever new rows arrive.  At 100 TB
with continuous ingest, the production posture is instead
*incremental view maintenance*: keep per-group aggregate **state**
(count / decimal sum / min / max per metric), fold each new batch's
state in with a pure merge, and finalize to user-facing aggregates
(count / sum / avg / min / max) on read.  Every piece is
order-independent and exactly mergeable:

- counts and decimal sums form a commutative monoid (decimal
  addition is exact — no float reassociation drift, so a state
  merged batch-by-batch is bit-identical to a single global
  aggregate);
- min/max are idempotent semilattice ops;
- avg is derived at finalize time as ``exact_sum / count`` (never
  stored — stored averages don't merge).

This is the same contract as the HLL sketch path
(functions/sketches.py) but for the exact algebraic aggregates; the
two compose — a state table can carry both decimal sums and HLL
binaries, each merged with its own operator.

Scale shape: ``agg_state`` is one partial-aggregate shuffle per
batch (map-side combine, one row per group crosses the wire);
``merge_agg_states`` shuffles only state rows (|groups|, not |data|).
The full-history recompute this replaces is a scan of every batch
ever ingested.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# decimal(38,6): exact for anything the testdata or a TPC-H-ish
# schema produces; 6 fractional digits matches the oracle casts used
# across the driver contract (__spark_entry__ pricing_summary)
_DEC = "decimal(38,6)"

# quantile-state frame columns that are NOT group keys
_QSTATE_RESERVED = {"counts", "cnt", "min", "max"}


def _metric_cols(metrics: Sequence[str]) -> list[str]:
    out = []
    for m in metrics:
        out += [f"{m}_count", f"{m}_sum", f"{m}_min", f"{m}_max"]
    return out


def agg_state(
    df: DataFrame,
    metrics: Sequence[str],
    group_by: str | Sequence[str] | None = None,
) -> DataFrame:
    """One mergeable aggregate-state row per group for this batch.

    State columns per metric ``m``: ``m_count`` (non-null rows),
    ``m_sum`` (exact decimal), ``m_min``, ``m_max``; plus ``n``
    (total batch rows per group).
    """
    keys = [group_by] if isinstance(group_by, str) else list(group_by or [])
    aggs = [F.count(F.lit(1)).alias("n")]
    for m in metrics:
        c = F.col(m)
        aggs += [
            F.count(c).alias(f"{m}_count"),
            F.sum(c.cast(_DEC)).alias(f"{m}_sum"),
            F.min(c).alias(f"{m}_min"),
            F.max(c).alias(f"{m}_max"),
        ]
    return (df.groupBy(*keys) if keys else df.groupBy()).agg(*aggs)


def merge_agg_states(
    states: Sequence[DataFrame],
    metrics: Sequence[str],
    group_by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Fold any number of per-batch states into one state per group.

    Pure state-level merge: groups absent from one batch simply
    contribute nothing (union semantics), so batches never need
    aligned group sets.  Associative and commutative — fold order
    does not matter, which is what makes the state a durable artifact
    (write per-batch states partitioned by ingest date; merge lazily).
    """
    if not states:
        raise ValueError("need at least one state frame")
    keys = [group_by] if isinstance(group_by, str) else list(group_by or [])
    unioned = states[0]
    for s in states[1:]:
        unioned = unioned.unionByName(s)
    aggs = [F.sum("n").alias("n")]
    for m in metrics:
        aggs += [
            F.sum(f"{m}_count").alias(f"{m}_count"),
            F.sum(F.col(f"{m}_sum").cast(_DEC)).alias(f"{m}_sum"),
            F.min(f"{m}_min").alias(f"{m}_min"),
            F.max(f"{m}_max").alias(f"{m}_max"),
        ]
    return (unioned.groupBy(*keys) if keys else unioned.groupBy()).agg(*aggs)


def quantile_state(
    df: DataFrame,
    metric: str,
    lo: float,
    hi: float,
    nbins: int = 64,
    group_by: str | Sequence[str] | None = None,
) -> DataFrame:
    """One mergeable quantile-state row per group for this batch.

    The exact-percentile path (``functions/sampling.py``) needs a
    global sort — fine per query, wrong for a continuously-maintained
    view at 100 TB.  This state is the mergeable alternative: a
    fixed-bin histogram (``counts`` array of ``nbins`` BIGINTs over
    ``[lo, hi]``, values clamped into the edge bins) plus exact
    ``min``/``max``/``cnt``.  Everything is integer counts —
    elementwise array addition is the merge, so batch-folded state is
    bit-identical to a one-shot build, and the finalize error is
    bounded by one bin width.  All bin math is plain IEEE-double
    arithmetic with a fixed operation order, so a SQL engine
    reproduces it bit-for-bit (the driver oracle does).

    Scale shape: one partial-aggregate shuffle per batch; one row of
    ``nbins`` longs per group crosses the wire.
    """
    if nbins < 1:
        raise ValueError("nbins must be >= 1")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    keys = [group_by] if isinstance(group_by, str) else list(group_by or [])
    clash = sorted(set(keys) & _QSTATE_RESERVED)
    if clash:
        # finalize_quantiles infers keys as "not a state column"; a
        # group key named like one would silently vanish from the
        # decoded output — refuse at build time instead
        raise ValueError(
            f"group key(s) {clash} collide with the reserved quantile-"
            f"state column names {sorted(_QSTATE_RESERVED)}; rename "
            f"the column (e.g. .withColumnRenamed) before grouping"
        )
    c = F.col(metric).cast("double")
    # fixed operation order: (x - lo) * nbins, then / (hi - lo) —
    # mirrored verbatim in the SQL oracle so floor() agrees exactly
    raw_bin = F.floor((c - F.lit(float(lo))) * F.lit(float(nbins))
                      / F.lit(float(hi) - float(lo)))
    bin_idx = F.least(F.greatest(raw_bin, F.lit(0)), F.lit(nbins - 1))
    # Two-level aggregation (r14, guide §2.3 "aggregate before you
    # shuffle"): the former single groupBy carried 64 conditional
    # COUNT aggregates, i.e. ~64 aggregate-buffer updates PER ROW.
    # Level 1 groups by (keys, bin) — one floor + one hash-agg probe
    # per row, map-side combined to at most |groups|·(nbins+1) rows —
    # and level 2 pivots those tiny rows into the dense counts array.
    # Bit-identical output: integer counts per bin, exact min/max/cnt
    # (a group whose metric values are all NULL keeps its row via the
    # null-bin level-1 row; null bins are excluded from the map so
    # its counts stay all-zero, cnt 0, min/max NULL — same as before).
    lvl1 = (
        df.groupBy(*keys, bin_idx.alias("_qs_bin"))
        .agg(
            F.count(c).alias("_qs_n"),
            F.min(c).alias("_qs_min"),
            F.max(c).alias("_qs_max"),
        )
    )
    entries = F.filter(
        F.collect_list(F.struct(F.col("_qs_bin"), F.col("_qs_n"))),
        lambda s: s["_qs_bin"].isNotNull(),
    )
    bin_map = F.map_from_entries(entries)
    dense = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(nbins - 1).cast("long")),
        lambda i: F.coalesce(
            F.element_at(bin_map, i), F.lit(0).cast("long")
        ),
    )
    return (
        (lvl1.groupBy(*keys) if keys else lvl1.groupBy())
        .agg(
            dense.alias("counts"),
            # keyless empty input: sum over no rows is NULL, the count 0
            F.coalesce(F.sum("_qs_n"), F.lit(0).cast("long")).alias("cnt"),
            F.min("_qs_min").alias("min"),
            F.max("_qs_max").alias("max"),
        )
    )


def merge_quantile_states(
    states: Sequence[DataFrame],
    group_by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Fold per-batch quantile states: elementwise counts addition.

    Associative/commutative (integer adds + min/max semilattice), so
    fold order never matters.  Shuffles only state rows.
    """
    if not states:
        raise ValueError("need at least one state frame")
    keys = [group_by] if isinstance(group_by, str) else list(group_by or [])
    unioned = states[0]
    for s in states[1:]:
        unioned = unioned.unionByName(s)
    # collect_list of per-batch arrays per group (|batches| rows —
    # bounded), then elementwise zip_with fold; no per-element explode
    grouped = (unioned.groupBy(*keys) if keys else unioned.groupBy()).agg(
        F.collect_list("counts").alias("_cs"),
        F.sum("cnt").alias("cnt"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    )
    folded = F.aggregate(
        F.expr("slice(_cs, 2, size(_cs) - 1)"),
        F.element_at("_cs", 1),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    return grouped.select(
        *keys, folded.alias("counts"), "cnt", "min", "max"
    )


def finalize_quantiles(
    state: DataFrame,
    lo: float,
    hi: float,
    qs: Sequence[float] = (0.5,),
    group_by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Decode quantile states to per-group quantile estimates.

    Deterministic rule: for each ``q``, the answer is the upper edge
    of the first bin whose cumulative count reaches
    ``ceil(q * cnt)`` (clamped to ``>= 1``), except ``q = 0`` → exact
    ``min`` and ``q = 1`` → exact ``max``.  Edge math uses the fixed
    order ``lo + ((i + 1) * (hi - lo)) / nbins`` so SQL mirrors are
    bit-exact.  Error ≤ one bin width by construction (pytest pins
    this against the exact sort-based percentile).

    Output: group keys, ``cnt``, and one ``q_<q>`` double per
    requested quantile (dots become underscores: ``q_0_5``).

    ``group_by`` names the key columns explicitly (same spelling as
    :func:`quantile_state`); when omitted, keys are inferred as every
    column that is not a reserved state column — safe because
    ``quantile_state`` refuses keys named like one.
    """
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
    if group_by is not None:
        keys = [group_by] if isinstance(group_by, str) else list(group_by)
        missing = [k for k in keys if k not in state.columns]
        if missing:
            raise ValueError(f"group_by columns {missing} not in state "
                             f"frame {state.columns}")
    else:
        keys = [c for c in state.columns if c not in _QSTATE_RESERVED]
    span = float(hi) - float(lo)
    nbins = F.size("counts")

    def _edge(i: F.Column) -> F.Column:
        return F.lit(float(lo)) + (
            (i + F.lit(1)).cast("double") * F.lit(span)
        ) / nbins.cast("double")

    out = [F.col(c) for c in keys] + [F.col("cnt")]
    for q in qs:
        name = "q_" + str(q).replace(".", "_")
        if q == 0.0:
            out.append(F.col("min").alias(name))
            continue
        if q == 1.0:
            out.append(F.col("max").alias(name))
            continue
        rank = F.greatest(
            F.ceil(F.lit(float(q)) * F.col("cnt").cast("double")), F.lit(1)
        )
        # running cumulative inside a fold over (index, count) pairs:
        # acc = (cum, found_idx); found_idx fixes at the first bin
        # reaching the rank
        idx = F.aggregate(
            F.arrays_zip(
                F.sequence(F.lit(0), nbins - F.lit(1)).alias("i"),
                F.col("counts").alias("c"),
            ),
            F.struct(
                F.lit(0).cast("bigint").alias("cum"),
                F.lit(-1).alias("idx"),
            ),
            lambda acc, x: F.struct(
                (acc["cum"] + x["c"]).alias("cum"),
                F.when(
                    (acc["idx"] < 0) & (acc["cum"] + x["c"] >= rank),
                    x["i"],
                ).otherwise(acc["idx"]).alias("idx"),
            ),
            lambda acc: acc["idx"],
        )
        est = F.when(F.col("cnt") == 0, F.lit(None).cast("double")).otherwise(
            F.least(_edge(idx), F.col("max"))
        )
        out.append(est.alias(name))
    return state.select(*out)


def finalize_agg(
    state: DataFrame,
    metrics: Sequence[str],
    round_to: int = 6,
) -> DataFrame:
    """Decode a state frame to user-facing aggregates.

    Per metric: ``m_count`` (non-null rows), ``m_sum`` (rounded
    double), ``m_avg`` (= exact decimal sum cast to double, divided
    by count — the deterministic division order used across the
    driver oracles), ``m_min``, ``m_max``; group keys and ``n`` pass
    through.
    """
    cols = [c for c in state.columns if c not in set(_metric_cols(metrics))]
    out = [F.col(c) for c in cols]
    for m in metrics:
        s = F.col(f"{m}_sum")
        cnt = F.col(f"{m}_count")
        out += [
            cnt.alias(f"{m}_count"),
            F.round(s, round_to).cast("double").alias(f"{m}_sum"),
            F.round(
                s.cast("double") / F.nullif(cnt, F.lit(0)), round_to
            ).alias(f"{m}_avg"),
            F.col(f"{m}_min"),
            F.col(f"{m}_max"),
        ]
    return state.select(*out)
