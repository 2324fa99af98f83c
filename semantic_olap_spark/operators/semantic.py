"""Semantic (LLM-backed) operators as Arrow-batched pandas UDFs.

Operators 1/4/5/6/10 of the reference contract (SURVEY.md §2.1) plus
the physical filter specializations (§2.2).  The reference executes
all of these as sequential per-row ``llm.predict`` loops
(Semantic-OLAP/Agents/Components/Operaters.py:76,347,381,471) — the
single biggest scalability wall.  Here every per-row operator is an
Arrow-batched ``pandas_udf`` so batches stream to Python workers in
columnar form and a real LLM backend can fan each batch out
concurrently; driver-side work is bounded (taxonomy samples, enum
preview ≤ 100, ≤ max_templates regex plans — the reference's own caps,
Operaters.py:286,221-223).

Operators receive a picklable ``llm_factory`` (defaults to the
deterministic stub) and call it inside the Python worker, never on the
driver.  The client and its prompt cache live for one task: the UDF's
closure state is unpickled with the UDF for every task, so nothing is
shared across tasks.  Every per-row LLM call goes through :func:`llm_udf`,
and every answer is read by one of the answer rules beside it.
"""

from __future__ import annotations

import json
import re
import weakref
from contextlib import contextmanager
from typing import Callable, NamedTuple, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DataType, MapType, StringType

from semantic_olap_spark.llm import prompts as P
from semantic_olap_spark.llm.client import LLMFactory, default_llm_factory
from semantic_olap_spark.llm.repair import parse_llm_json
from semantic_olap_spark.operators.deterministic import _NUM_OPS

OLAP_ID = "OLAP_ID"


def llm_udf(
    return_type: DataType,
    prompt_of_row: Callable[..., str],
    parse_answer: Callable[[str], object],
    llm_factory: LLMFactory,
):
    """Arrow-batched pandas UDF making one LLM call per row.

    The client is built lazily inside the worker on the first batch
    (never on the driver) and reused for later batches; each batch is
    ONE ``predict_batch`` over ``prompt_of_row(*row_values)``, and each
    answer is mapped through ``parse_answer`` (one of the rules below).
    """
    state: dict = {}

    @F.pandas_udf(return_type)
    def call(*series: pd.Series) -> pd.Series:
        llm = state.get("llm")
        if llm is None:
            llm = state["llm"] = llm_factory()
        prompts = [prompt_of_row(*vals) for vals in zip(*series)]
        return pd.Series([parse_answer(a) for a in llm.predict_batch(prompts)])

    return call


# ---- answer rules: every LLM answer is read by exactly one of these
# (plain text answers use ``str.strip``)


def yes_answer(answer: str) -> bool:
    """Yes/No judge: anything but a "y..." answer is False."""
    return answer.strip().lower().startswith("y")


def a_wins_answer(answer: str) -> bool:
    """Pairwise judge: True when the answer names candidate A."""
    return answer.strip().upper().startswith("A")


def text_or_na_answer(answer: str) -> str:
    """Stripped text with failure markers mapped to "NA".

    The reference maps ''/'NA'/'N/A'/'UNKNOWN' case-insensitively
    (Operaters.py ask_llm) so backend hiccups don't leak as distinct
    values.
    """
    answer = answer.strip()
    return "NA" if answer.upper() in ("", "NA", "N/A", "UNKNOWN") else answer


def int_answer(answer: str) -> int:
    """First integer in the answer; 0 (never NULL) when there is none."""
    m = re.search(r"-?\d+", answer)
    return int(m.group()) if m else 0


def summarizer(columns: Sequence[str], llm_factory: LLMFactory):
    """sem_reduce's per-group summary UDF over a sorted value array."""
    cols = list(columns)
    return llm_udf(
        StringType(), lambda vals: P.reduce_prompt(cols, list(vals)),
        str.strip, llm_factory,
    )


def spread_for_inference(df: DataFrame) -> DataFrame:
    """Widen under-partitioned input before a per-row LLM pass.

    A small/unsplittable source (single parquet row group) funnels a
    semantic operator through one Python worker.  With a REAL
    inference backend (per-row latency in the tens of ms) that is
    catastrophic and this repartition always pays; with the
    deterministic stub (per-row microseconds) the shuffle costs more
    than it saves.  The operators therefore do NOT call this
    implicitly — wrap inputs explicitly when deploying a real
    backend: ``sem_filter(spread_for_inference(df), ...)``.
    """
    sc = df.sparkSession.sparkContext
    target = max(sc.defaultParallelism, 2)
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


# ---- sem_filter (Operaters.py:45-78; catalog baseline_LLM_direct.py:5-14)


def sem_filter_cond(
    columns: Sequence[str],
    condition: str,
    llm_factory: LLMFactory = default_llm_factory,
    retain_if: bool = True,
) -> Column:
    """Boolean Column judging an NL condition per row via the LLM.

    Yes/No row judge semantics of ``filter_LLM``
    (Operaters.py:54-67): row content is the selected columns as
    ``col: value`` lines; any non-"Yes" answer is False.

    ``retain_if=False`` inverts the judgment — rows judged *No* are
    kept (the reference's ``filter_LLM(..., retain_if=False)``,
    Operaters.py:45,71-77).  The UDF itself never returns null, so
    the negation stays two-valued and composes cleanly inside the
    staged Kleene executor.
    """
    cols = list(columns)
    judge = llm_udf(
        BooleanType(),
        lambda *vals: P.filter_prompt(condition, P.row_content(cols, vals)),
        yes_answer, llm_factory,
    )
    cond = judge(*[F.col(c).cast("string") for c in cols])
    return cond if retain_if else ~cond


def sem_filter(
    df: DataFrame,
    columns: Sequence[str],
    condition: str,
    llm_factory: LLMFactory = default_llm_factory,
    retain_if: bool = True,
) -> DataFrame:
    return df.filter(sem_filter_cond(columns, condition, llm_factory, retain_if))


# ---- sem_join (beyond-reference: LOTUS-style semantic join) ------------


_SJ_TOKS = "_sj_toks"


def _right_tokens_col(right_cols: Sequence[str]) -> Column:
    """Significant-token array of a right row, as a Column expression."""
    stops = F.array(*[F.lit(s) for s in sorted(P.STOPWORDS)])
    rv = F.lower(
        F.concat_ws(" ", *[F.col(c).cast("string") for c in right_cols])
    )
    return F.filter(
        F.array_distinct(F.split(rv, "[^a-z0-9_]+")),
        lambda t: (F.length(t) >= 3) & ~F.array_contains(stops, t),
    )


def _token_cover_cond(left_cols: Sequence[str]) -> Column:
    """Cheap Catalyst pre-judge: right-side tokens ⊆ left content.

    Mirrors the stub's sem_join rule exactly (so for the stub the
    cascade is lossless); for a real backend it is the standard
    recall-trading blocker that keeps LLM calls off the full cross
    product.  Pure Column expressions — evaluated JVM-side before any
    Python worker sees a row.  Reads the pre-tokenized ``_sj_toks``
    column (computed on the right side BEFORE the join).

    The containment fold deliberately uses ``F.aggregate`` rather than
    ``F.forall``/``F.filter``: in Spark 4.1.x a post-join predicate
    built from ArrayForAll/ArrayFilter whose lambda body captures an
    outer attribute from the OTHER join side gets its references
    miscomputed and pushed below the join, failing at bind time with
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on file-scan inputs.
    ArrayAggregate is not treated as a pushable predicate source, so
    the conjunct stays above the join where both sides are in scope.
    """
    # mirror P.row_content's "col: value" rendering exactly — the
    # stub judge sees column NAMES too, so value-only coverage would
    # prune pairs the judge accepts (cascade no longer lossless)
    llc = F.lower(
        F.concat_ws(
            "\n",
            *[
                F.concat(
                    F.lit(f"{c}: "),
                    F.coalesce(F.col(c).cast("string"), F.lit("")),
                )
                for c in left_cols
            ],
        )
    )
    toks = F.col(_SJ_TOKS)
    covered = F.aggregate(
        toks, F.lit(True), lambda acc, t: acc & llc.contains(t)
    )
    return (F.size(toks) > 0) & covered


def sem_join_cond(
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    condition: str,
    llm_factory: LLMFactory = default_llm_factory,
) -> Column:
    """Boolean Column judging a (left row, right row) pair via the LLM."""
    lc, rc = list(left_cols), list(right_cols)
    nl = len(lc)
    judge = llm_udf(
        BooleanType(),
        lambda *vals: P.join_prompt(
            condition,
            P.row_content(lc, vals[:nl]),
            P.row_content(rc, vals[nl:]),
        ),
        yes_answer, llm_factory,
    )
    return judge(*[F.col(c).cast("string") for c in lc + rc])


def sem_join(
    left: DataFrame,
    right: DataFrame,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    condition: str,
    llm_factory: LLMFactory = default_llm_factory,
    prefilter: bool = True,
    broadcast_right: bool = True,
) -> DataFrame:
    """Semantic join: keep (left × right) pairs the LLM judges related.

    Beyond-reference operator (the reference joins nothing across
    tables); the semantics follow the public LOTUS/palimpzest
    sem-join shape: every surviving pair carries both rows' columns.

    Scale shape: the right side is expected to be the small one
    (topics, categories, reference lists) — it is broadcast by
    default so the cross product never shuffles the big side.  With
    ``prefilter=True`` (default) a JVM-side token-coverage cascade
    (:func:`_token_cover_cond`) prunes the cross product BEFORE the
    LLM UDF sees it, so LLM cost is O(candidates), not O(|L|·|R|).
    A real-backend deployment keeps the same plan: broadcast
    nested-loop join with the cheap predicate fused into the join,
    then the Arrow-batched judge on survivors only.
    """
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"sem_join requires disjoint column names; rename {overlap}"
        )
    if prefilter:
        # Tokenize once per RIGHT row (it's the small side) before the
        # join, then fuse the coverage check into the JOIN CONDITION.
        # Expressed as a post-join .filter it would be merged with the
        # judge filter by CombineFilters, and the ArrowEvalPython node
        # extracted for the judge UDF would then run on the FULL cross
        # product — as a join condition the BroadcastNestedLoopJoin
        # emits only covered pairs and the judge sees O(candidates).
        rtok = right.withColumn(_SJ_TOKS, _right_tokens_col(right_cols))
        pairs = left.join(
            F.broadcast(rtok) if broadcast_right else rtok,
            on=_token_cover_cond(left_cols),
            how="inner",
        ).drop(_SJ_TOKS)
    else:
        pairs = left.crossJoin(
            F.broadcast(right) if broadcast_right else right
        )
    return pairs.filter(
        sem_join_cond(left_cols, right_cols, condition, llm_factory)
    )


def sem_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    llm_factory: LLMFactory = default_llm_factory,
    candidates: DataFrame | None = None,
    **minhash_kwargs,
) -> DataFrame:
    """LLM-verified near-duplicate pairs: signature blocking → judge.

    The cascade every semantic-dedup system runs (LOTUS-style
    sem-dedup on the public pattern): cheap MinHash-LSH banding
    proposes candidate pairs (cost follows bucket sizes, never n²),
    and the LLM judges ONLY those candidates — at 100 TB the judge
    sees thousands of pairs, not quadrillions.  Beyond the signature
    threshold, the judge catches paraphrase-level duplication exact
    Jaccard misses (with a real backend; the stub judges by
    token-set overlap, which the driver oracle mirrors in SQL).

    ``candidates``: pass a precomputed pair frame ``(id_a, id_b,
    ...)`` to reuse blocking output (e.g. ``minhash_index`` probes);
    default runs :func:`minhash_lsh_pairs` with ``minhash_kwargs``.
    Output: the candidate columns for pairs judged duplicates.
    """
    from semantic_olap_spark.functions.dedup import minhash_lsh_pairs

    if candidates is None:
        candidates = minhash_lsh_pairs(
            df, text_col=text_col, id_col=id_col, **minhash_kwargs
        )
    out_cols = candidates.columns
    texts = df.select(
        F.col(id_col).alias("_sd_id"), F.col(text_col).alias("_sd_t")
    )
    pairs = (
        candidates.join(
            texts.withColumnRenamed("_sd_id", "id_a_")
            .withColumnRenamed("_sd_t", "_ta"),
            F.col("id_a") == F.col("id_a_"),
        )
        .drop("id_a_")
        .join(
            texts.withColumnRenamed("_sd_id", "id_b_")
            .withColumnRenamed("_sd_t", "_tb"),
            F.col("id_b") == F.col("id_b_"),
        )
        .drop("id_b_")
    )
    same = llm_udf(
        BooleanType(),
        lambda a, b: P.dedup_pair_prompt(a or "", b or ""),
        yes_answer, llm_factory,
    )
    return pairs.filter(same(F.col("_ta"), F.col("_tb"))).select(*out_cols)


# ---- sem_map (Operaters.py:318-350; catalog baseline_LLM_direct.py:43-53)


def sem_map(
    df: DataFrame,
    columns: Sequence[str],
    map_description: str,
    keyword: str,
    llm_factory: LLMFactory = default_llm_factory,
) -> DataFrame:
    """Add LLM-generated column ``keyword`` ("NA" on failure)."""
    cols = list(columns)
    mapper = llm_udf(
        StringType(),
        lambda *vals: P.map_prompt(
            keyword, map_description, P.row_content(cols, vals)
        ),
        text_or_na_answer, llm_factory,
    )
    return df.withColumn(keyword, mapper(*[F.col(c).cast("string") for c in cols]))


# ---- sem_group (Operaters.py:376-397; catalog baseline_LLM_direct.py:55-65)


def induce_taxonomy(
    df: DataFrame,
    columns: Sequence[str],
    group_description: str,
    keyword: str,
    llm_factory: LLMFactory = default_llm_factory,
    sample_n: int = 50,
) -> list[str]:
    """Phase 1: derive the tag vocabulary from a driver-side sample.

    The reference mints tags online row-by-row (Operaters.py:381-393)
    — order-dependent and inherently sequential.  The scalable
    semantics (SURVEY.md §2.1 #5) is two-phase: a bounded sample
    (``limit(sample_n)``, driver-side, constant size regardless of
    table size) feeds ONE induction call.
    """
    rows = df.select(*[F.col(c).cast("string") for c in columns]).limit(sample_n).collect()
    samples = [P.row_content(columns, list(r)) for r in rows]
    llm = llm_factory()
    raw = llm.predict(P.group_induce_prompt(keyword, group_description, samples))
    tags = parse_llm_json(raw, default=[]) or ["other"]
    return [str(t) for t in tags]


def sem_group(
    df: DataFrame,
    columns: Sequence[str],
    group_description: str,
    keyword: str,
    llm_factory: LLMFactory = default_llm_factory,
    taxonomy: Sequence[str] | None = None,
    sample_n: int = 50,
) -> DataFrame:
    """Two-phase semantic grouping: induce taxonomy, classify rows.

    Phase 2 is an embarrassingly parallel classify-into-fixed-tags
    pandas UDF.  Pass ``taxonomy`` to skip induction (granularity
    reuse — Roll_Up_Agent.py:143-147 memoization).
    """
    tags = list(taxonomy) if taxonomy else induce_taxonomy(
        df, columns, group_description, keyword, llm_factory, sample_n
    )
    cols = list(columns)
    classify = llm_udf(
        StringType(),
        lambda *vals: P.group_classify_prompt(
            keyword, group_description, tags, P.row_content(cols, vals)
        ),
        str.strip, llm_factory,
    )
    return df.withColumn(keyword, classify(*[F.col(c).cast("string") for c in cols]))


def sem_group_cluster(
    df: DataFrame,
    columns: Sequence[str],
    group_description: str,
    keyword: str,
    llm_factory: LLMFactory = default_llm_factory,
    n_clusters: int = 8,
    samples_per_cluster: int = 3,
    num_features: int = 1 << 12,
    seed: int = 42,
) -> DataFrame:
    """Cluster-then-label semantic grouping — the O(clusters) path.

    The two-phase :func:`sem_group` still makes one LLM call PER ROW
    to classify.  At 100 TB that is the cost ceiling, so this variant
    (the design escape hatch noted in SURVEY.md §2.1 #5) moves ALL
    inference off the per-row path:

    1. hash the selected columns' tokens (HashingTF — stateless, no
       vocabulary fit) and KMeans-cluster rows (seeded,
       deterministic);
    2. for each cluster, collect ≤ ``samples_per_cluster`` example
       rows driver-side and make ONE LLM call to pick its tag;
    3. broadcast-join the cluster→tag map back.

    Total LLM calls = ``n_clusters`` regardless of table size; the
    per-row work is JVM-side hashing + a distance argmin.  Semantic
    fidelity is coarser than per-row classification — rows get their
    CLUSTER's tag — which is the documented trade-off.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import HashingTF, Tokenizer

    cols = list(columns)
    text = F.concat_ws(" ", *[F.col(c).cast("string") for c in cols])
    base = df.withColumn("_sgc_text", F.lower(text))
    tok = Tokenizer(inputCol="_sgc_text", outputCol="_sgc_toks")
    tf = HashingTF(
        inputCol="_sgc_toks", outputCol="_sgc_vec", numFeatures=num_features
    )
    feats = tf.transform(tok.transform(base))
    model = KMeans(
        k=n_clusters, seed=seed, featuresCol="_sgc_vec",
        predictionCol="_sgc_cluster",
    ).fit(feats)
    assigned = model.transform(feats)

    samples = (
        assigned.select("_sgc_cluster", "_sgc_text")
        .groupBy("_sgc_cluster")
        .agg(
            F.slice(
                F.sort_array(F.collect_set("_sgc_text")),
                1, samples_per_cluster,
            ).alias("_ex")
        )
        .collect()
    )
    llm = llm_factory()
    mapping = []
    for row in samples:
        content = "\n".join(row["_ex"])
        tags = P.vocab_of(group_description) + ["other"]
        ans = llm.predict(
            P.group_classify_prompt(keyword, group_description, tags, content)
        ).strip()
        mapping.append((int(row["_sgc_cluster"]), ans or "other"))
    spark = df.sparkSession
    map_df = F.broadcast(
        spark.createDataFrame(mapping, ["_sgc_cluster", keyword])
    )
    return (
        assigned.join(map_df, "_sgc_cluster", "left")
        .drop("_sgc_cluster", "_sgc_text", "_sgc_toks", "_sgc_vec")
    )


def _vocab_count_cols(
    columns: Sequence[str], vocab: Sequence[str]
) -> list[Column]:
    """Occurrence-count features over a fixed vocabulary.

    Feature d = total characters of ``vocab[d]`` occurrences in the
    lowercase concatenation of ``columns`` (the length-replace trick
    — pure Catalyst, and exactly mirrored in ANSI SQL, so a frozen
    taxonomy's assignment is fully oracle-checkable).  The count is
    scaled by the word's length; scaling is irrelevant to a frozen
    argmin as long as fit and apply share the expression.
    """
    text = F.lower(
        F.concat_ws(" ", *[F.col(c).cast("string") for c in columns])
    )
    return [
        F.length(text) - F.length(F.replace(text, F.lit(w)))
        for w in vocab
    ]


def fit_cluster_taxonomy(
    df: DataFrame,
    columns: Sequence[str],
    group_description: str,
    keyword: str,
    vocab: Sequence[str],
    llm_factory: LLMFactory = default_llm_factory,
    n_clusters: int = 6,
    samples_per_cluster: int = 3,
    seed: int = 42,
    round_to: int = 6,
    sample_fraction: float | None = None,
) -> tuple[list[list[float]], list[str]]:
    """Fit phase of the FROZEN cluster-taxonomy grouping.

    The production lifecycle mirrors a shipped tokenizer
    (functions/bpe.py PINNED_MERGES): cluster once over vocabulary-
    occurrence features (seeded KMeans), label each cluster with ONE
    LLM call over bounded samples, then FREEZE ``(centroids, tags)``
    and apply them at any scale with
    :func:`sem_group_cluster_apply` — pure Catalyst, zero LLM calls,
    and (unlike the HashingTF path, whose murmur3 features no SQL
    engine reproduces) exactly expressible as an ANSI-SQL oracle.

    Centroids are rounded to ``round_to`` decimals so they embed as
    exact SQL literals on both sides; every cluster gets a tag (an
    empty cluster falls back to "other").

    ``sample_fraction``: at 100 TB the fit should see a seeded
    Bernoulli sample, not the corpus — k-means centroids converge on
    a fraction of the data and the APPLY step is what runs at full
    scale.  ``None`` (default) fits on everything, right for the
    driver-testdata scale where the pinned constants must be exactly
    re-derivable.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    cols = list(columns)
    if sample_fraction is not None:
        df = df.sample(fraction=float(sample_fraction), seed=seed)
    cnts = _vocab_count_cols(cols, vocab)
    text = F.lower(
        F.concat_ws(" ", *[F.col(c).cast("string") for c in cols])
    )
    feats = df.select(
        array_to_vector(
            F.array(*[c.cast("double") for c in cnts])
        ).alias("_sgc_vec"),
        text.alias("_sgc_text"),
    )
    model = KMeans(
        k=n_clusters, seed=seed, featuresCol="_sgc_vec",
        predictionCol="_sgc_cluster",
    ).fit(feats)
    centroids = [
        [round(float(v), round_to) for v in c]
        for c in model.clusterCenters()
    ]
    assigned = model.transform(feats)
    # first-N distinct texts per cluster via a bounded window top-k:
    # collect_set would buffer a cluster's ENTIRE distinct text set
    # in one aggregation buffer before slicing (executor OOM at
    # corpus scale); the window sort spills, and only N rows per
    # cluster survive to the driver
    w = Window.partitionBy("_sgc_cluster").orderBy("_sgc_text")
    samples = (
        assigned.select("_sgc_cluster", "_sgc_text")
        .dropDuplicates(["_sgc_cluster", "_sgc_text"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= samples_per_cluster)
        .groupBy("_sgc_cluster")
        .agg(F.sort_array(F.collect_list("_sgc_text")).alias("_ex"))
        .collect()
    )
    llm = llm_factory()
    tags = ["other"] * n_clusters
    for row in samples:
        content = "\n".join(row["_ex"])
        vocab_tags = P.vocab_of(group_description) + ["other"]
        ans = llm.predict(
            P.group_classify_prompt(
                keyword, group_description, vocab_tags, content
            )
        ).strip()
        tags[int(row["_sgc_cluster"])] = ans or "other"
    return centroids, tags


def sem_group_cluster_apply(
    df: DataFrame,
    columns: Sequence[str],
    keyword: str,
    vocab: Sequence[str],
    centroids: Sequence[Sequence[float]],
    cluster_tags: Sequence[str],
    cluster_col: str | None = None,
) -> DataFrame:
    """Apply a FROZEN cluster taxonomy — pure Catalyst, zero LLM calls.

    Per row: vocabulary-occurrence features (integer length-replace
    counts), squared euclidean distance to each literal centroid
    (left-associated double sums — the same IEEE evaluation order an
    ANSI mirror uses), first-occurrence argmin via
    ``array_position(dists, array_min(dists))``, then the cluster's
    frozen tag.  ``cluster_col`` optionally keeps the 0-based cluster
    index (drill-down / oracle strength); at 100 TB this is a
    scan-side projection — no shuffle, no Python, no LLM.
    """
    if len(centroids) != len(cluster_tags):
        raise ValueError(
            f"{len(centroids)} centroids vs {len(cluster_tags)} tags"
        )
    cnts = _vocab_count_cols(list(columns), vocab)
    if any(len(c) != len(cnts) for c in centroids):
        raise ValueError("centroid dim != vocab size")
    dists = []
    for cen in centroids:
        terms = [
            (cnt - F.lit(float(v))) * (cnt - F.lit(float(v)))
            for cnt, v in zip(cnts, cen)
        ]
        d = terms[0]
        for t in terms[1:]:
            d = d + t
        dists.append(d)
    darr = F.array(*dists)
    pos = F.array_position(darr, F.array_min(darr)).cast("int")
    tag = F.element_at(
        F.array(*[F.lit(str(t)) for t in cluster_tags]), pos
    )
    out = df.withColumn(keyword, tag)
    if cluster_col:
        out = out.withColumn(cluster_col, pos - F.lit(1))
    return out


def save_taxonomy(
    path: str,
    vocab: Sequence[str],
    centroids: Sequence[Sequence[float]],
    tags: Sequence[str],
) -> None:
    """Persist a fitted cluster taxonomy as a tiny JSON artifact.

    The production lifecycle: :func:`fit_cluster_taxonomy` once,
    ``save_taxonomy`` next to the model artifacts, and every later
    job (any cluster, any scale) ``load_taxonomy`` +
    :func:`sem_group_cluster_apply` — no refit, no LLM calls, no
    drift between runs.  The artifact is O(k × |vocab|) floats —
    driver-side JSON is the right tool, same as a tokenizer file.
    """
    if len(centroids) != len(tags):
        raise ValueError(
            f"{len(centroids)} centroids vs {len(tags)} tags"
        )
    obj = {
        "version": 1,
        "vocab": [str(w) for w in vocab],
        "centroids": [[float(v) for v in c] for c in centroids],
        "tags": [str(t) for t in tags],
    }
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1)


def load_taxonomy(
    path: str,
) -> tuple[list[str], list[list[float]], list[str]]:
    """Load a :func:`save_taxonomy` artifact → (vocab, centroids, tags)."""
    with open(path) as fh:
        obj = json.load(fh)
    if obj.get("version") != 1:
        raise ValueError(f"unknown taxonomy version: {obj.get('version')}")
    return obj["vocab"], obj["centroids"], obj["tags"]


# frozen workload taxonomy for the documents corpus — fit ONCE by
# fit_cluster_taxonomy at the driver's sf0.01 (seed 42, k=6) and
# PINNED like a shipped tokenizer (functions/bpe.py PINNED_MERGES);
# provenance re-fit is pinned by tests/test_semantic.py
WORKLOAD_VOCAB = (
    "scan", "join", "sort", "filter", "group", "window", "stream",
    "spark",
)
PINNED_WORKLOAD_CENTROIDS: tuple[tuple[float, ...], ...] = (
    (10.952381, 7.619048, 8.47619, 11.0, 12.02381, 30.285714,
     14.142857, 8.333333),
    (8.484848, 9.535354, 10.828283, 7.636364, 8.686869, 11.272727,
     12.969697, 12.777778),
    (9.632653, 12.489796, 11.102041, 22.408163, 13.163265, 15.183673,
     27.795918, 15.204082),
    (9.414634, 9.463415, 6.243902, 20.780488, 6.707317, 10.536585,
     9.219512, 6.829268),
    (11.609756, 14.536585, 8.097561, 19.317073, 23.414634, 10.97561,
     8.926829, 18.04878),
    (3.871658, 3.251337, 3.593583, 4.203209, 4.652406, 4.652406,
     5.165775, 3.957219),
)
# the stub judge tags every cluster "scan" on this corpus (the word
# appears in every bounded sample) — degenerate but honest; the
# driver row therefore also exposes the cluster INDEX, which is the
# discriminative output the oracle verifies per-row
PINNED_WORKLOAD_TAGS: tuple[str, ...] = (
    "scan", "scan", "scan", "scan", "scan", "scan",
)


def sem_group_sequential(
    df: DataFrame,
    columns: Sequence[str],
    group_description: str,
    keyword: str,
    llm_factory: LLMFactory = default_llm_factory,
) -> DataFrame:
    """Exact-parity mode: online tag minting, single partition.

    Reproduces the reference's order-dependent semantics
    (Operaters.py:381-393): each row sees the tags created so far and
    may mint a new one.  Runs on ONE partition sorted by OLAP_ID —
    for parity testing only; O(n) sequential LLM calls do not scale
    (SURVEY.md §7.4 risk 1).
    """
    cols = list(columns)
    out_schema = df.schema.add(keyword, StringType())
    order = OLAP_ID if OLAP_ID in df.columns else cols[0]

    def run(iterator):
        llm = llm_factory()
        tags: list[str] = []
        for pdf in iterator:
            labels = []
            for vals in pdf[cols].astype(object).itertuples(index=False):
                content = P.row_content(cols, list(vals))
                prompt = P.group_classify_prompt(
                    keyword, group_description, tags + ["__new__"], content
                )
                ans = llm.predict(prompt).strip()
                if ans == "__new__" or ans not in tags:
                    minted = ans if ans and ans != "__new__" else None
                    if minted is None:
                        # mint from the row's own values, not the
                        # "col: value" rendering (column names are
                        # not tag material)
                        toks = P.condition_tokens(
                            " ".join(str(v) for v in vals)
                        )
                        minted = toks[0] if toks else "other"
                    if minted not in tags:
                        tags.append(minted)
                    ans = minted
                labels.append(ans)
            pdf[keyword] = labels
            yield pdf

    return (
        df.repartition(1)
        .sortWithinPartitions(order)
        .mapInPandas(run, schema=out_schema)
    )


# ---- sem_reduce (Operaters.py:404-423; catalog baseline_LLM_direct.py:67-76)


def sem_reduce(
    df: DataFrame,
    columns: Sequence[str],
    group_by: str | Sequence[str] | None = None,
    llm_factory: LLMFactory = default_llm_factory,
    alias: str = "summary",
    max_values: int | None = 500,
) -> DataFrame:
    """LLM-summarize the unique values of ``columns``, per group.

    Distributed shape: ``collect_set`` gathers distinct values map-side
    (one shuffle row per group), then ONE LLM call per group over the
    deduplicated, sorted value list (the reference also dedups before
    prompting — Operaters.py:405).  Values are sorted so group content
    is deterministic regardless of partitioning.

    ``max_values`` caps the per-group array (first N of the sorted
    distinct values) — mirrors the reference's bounded prompt inputs
    (enum cap 100, Operaters.py:286).  Without it a high-cardinality
    group is one unbounded aggregation-buffer row AND one unbounded
    prompt; at 100 TB that is an OOM.  ``None`` disables (parity mode).
    """
    cols = list(columns)
    vals_arr = F.sort_array(
        F.array_distinct(
            F.flatten(
                F.collect_list(F.array(*[F.col(c).cast("string") for c in cols]))
            )
        )
    )
    if max_values is not None:
        vals_arr = F.slice(vals_arr, 1, int(max_values))
    keys = [group_by] if isinstance(group_by, str) else list(group_by or [])
    grouped = (df.groupBy(*keys) if keys else df.groupBy()).agg(
        vals_arr.alias("_vals")
    )
    return grouped.withColumn(
        alias, summarizer(cols, llm_factory)(F.col("_vals"))
    ).drop("_vals")


# ---- sem_topk (Operaters.py:453-494; catalog baseline_LLM_direct.py:113-123)


def _prescreen_topn(
    cand: DataFrame,
    query: str,
    prescreen_k: int,
    id_col: str,
    score: Column | None = None,
) -> DataFrame:
    """Cheap relevance prescreen: keep the ``prescreen_k`` best rows.

    Default score = cosine between the hash-embedded row content and
    the hash-embedded query (functions/text.py ``hash_embed`` — the
    same md5 construction on both sides, so the score is a pure
    deterministic function of the text; both vectors L2-normalized ⇒
    dot product = cosine).  ``score`` overrides it with any Column —
    e.g. a dot product against a real model's query vector when the
    frame carries model embeddings.

    TakeOrderedAndProject (orderBy+limit) — no full sort, no single
    partition; ties break by ``id_col`` for determinism.
    """
    if score is None:
        from semantic_olap_spark.functions.text import hash_embed

        spark = cand.sparkSession
        qvec = hash_embed(
            spark.createDataFrame([(0, query)], ["_qid", "_qtext"]),
            text_col="_qtext", id_col="_qid", out_col="_qv",
        ).collect()[0]["_qv"]
        cand = hash_embed(
            cand, text_col="_content", id_col=id_col, out_col="_pv"
        )
        qarr = F.array(*[F.lit(float(v)) for v in qvec])
        score = F.aggregate(
            F.zip_with(F.col("_pv"), qarr, lambda a, b: a * b),
            F.lit(0.0), lambda a, x: a + x,
        )
        cand = cand.withColumn("_ps", score).drop("_pv")
    else:
        cand = cand.withColumn("_ps", score)
    return (
        cand.orderBy(F.col("_ps").desc(), F.col(id_col).asc())
        .limit(int(prescreen_k))
        .drop("_ps")
    )


def sem_topk(
    df: DataFrame,
    columns: Sequence[str],
    query: str,
    k: int,
    n_opponents: int = 5,
    id_col: str = OLAP_ID,
    llm_factory: LLMFactory = default_llm_factory,
    keep_wins: bool = True,
    prescreen_k: int | None = None,
    prescreen_score: Column | None = None,
) -> DataFrame:
    """Top-k rows by pairwise-LLM tournament win count.

    The reference compares each row against ~5 random opponents
    (Operaters.py:464-469).  Randomized pairing is not reproducible
    across engines, so we use a deterministic *rotation tournament*:
    rank rows by ``id_col``; row r plays ranks (r+1..r+n) mod n.
    Same ~n·m comparison budget, same statistical behavior (each row
    judged 2·m times), fully deterministic — and the pairing is pure
    relational algebra: one self-join on rank, LLM judge as a
    pandas UDF, ``groupBy(id).count`` for wins.  Ties on win count
    break by ``id_col`` ascending.

    Scale: the judge shuffle is n·m rows of (id, content) pairs —
    linear in n with constant m, no quadratic blowup.  Dense ranks
    come from range-partition + per-partition offsets (the
    ``zipWithIndex`` construction) — NO single-partition window, and
    ``n`` falls out of the same per-partition count pass, so there is
    no separate eager ``count()`` job over the data.

    ``prescreen_k`` is the SCALE path (SURVEY §2.1 #10): the full
    tournament is ~2·m LLM judgments per row — the reference's own
    budget (Operaters.py:465-466) — which at 100 TB is the cost
    ceiling.  With ``prescreen_k=p`` (must be > k) a cheap
    deterministic relevance score (hash-embedding cosine vs the
    query by default; any Column via ``prescreen_score``) keeps only
    the best ``p`` candidates and the tournament runs on that slice:
    LLM calls drop from ~2·m·n to ~2·m·p, independent of table size.
    Win counts are tallied within the slice, so ``wins`` values
    differ from the full tournament; under a judge consistent with
    the prescreen score the SELECTED set is preserved (pinned in
    tests/test_sem_topk_prescreen.py).
    """
    if prescreen_k is not None and prescreen_k <= k:
        raise ValueError(
            f"prescreen_k ({prescreen_k}) must exceed k ({k}) — the "
            f"tournament needs headroom beyond the final answer"
        )
    cols = list(columns)
    content = F.concat_ws(
        "\n",
        *[
            F.concat(F.lit(f"{c}: "), F.coalesce(F.col(c).cast("string"), F.lit("")))
            for c in cols
        ],
    )
    cand = df.withColumn("_content", content)
    if prescreen_k is not None:
        cand = _prescreen_topn(
            cand, query, prescreen_k, id_col, prescreen_score
        )
    # Dense tournament ranks + n from the shared zipWithIndex
    # construction (sources/loaders.py dense_ranks_with_total):
    # range-partition by id + broadcast prefix-sum offsets, the
    # layout pinned by localCheckpoint so the count pass and the
    # tournament see identical partition membership.
    from semantic_olap_spark.sources.loaders import dense_ranks_with_total

    ranked, n = dense_ranks_with_total(cand, [id_col], "_rank")
    if n <= k:
        # no tournament needed (reference short-circuits at n <= k);
        # keep the output schema identical to the tournament path
        out = ranked.drop("_content", "_rank").withColumn("wins", F.lit(0))
        out = out.orderBy(F.col(id_col).asc()).limit(int(k))
        return out if keep_wins else out.drop("wins")
    m = min(n_opponents, n - 1)
    left = ranked.select(
        F.col(id_col).alias("_id_a"),
        F.col("_rank").alias("_rank_a"),
        F.col("_content").alias("_ca"),
    )
    right = ranked.select(
        F.col(id_col).alias("_id_b"),
        F.col("_rank").alias("_rank_b"),
        F.col("_content").alias("_cb"),
    )
    offs = F.explode(F.array(*[F.lit(h) for h in range(1, m + 1)])).alias("_h")
    pairs = left.select("*", offs).withColumn(
        "_opp", (F.col("_rank_a") + F.col("_h")) % F.lit(n)
    )
    pairs = pairs.join(right, pairs["_opp"] == right["_rank_b"])

    a_wins = llm_udf(
        BooleanType(),
        lambda a, b: P.topk_pair_prompt(query, a, b),
        a_wins_answer, llm_factory,
    )
    judged = pairs.withColumn("_a_wins", a_wins(F.col("_ca"), F.col("_cb")))
    winner_ids = judged.select(
        F.when(F.col("_a_wins"), F.col("_id_a")).otherwise(F.col("_id_b")).alias("_wid")
    )
    wins = winner_ids.groupBy("_wid").agg(F.count(F.lit(1)).alias("wins"))
    # with a prescreen, rows outside the slice are OUT of the
    # tournament — tally against the slice, not the full frame
    base = cand.drop("_content") if prescreen_k is not None else df
    scored = base.join(wins, base[id_col] == wins["_wid"], "left").drop("_wid")
    scored = scored.withColumn("wins", F.coalesce(F.col("wins"), F.lit(0)))
    out = scored.orderBy(F.col("wins").desc(), F.col(id_col).asc()).limit(int(k))
    return out if keep_wins else out.drop("wins")


# ---- column profiles, shared by dice profiling and the physical filters

# One planned query profiles each diced column once: the dice veto
# (plans.planner.profile_patternized / profile_enumerable) and the
# physical filter built from its verdict (filter_pattern_cond /
# filter_enum_cond) read the same collected profile.  Memoized per
# frame object (weakly: a dropped frame drops its profiles) and cleared
# by the query entry points when they finish, so a later query on
# changed files profiles again.  Concurrent queries share the memo; a
# race at worst profiles a column twice, never mixes two frames.
_PROFILES: "weakref.WeakKeyDictionary[DataFrame, dict]" = (
    weakref.WeakKeyDictionary()
)

TEMPLATE_TOP = 20  # filter_pattern's template cap (Operaters.py:221-223)
ENUM_TOP = 100  # filter_enum's value preview cap (Operaters.py:286-294)


class ColumnProfile(NamedTuple):
    """One frequency table, collected: its totals plus its top groups.

    ``totals`` maps each totals aggregate's name to its value over
    every group; ``top`` holds the most frequent groups as rows (``_k``
    key, ``_c`` count, plus the profile's extra column).
    """

    totals: dict
    top: list


@contextmanager
def profile_scope():
    """One planned query: every column profile is forgotten on exit.

    Usable as a decorator (``@profile_scope()``) on query entry points.
    """
    try:
        yield
    finally:
        _PROFILES.clear()


def template_of(column: str) -> Column:
    """Digit-masked template of ``column``'s string form (the
    reference's ``re.sub('[0-9]+', '<*>')`` masking, Operaters.py:209)."""
    return F.regexp_replace(F.col(column).cast("string"), "[0-9]+", "<*>")


def _profile(
    df: DataFrame, key: tuple, groups: DataFrame, totals: Sequence[Column],
    order: Sequence[Column], n_top: int, keep: Column | None = None,
) -> ColumnProfile:
    per_frame = _PROFILES.setdefault(df, {})
    if key not in per_frame:
        # ONE job after the grouping shuffle: the ``keep`` groups' top
        # ``n_top`` by an ordered limit (a bounded top-N per partition,
        # never every group in one task), while observe() folds the
        # totals over every group on the way
        obs = Observation()
        seen = groups.observe(obs, *totals)
        if keep is not None:
            seen = seen.filter(keep)
        top = seen.orderBy(*order).limit(n_top).collect()
        per_frame[key] = ColumnProfile(totals=obs.get, top=top)
    return per_frame[key]


def template_profile(
    df: DataFrame, column: str, n_top: int = TEMPLATE_TOP, n_examples: int = 3
) -> ColumnProfile:
    """Digit-masked template frequencies of the non-null ``column``.

    ``top`` rows: ``_k`` template, ``_c`` count, ``_ex`` the
    ``n_examples`` smallest distinct values; at least
    :data:`TEMPLATE_TOP` of them, by count desc then template.
    ``totals``: ``total`` rows and ``n_groups`` distinct templates.
    """
    n_top = max(n_top, TEMPLATE_TOP)
    groups = (
        df.filter(F.col(column).isNotNull())
        .groupBy(template_of(column).alias("_k"))
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.slice(
                F.sort_array(F.collect_set(F.col(column).cast("string"))),
                1, n_examples,
            ).alias("_ex"),
        )
    )
    return _profile(
        df, ("template", column, n_top, n_examples), groups,
        [F.sum("_c").alias("total"), F.count(F.lit(1)).alias("n_groups")],
        [F.col("_c").desc(), F.col("_k")], n_top,
    )


def value_profile(
    df: DataFrame, column: str, n_top: int = ENUM_TOP
) -> ColumnProfile:
    """Value frequencies of ``column``, grouped by its string form.

    ``top`` rows: ``_k`` string form, ``_c`` count, ``_v`` the value;
    non-null only, at least :data:`ENUM_TOP` of them, by count desc
    then value.  ``totals``: ``total`` rows with nulls (pandas
    ``len(col)``), ``n_groups`` distinct non-null values,
    ``n_nonnull``, and ``len_sum`` (string lengths weighted by
    frequency).
    """
    n_top = max(n_top, ENUM_TOP)
    groups = df.groupBy(F.col(column).cast("string").alias("_k")).agg(
        F.count(F.lit(1)).alias("_c"), F.any_value(F.col(column)).alias("_v")
    )
    nn = F.col("_k").isNotNull()
    # a map value has no order: break its ties by the string form
    tie = "_k" if isinstance(df.schema[column].dataType, MapType) else "_v"
    return _profile(
        df, ("value", column, n_top), groups,
        [
            F.sum("_c").alias("total"),
            F.count(F.when(nn, 1)).alias("n_groups"),
            F.sum(F.when(nn, F.col("_c"))).alias("n_nonnull"),
            F.sum(F.when(nn, F.length("_k") * F.col("_c"))).alias("len_sum"),
        ],
        [F.col("_c").desc(), F.col(tie)], n_top, keep=nn,
    )


# ---- filter_enum_llm (Operaters.py:281-313, "enumerable" strategy)


def filter_enum_cond(
    df: DataFrame,
    column: str,
    condition: str,
    llm_factory: LLMFactory = default_llm_factory,
    top_n: int = ENUM_TOP,
) -> Column:
    """Enumerable-column filter: LLM picks a keep-list of values.

    The preview is the ≤ ``top_n`` most frequent distinct values of
    :func:`value_profile` (the reference's 100-value preview cap,
    Operaters.py:286-294), one LLM call returns the keep-list, and
    the filter is ``col IN keep`` — pure Catalyst, pushdown-friendly.
    """
    vals = [r["_v"] for r in value_profile(df, column, top_n).top[:top_n]]
    llm = llm_factory()
    keep = parse_llm_json(
        llm.predict(P.enum_prompt(condition, [str(v) for v in vals])), default=[]
    )
    if not keep:
        return F.lit(False)
    return F.col(column).cast("string").isin([str(v) for v in keep])


def filter_enum_llm(
    df: DataFrame,
    column: str,
    condition: str,
    llm_factory: LLMFactory = default_llm_factory,
    top_n: int = ENUM_TOP,
) -> DataFrame:
    return df.filter(filter_enum_cond(df, column, condition, llm_factory, top_n))


# ---- filter_pattern (Operaters.py:207-258, "pattern_based" strategy)


def filter_pattern_cond(
    df: DataFrame,
    column: str,
    condition: str,
    llm_factory: LLMFactory = default_llm_factory,
    sample_n: int = 3,
    max_templates: int = TEMPLATE_TOP,
) -> Column:
    """Pattern-extraction filter.

    1. Digit-mask values into templates (:func:`template_profile`).
    2. For each of the ≤ ``max_templates`` most frequent templates,
       sample ``sample_n`` examples (reference samples 3,
       Operaters.py:221-223) and have the LLM derive a regex +
       numeric plan.
    3. Compile per-template plans to ``regexp_extract`` + cast +
       compare Columns, OR-ed across templates — all JVM-side; the
       LLM cost is O(#templates), not O(rows).
    """
    tmpl = template_of(column)
    top = template_profile(df, column, max_templates, sample_n).top
    llm = llm_factory()
    branches: list[Column] = []
    for row in top[:max_templates]:
        template, examples = row["_k"], row["_ex"]
        # A malformed LLM plan (bad JSON, missing keys, unknown
        # operator, non-numeric threshold) skips this template, as the
        # reference does (Operaters.py 'except Exception: continue').
        try:
            plan = parse_llm_json(
                llm.predict(P.pattern_prompt(condition, template, examples)),
                default={},
            )
            regex = plan["regex"]
            n_groups = re.compile(regex).groups
            masks = []
            for c in plan.get("conditions", []):
                g = int(c["group"])
                if not 1 <= g <= n_groups:
                    # Spark's regexp_extract raises at EXECUTION time
                    # for an out-of-range group — validate here so a
                    # bad plan skips the template instead of failing
                    # the whole query mid-scan
                    raise ValueError(f"capture group {g} not in regex")
                ext = F.regexp_extract(
                    F.col(column).cast("string"), regex, g
                )
                num = F.when(ext == "", F.lit(None)).otherwise(ext).try_cast("double")
                masks.append(_NUM_OPS[c["operator"]](num, F.lit(float(c["threshold"]))))
        except (KeyError, TypeError, ValueError, re.error):
            continue
        if not masks:
            continue
        acc = masks[0]
        for mcol in masks[1:]:
            acc = (acc & mcol) if plan.get("logic", "and") == "and" else (acc | mcol)
        branches.append((tmpl == F.lit(template)) & F.coalesce(acc, F.lit(False)))
    if not branches:
        return F.lit(False)
    out = branches[0]
    for b in branches[1:]:
        out = out | b
    return out


def filter_pattern(
    df: DataFrame,
    column: str,
    condition: str,
    llm_factory: LLMFactory = default_llm_factory,
    sample_n: int = 3,
    max_templates: int = TEMPLATE_TOP,
) -> DataFrame:
    return df.filter(
        filter_pattern_cond(df, column, condition, llm_factory, sample_n, max_templates)
    )
