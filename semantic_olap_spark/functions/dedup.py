"""Deduplication for training-data pipelines: exact + near-dup.

Beyond-reference operators (SURVEY.md §7.1 M7; BASELINE.json north
star).  Each strategy is the standard shape used by large corpus
pipelines:

- ``dedup_exact``       — hash-groupBy on a normalized-text
                          fingerprint; keeps the lowest-id row.
- ``dedup_against``     — incremental ingest: anti-join today's batch
                          against the seen corpus's fingerprints.
- ``jaccard_pairs``     — exact token-set Jaccard over candidate
                          pairs; quadratic within a blocking key, so
                          it is the *oracle/baseline* path and the
                          verifier used by the LSH path.
- ``minhash_lsh_pairs`` — MinHash signatures over word shingles,
                          banded into LSH buckets; candidate pairs
                          come from a ``groupBy(band)`` self-join
                          (NEVER all-pairs), then exact-Jaccard
                          verified.  The 100 TB path.
- ``simhash_pairs``     — 64-bit SimHash + banded candidate buckets +
                          Hamming-distance verify via ``bit_count``.

Scale notes: everything is expressed so the only shuffles are the
candidate ``groupBy``/joins on band keys; signatures are computed
scan-side as Catalyst array expressions (MinHash) or one Arrow batch
pass (SimHash).  Driver-side collects are limited to three
deliberate, bounded cases: (1) the ``jaccard_pairs`` auto-pick pair
estimate — a single scalar aggregate row; (2) the
``dedup_clusters`` driver union-find path — one Arrow collect of an
edge list already counted ``<= driver_threshold``; (3) the
``dedup_against_embeddings`` matmul path — the seen-side matrix,
pre-sized against ``max_broadcast_mb`` BEFORE the collect by a
metadata count × one-row dim probe (the movement itself is the same
a broadcast-hash side performs).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from semantic_olap_spark.functions.text import doc_fingerprint

_WS = r"\s+"


def _ws_lower_tokens(col: Column) -> Column:
    """Lowercase whitespace tokens, empty tokens dropped (see
    functions/text.py:_ws_tokens for the leading-whitespace bug
    class this guards)."""
    return F.filter(F.split(F.lower(col), _WS), lambda t: t != "")


def _norm_tokens(col: Column) -> Column:
    """Distinct lowercase whitespace tokens of a text column."""
    return F.array_distinct(_ws_lower_tokens(col))


def _hashed(arr: Column) -> Column:
    """Distinct xxhash64 values of a string array.

    Set operations (intersect/size) on fixed-width longs are far
    cheaper than on strings, and longs shuffle ~10× smaller; Jaccard
    over hashed sets equals Jaccard over the originals up to a
    ~2^-64-per-pair collision probability.
    """
    return F.array_distinct(F.transform(arr, lambda s: F.xxhash64(s)))


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Drop exact duplicates by normalized-text fingerprint.

    Keeps the lowest ``id_col`` row per fingerprint.  One shuffle
    (window partitioned BY fingerprint — parallel across hash groups,
    no global ordering), then the helper column is dropped.
    """
    fp = doc_fingerprint(F.col(text_col))
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_fp", fp)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def _jaccard(a: Column, b: Column) -> Column:
    """Jaccard of two distinct-element arrays.

    Union size is |a| + |b| - |a ∩ b| — one hash-set pass instead of
    also materializing the union array (2× less per-pair work; the
    pair step is the hot loop of every near-dup job).
    """
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def dedup_against(
    df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    seen_text_col: str | None = None,
) -> DataFrame:
    """Incremental exact dedup: drop rows already in a seen corpus.

    The daily-ingest shape: ``df`` is today's batch, ``seen`` is the
    accumulated corpus (or just its fingerprint column); rows whose
    normalized-text fingerprint (:func:`doc_fingerprint`) appears in
    ``seen`` are dropped.  A fingerprint ``left_anti`` join — shuffles
    on the 128-bit fingerprint only (never full text), broadcasts
    when the seen side is small, and composes with
    :func:`dedup_exact` for intra-batch dups.
    """
    fp = doc_fingerprint(F.col(text_col))
    seen_fp = seen.select(
        doc_fingerprint(F.col(seen_text_col or text_col)).alias("_fp")
    ).distinct()
    return (
        df.withColumn("_fp", fp)
        .join(seen_fp, "_fp", "left_anti")
        .drop("_fp")
    )


def dedup_against_embeddings(
    df: DataFrame,
    seen: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 8,
    seed: int = 42,
    multiprobe: int = 1,
    bucket_col: str = "_bkt",
    strategy: str = "auto",
    max_broadcast_mb: int = 256,
    round_to: int = 6,
) -> DataFrame:
    """Incremental *semantic* dedup: drop batch rows near the corpus.

    The embedding counterpart of :func:`dedup_against` /
    :func:`dedup_against_minhash`: ``df`` is today's batch, ``seen``
    the accumulated corpus; batch rows with cosine ≥ ``threshold``
    to any seen row are dropped.  Candidates come from sign-bit LSH
    buckets (:func:`~semantic_olap_spark.functions.similarity
    .lsh_assign`, same ``(nbits, seed)`` both sides): each batch row
    probes its own bucket plus all buckets within Hamming
    ``multiprobe`` (probe explosion → plain equi-join, never a
    cross-join with a distance filter).  If either frame already
    carries ``bucket_col`` — e.g. a corpus persisted via
    ``write_ann_index``, partitioned by bucket — its assignment UDF
    is not re-run and the probe is a partition-pruned scan.

    Recall < 1 by construction (a near-dup pair split across buckets
    farther than ``multiprobe`` is missed) — raise ``multiprobe`` or
    ``nbits`` to trade cost for recall; the probe fan-out is
    Σ_{{d≤multiprobe}} C(nbits, d) rows per batch row, ids + buckets
    only (vectors join in once, per side).

    ``strategy`` picks the candidate-scoring physical plan, the same
    size rule Spark applies to broadcast-vs-shuffle joins:

    - ``"matmul"`` — the seen side (per-bucket normalized float64
      matrices) is collected and broadcast once, and each batch
      partition scores its probe candidates with numpy matmuls —
      ~50-100× cheaper per candidate than interpreted ``zip_with``
      dots.  Near-threshold raw scores are emitted and the decimal
      round + final filter run in Catalyst (exact-parity protocol of
      :func:`~semantic_olap_spark.functions.similarity.cosine_pairs`).
    - ``"expr"`` — probe-explode → bucket equi-join → per-candidate
      Catalyst dot products.  The scale path when the seen corpus
      exceeds broadcast budget; also the oracle-twin reference.
    - ``"auto"`` (default) — ``matmul`` iff the seen matrix fits
      ``max_broadcast_mb`` (one count + one dim probe), else
      ``expr``.  Both paths emit identical survivors (pinned in
      tests).
    """
    import itertools

    from semantic_olap_spark.functions.similarity import lsh_assign

    if not 0 <= multiprobe <= nbits:
        raise ValueError(
            f"multiprobe must be in [0, nbits={nbits}], got {multiprobe}"
        )
    if strategy not in ("auto", "matmul", "expr"):
        raise ValueError(
            f"unknown dedup_against_embeddings strategy {strategy!r}"
        )
    if bucket_col not in seen.columns:
        seen = lsh_assign(
            seen, nbits=nbits, seed=seed,
            vec_col=vec_col, bucket_col=bucket_col,
        )
    batch = df
    if bucket_col not in batch.columns:
        batch = lsh_assign(
            batch, nbits=nbits, seed=seed,
            vec_col=vec_col, bucket_col=bucket_col,
        )
    masks = [0] + [
        sum(1 << b for b in flips)
        for d in range(1, multiprobe + 1)
        for flips in itertools.combinations(range(nbits), d)
    ]
    if strategy == "auto":
        # plain count (parquet-metadata fast; includes null-vector
        # rows — a conservative overestimate of what matmul would
        # collect) + dim probed from the first NON-NULL vector (one
        # early-terminating single-partition job) — a null first row
        # must not make an arbitrarily large corpus look like it
        # "fits" (advice r7), and a count×dim aggregate here would
        # cost a full vector-column pass per call.
        n_seen = seen.count()
        dim_row = (
            seen.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("_d"))
            .head(1)
        )
        dim = dim_row[0]["_d"] if dim_row else 0
        # unknown/degenerate dim with rows present → treat as
        # not-fitting rather than trusting a vacuous 0-byte estimate
        fits = (n_seen == 0) or (
            dim > 0
            and n_seen * dim * 8 <= max_broadcast_mb * (1 << 20)
        )
        strategy = "matmul" if fits else "expr"
        if strategy == "matmul":
            # the pick IS the size check — don't re-probe inside
            return _dedup_against_embeddings_matmul(
                df, seen, batch, threshold, id_col, vec_col, masks,
                bucket_col, round_to, max_broadcast_mb, presized=True,
            )
    if strategy == "matmul":
        return _dedup_against_embeddings_matmul(
            df, seen, batch, threshold, id_col, vec_col, masks,
            bucket_col, round_to, max_broadcast_mb,
        )
    probes = F.array(
        *[F.col(bucket_col).bitwiseXOR(F.lit(m)) for m in masks]
    )
    v = F.col(vec_col).cast("array<double>")
    vnorm = F.sqrt(
        F.aggregate(F.col("_v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # the probe explode carries ids + buckets ONLY — exploding the
    # d-dim vector alongside would shuffle fan-out× copies of every
    # embedding; the batch vector joins back in once per *candidate*
    b_slim = batch.select(
        F.col(id_col), F.explode(probes).alias("_probe")
    )
    s_side = (
        seen.select(F.col(bucket_col).alias("_probe"), v.alias("_v"))
        .withColumn("_n", vnorm)
        .select(
            "_probe",
            F.when(
                F.col("_n") > 0,
                F.transform(F.col("_v"), lambda x: x / F.col("_n")),
            )
            .otherwise(F.transform(F.col("_v"), lambda x: F.lit(0.0)))
            .alias("_us"),
        )
    )
    b_vec = (
        batch.select(F.col(id_col), v.alias("_v"))
        .withColumn("_n", vnorm)
        .select(
            F.col(id_col),
            F.when(
                F.col("_n") > 0,
                F.transform(F.col("_v"), lambda x: x / F.col("_n")),
            )
            .otherwise(F.transform(F.col("_v"), lambda x: F.lit(0.0)))
            .alias("_ub"),
        )
    )
    cos = F.round(
        F.aggregate(
            F.zip_with(F.col("_ub"), F.col("_us"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        round_to,
    )
    hits = (
        b_slim.join(s_side, "_probe")
        .join(b_vec, id_col)
        .filter(cos >= float(threshold))
        .select(id_col)
        .distinct()
    )
    return df.join(hits, id_col, "left_anti")


def _dedup_against_embeddings_matmul(
    df: DataFrame,
    seen: DataFrame,
    batch: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    masks: list,
    bucket_col: str,
    round_to: int,
    max_broadcast_mb: int,
    presized: bool = False,
) -> DataFrame:
    """Broadcast-seen matmul scoring behind :func:`dedup_against_embeddings`.

    ``seen`` and ``batch`` arrive bucket-assigned.  The seen side is
    collected ONCE into per-bucket normalized float64 matrices and
    broadcast (the movement of a broadcast-hash side, guarded by
    ``max_broadcast_mb``); each batch Arrow chunk probes its
    ``bucket XOR mask`` buckets and scores candidates with numpy
    matmuls.  Raw scores ≥ ``threshold - 10^-round_to`` are emitted
    (superset slack, same protocol as ``cosine_pairs``'s matmul
    path) and Catalyst applies the decimal-exact round + threshold +
    distinct before the final left-anti join, so boundary arithmetic
    is bit-identical to the expr path.  ``presized=True`` (set by
    the auto pick, whose fit check IS the size guard) skips the
    pre-collect probe so a picked call never pays it twice.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    seen_slim = seen.select(
        F.col(bucket_col).alias("_b"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    # size the collect BEFORE performing it (advice r7): a zero-
    # column count (conservative upper bound — counts null-vector
    # rows matmul won't collect; parquet-metadata fast on bare
    # scans) × dim probed from one non-null row.  Near-zero cost; a
    # count×dim aggregate probe cost a full extra vector-column pass
    # per call, and a limit(budget+1) collect serialized the fetch
    # through CollectLimit.  The nbytes check below stays as the
    # exact backstop.
    if not presized:
        n_bound = seen.count()
        dim_row = seen_slim.select(
            F.size(F.col("_v")).alias("_d")
        ).head(1)
        probe_dim = dim_row[0]["_d"] if dim_row else 0
        est_pre_mb = n_bound * max(probe_dim, 0) * 8 / (1 << 20)
        if est_pre_mb > max_broadcast_mb:
            # upper bound counts null-vector rows the collect skips;
            # one exact non-null count before refusing (advice r8)
            est_pre_mb = (
                seen_slim.count() * max(probe_dim, 0) * 8 / (1 << 20)
            )
        if est_pre_mb > max_broadcast_mb:
            raise ValueError(
                f"seen matrix bounded at ~{est_pre_mb:.0f} MiB > "
                f"max_broadcast_mb={max_broadcast_mb} (pre-collect "
                "count×dim probe); use strategy='expr' (bucket "
                "equi-join) or raise the guard"
            )
    seen_pdf = seen_slim.toPandas()
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, _raw double"
    if not len(seen_pdf):
        return df  # nothing seen → nothing near it
    smat = np.array(
        [np.asarray(v, dtype=np.float64) for v in seen_pdf["_v"]]
    )
    if smat.ndim != 2:
        raise ValueError(
            "dedup_against_embeddings matmul strategy requires "
            "fixed-dimension vectors (use strategy='expr')"
        )
    est_mb = smat.nbytes / (1 << 20)
    if est_mb > max_broadcast_mb:
        raise ValueError(
            f"seen matrix is ~{est_mb:.0f} MiB > max_broadcast_mb="
            f"{max_broadcast_mb}; use strategy='expr' (bucket "
            "equi-join) or raise the guard"
        )
    norms = np.sqrt((smat * smat).sum(axis=1))
    norms[norms == 0] = 1.0
    smat /= norms[:, None]
    sb = seen_pdf["_b"].to_numpy()
    order = np.argsort(sb, kind="stable")
    smat, sb = smat[order], sb[order]
    uniq, starts = np.unique(sb, return_index=True)
    ends = np.append(starts[1:], len(sb))
    slices = {int(b): (int(s), int(e)) for b, s, e in zip(uniq, starts, ends)}
    bc = spark.sparkContext.broadcast((smat, slices))
    dim = smat.shape[1]
    margin = float(threshold) - 10.0 ** (-round_to)

    def gen(batches):
        mat_all, blk_slices = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            lv = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            if lv.ndim != 2 or lv.shape[1] != dim:
                raise ValueError(
                    "ragged/mismatched vector dimension in "
                    "dedup_against_embeddings matmul strategy"
                )
            ln = np.sqrt((lv * lv).sum(axis=1))
            ln[ln == 0] = 1.0
            lv /= ln[:, None]
            ids_l = pdf[id_col].to_numpy()
            blk_l = pdf["_b"].to_numpy()
            frames = []
            for m in masks:
                probed = blk_l ^ m
                for b in pd.unique(probed):
                    rng = blk_slices.get(int(b))
                    if rng is None:
                        continue
                    bs, be = rng
                    lsel = np.nonzero(probed == b)[0]
                    sims = lv[lsel] @ mat_all[bs:be].T
                    li, ri = np.nonzero(sims >= margin)
                    if len(li):
                        frames.append(
                            pd.DataFrame(
                                {
                                    id_col: ids_l[lsel][li],
                                    "_raw": sims[li, ri],
                                }
                            )
                        )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    base = batch.select(
        F.col(id_col),
        F.col(bucket_col).alias("_b"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    hits = (
        base.mapInPandas(gen, out_schema)
        .filter(F.round(F.col("_raw"), round_to) >= float(threshold))
        .select(id_col)
        .distinct()
    )
    return df.join(hits, id_col, "left_anti")


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    block_col: str | None = None,
    round_to: int = 4,
    broadcast: bool = True,
    allow_unblocked: bool = False,
    shingle_n: int | None = None,
    strategy: str = "auto",
    allpairs_budget: int = 4_000_000,
) -> DataFrame:
    """Exact token-set Jaccard similar pairs, optionally blocked.

    Output: ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` and
    ``jaccard >= threshold``.  With ``shingle_n`` the comparison
    unit is word n-gram shingles (:func:`word_shingles`) instead of
    single tokens — order-sensitive n-gram Jaccard, the unit MinHash
    approximates, so this doubles as its exact oracle.

    ``strategy`` picks the EXACT candidate-generation plan (all
    produce identical output — the oracle is strategy-independent):

    - ``"auto"`` (default): cost-based pick, the same
      selectivity-estimate rule an optimizer applies to join
      strategies.  Within-block pair count is estimated from plain
      row counts (``Σ n_b·(n_b−1)/2`` — one cheap count aggregate on
      the RAW frame, no tokenization): at or below
      ``allpairs_budget`` the verified-pair workload is small enough
      that the prefix machinery's extra frequency/ordering
      aggregations cost more than brute-force verification, so
      ``allpairs`` wins (measured ~2× at sf0.1 block sizes); above
      it, ``prefix``.
    - ``"prefix"``: prefix filtering — the public AllPairs
      / PPJoin principle (Bayardo et al., WWW'07; Xiao et al.,
      WWW'08).  Tokens get a global rarest-first canonical order;
      a pair with Jaccard ≥ t MUST share a token inside each side's
      first ``|s| − ⌈t·|s|⌉ + 1`` tokens of that order, so
      candidates come from an inverted-index equi-join on prefix
      tokens (plus a ``t·|a| ≤ |b| ≤ |a|/t`` length band), and only
      candidates are verified.  Because the output filter rounds
      (``round(j, round_to) >= t``), candidate generation runs at
      the relaxed ``t − 0.5·10^−round_to`` so rounding-boundary
      pairs are never prefix false-negatives (strategy equivalence
      is exact, pinned by tests).  The within-block pair count never
      materializes — the r6 sf1 sweep measured the all-pairs form
      unable to finish a 10k-docs-per-block corpus that this plan
      handles with linear-sized shuffles.
    - ``"allpairs"``: the brute-force theta-join baseline (kept for
      benchmarking the prefix win and for tiny inputs where the
      extra aggregations cost more than N² verification).

    Either strategy without ``block_col`` must be opted into with
    ``allow_unblocked=True``: even prefix filtering degenerates when
    short documents put globally-hot tokens into prefixes, so an
    accidental whole-corpus run stays an explicit decision (use
    :func:`minhash_lsh_pairs` at scale).

    ``broadcast=True`` (allpairs only) broadcasts the right side —
    valid whenever the token frame fits executor memory, the same
    regime where the N² baseline is sane at all.
    """
    if strategy not in ("auto", "prefix", "allpairs"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if block_col is None and not allow_unblocked:
        raise ValueError(
            "jaccard_pairs without block_col is an O(n²) all-pairs "
            "self-join; pass block_col= (or use minhash_lsh_pairs) "
            "at scale, or opt in with allow_unblocked=True"
        )
    if strategy == "auto":
        # raw row counts only — the estimate never tokenizes.  The
        # Σ n·(n−1)/2 folds to ONE scalar server-side so pick cost is
        # independent of block cardinality (blocking on a hot
        # high-cardinality column like URL host must not stream a
        # row per block back to the driver just to choose a plan).
        if block_col:
            est_row = (
                df.groupBy(block_col)
                .agg(F.count(F.lit(1)).alias("n"))
                .agg(
                    F.sum(
                        F.col("n") * (F.col("n") - F.lit(1)) / F.lit(2)
                    ).alias("p")
                )
                .first()
            )
            est_pairs = int(est_row["p"] or 0)
        else:
            c = df.count()
            est_pairs = c * (c - 1) // 2
        strategy = "allpairs" if est_pairs <= allpairs_budget else "prefix"
    nparts = df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.select(
            F.col(id_col), *([F.col(block_col)] if block_col else []),
            F.col(text_col),
        )
        .repartition(nparts)  # parallelize tokenization (see minhash)
        .select(
            F.col(id_col), *([F.col(block_col)] if block_col else []),
            _hashed(
                word_shingles(F.col(text_col), shingle_n)
                if shingle_n
                else _norm_tokens(F.col(text_col))
            ).alias("_toks"),
        )
    )
    jac = F.round(_jaccard(F.col("_ta"), F.col("_tb")), round_to)
    if strategy == "prefix":
        # The emitted filter is round(jaccard, round_to) >= threshold,
        # which admits RAW jaccard down to threshold - 0.5*10^-round_to
        # (HALF_UP).  Candidate generation must therefore have recall at
        # that relaxed threshold, not at `threshold` itself — otherwise
        # boundary pairs the allpairs strategy and the SQL oracle emit
        # (e.g. raw 0.75 rounding to 0.8 at round_to=1) are false
        # negatives of the prefix length / length band.  The extra 1e-12
        # absorbs float error in the relaxation itself; a smaller t only
        # widens prefixes/bands, so it is always safe.
        t_gen = max(
            float(threshold) - 0.5 * 10.0 ** (-round_to) - 1e-12, 1e-9
        )
        pairs = _prefix_filter_candidates(
            base, id_col, block_col, t_gen
        )
        return (
            pairs.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    a = base.select(
        F.col(id_col).alias("id_a"),
        *([F.col(block_col).alias("_blk_a")] if block_col else []),
        F.col("_toks").alias("_ta"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        *([F.col(block_col).alias("_blk_b")] if block_col else []),
        F.col("_toks").alias("_tb"),
    )
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("_blk_a") == F.col("_blk_b"))
    if broadcast:
        pairs = a.join(F.broadcast(b), cond)
    else:
        pairs = a.join(b, cond)
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _prefix_filter_candidates(
    base: DataFrame, id_col: str, block_col: str | None, threshold: float
) -> DataFrame:
    """Prefix-filtered candidate pairs carrying both token arrays.

    Input ``base``: ``(id, [block], _toks)`` with ``_toks`` a
    distinct hashed-token array.  Returns ``(id_a, id_b, _ta, _tb)``
    — a SUPERSET of all pairs with Jaccard ≥ ``threshold`` (no false
    negatives; the caller verifies exactly).

    Exactness: order every document's tokens by ascending global
    document frequency (token value as the tie-break — any
    consistent total order preserves correctness; rarest-first is
    what makes candidates few).  If two sets r, s share no token in
    their prefixes of length ``|r| − ⌈t·|r|⌉ + 1``, their overlap is
    at most ``⌈t·|r|⌉ − 1 < t·|r| ≤ t·|r∪s| ≤ |r∩s|`` required for
    Jaccard ≥ t — contradiction; so every qualifying pair shares a
    prefix token and survives the equi-join.

    Scale shape: one explode+groupBy for document frequencies, one
    groupBy to re-sort each document, an equi-join on (prefix token
    [, block]) with the ``t·|a| ≤ |b| ≤ |a|/t`` length band, a
    distinct, and two hash joins to re-attach token arrays — every
    shuffle is corpus- or candidate-sized, never pair-count-sized.
    The token frame is persisted (memory-and-disk) because three
    plan branches read it; lineage is kept, so executor loss
    recomputes instead of failing.
    """
    from pyspark import StorageLevel

    from semantic_olap_spark.caching import tracked_persist

    blk_eq = [block_col] if block_col else []
    # tracked (r6 ADVICE leak): feeds the lazy pair plan twice, so it
    # cannot unpersist here — release via caching.release_caches()
    base = tracked_persist(base, StorageLevel.MEMORY_AND_DISK)
    sized = base.withColumn("_sz", F.size("_toks")).filter(F.col("_sz") > 0)
    tok = sized.select(
        F.col(id_col), *[F.col(c) for c in blk_eq], F.col("_sz"),
        F.explode("_toks").alias("_tok"),
    )
    freq = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    ordered = (
        tok.join(freq, "_tok")
        .groupBy(F.col(id_col), *[F.col(c) for c in blk_eq], F.col("_sz"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_tok")))
            ).alias("_os")
        )
    )
    plen = (
        F.col("_sz") - F.ceil(F.col("_sz") * F.lit(float(threshold))) + 1
    ).cast("int")
    prefix = F.slice(
        F.transform(F.col("_os"), lambda s: s["_tok"]), F.lit(1), plen
    )
    pe = ordered.select(
        F.col(id_col), *[F.col(c) for c in blk_eq], F.col("_sz"),
        F.explode(prefix).alias("_ptok"),
    )
    a = pe.select(
        F.col(id_col).alias("id_a"), *[F.col(c) for c in blk_eq],
        F.col("_sz").alias("_sza"), F.col("_ptok"),
    )
    b = pe.select(
        F.col(id_col).alias("id_b"), *[F.col(c) for c in blk_eq],
        F.col("_sz").alias("_szb"), F.col("_ptok"),
    )
    t = float(threshold)
    cands = (
        a.join(b, ["_ptok", *blk_eq])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("_szb") >= F.col("_sza") * F.lit(t))
            & (F.col("_sza") >= F.col("_szb") * F.lit(t))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = base.select(
        F.col(id_col).alias("id_a"), F.col("_toks").alias("_ta")
    )
    tb = base.select(
        F.col(id_col).alias("id_b"), F.col("_toks").alias("_tb")
    )
    return cands.join(ta, "id_a").join(tb, "id_b")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; whole text if < n tokens.

    Built as a fold of ``zip_with`` over shifted slices — one lambda
    invocation per output gram.  The per-index ``transform``+
    ``slice`` form is quadratic under interpreted lambda evaluation
    (measured ~3-4× slower on the signature pass at sf0.1).
    """
    from semantic_olap_spark.functions.text import zip_ngram_fold

    toks = _ws_lower_tokens(col)
    grams = F.when(
        F.size(toks) < n, F.array(F.array_join(toks, " "))
    ).otherwise(zip_ngram_fold(toks, n))
    return F.array_distinct(grams)


def _minhash_signature(hashed_shingles: Column, num_hashes: int) -> Column:
    """Array of ``num_hashes`` min-hash values — pure Catalyst.

    Input is the pre-hashed long array from :func:`_hashed` (one
    xxhash64 pass over each shingle's text); the k hash functions
    re-hash that fixed-width long with a per-function seed
    (``xxhash64(h, i)``) — constant work per (shingle, i) instead of
    length-proportional string hashing k times.  Stays inside
    whole-stage codegen (overflow-safe under ANSI mode, unlike an
    affine a·x+b family on longs).  No shuffle, no Python.
    """

    def h(i: int):
        # single-arg lambda: a second parameter would be bound to the
        # ARRAY INDEX by F.transform, not to the closure value
        return lambda x: F.xxhash64(x, F.lit(i))

    return F.array(
        *[
            F.array_min(F.transform(hashed_shingles, h(i)))
            for i in range(num_hashes)
        ]
    )


def _minhash_signature_md5(shingles: Column, num_hashes: int) -> Column:
    """MD5-string variant of :func:`_minhash_signature` (exact mode).

    Each hash function i is ``md5('i:' || shingle)`` and the min is
    the lexicographic minimum of the hex strings.  ~10× the work of
    the xxhash64 path (length-proportional string hashing per
    function), but every step is reproducible in ANSI SQL — this is
    the mode the DuckDB oracle verifies bit-for-bit; production keeps
    the long-hash default.
    """

    def h(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s).cast("binary"))

    return F.array(
        *[
            F.array_min(F.transform(shingles, h(i)))
            for i in range(num_hashes)
        ]
    )


# Bucket-size threshold between the two pair-expansion strategies in
# minhash_lsh_pairs: <= this, a codegen double-explode (no join, no
# extra exchange); above it, the streaming self-join (no O(b²) array
# copies).  Any value splits the same candidate set — this only picks
# the physical form per bucket.
_PAIR_EXPLODE_MAX_BUCKET = 128


def _band_keys(
    sig: Column, num_hashes: int, bands: int, exact_hash: bool
) -> Column:
    """One LSH bucket key per band of the signature array."""
    r = num_hashes // bands
    if exact_hash:
        return F.array(
            *[
                F.md5(
                    F.concat_ws("|", F.slice(sig, b * r + 1, r)).cast(
                        "binary"
                    )
                )
                for b in range(bands)
            ]
        )
    return F.array(
        *[F.hash(F.slice(sig, b * r + 1, r)) for b in range(bands)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    round_to: int = 4,
    max_bucket_size: int | None = 5000,
    exact_hash: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact verify.

    Pipeline (the standard corpus-dedup shape):

    1. shingle → MinHash signature (scan-side array expressions);
    2. split the signature into ``bands`` bands of
       ``num_hashes/bands`` values; hash each band;
    3. candidate pairs = ids sharing any ``(band_idx, band_hash)``
       bucket — an equi-self-join on the band key, so cost follows
       bucket sizes, never n²;
    4. verify candidates with exact shingle-set Jaccard and keep
       those ``>= threshold``.

    With 64 hashes / 16 bands (r=4) the LSH S-curve crosses ~50%
    recall at J≈0.5 and >99% at J≥0.8 — the usual near-dup operating
    point.  Output: ``(id_a, id_b, jaccard)``, ``id_a < id_b``.

    ``max_bucket_size`` is the skew guard: a degenerate band bucket
    (boilerplate/empty docs hashing identically) of size b yields
    b²/2 candidate pairs — one hot bucket can dominate the whole
    job.  Buckets above the cap are dropped before the self-join
    (their members are near-identical cliques; they still surface
    through their other ``bands-1`` bands or an exact-dedup pass).
    Set ``None`` to disable.

    ``exact_hash=True`` swaps xxhash64 for md5 hex strings end to end
    (signature, band key, and verify sets) so the whole pipeline is
    reproducible in the DuckDB oracle; slower, oracle/driver use only.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    # shingles are pre-hashed to longs once: the signature reuses
    # them as its base and the verify step intersects long arrays.
    # Repartition first: a corpus read as few parquet files would
    # otherwise serialize the (CPU-heavy) shingle+signature pass on
    # few cores — one cheap shuffle of raw text unlocks full
    # parallelism for the expensive part.
    nparts = df.sparkSession.sparkContext.defaultParallelism
    shingle_set = (
        word_shingles(F.col(text_col), shingle_n)
        if exact_hash
        else _hashed(word_shingles(F.col(text_col), shingle_n))
    )
    base = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col))
        .repartition(nparts)
        .select("_id", shingle_set.alias("_sh"))
    )
    from semantic_olap_spark.caching import tracked_persist

    # persist shingles AND the signature together (r14): the banding
    # below slices "_sig" once per band, and Catalyst's projection
    # collapse would otherwise inline the 64-hash signature
    # expression into each of the 16 band keys (interpreted HOFs, no
    # subexpression elimination — a measured 16× recompute under the
    # posexplode).  With "_sig" materialized in the cache the
    # signature computes once; the verify joins read "_sh" from the
    # same cached frame.  Released via caching.release_caches().
    sig_expr = (
        _minhash_signature_md5(F.col("_sh"), num_hashes)
        if exact_hash
        else _minhash_signature(F.col("_sh"), num_hashes)
    )
    docs = tracked_persist(base.withColumn("_sig", sig_expr))
    band_arr = _band_keys(F.col("_sig"), num_hashes, bands, exact_hash)
    banded = docs.select(
        "_id", F.posexplode(band_arr).alias("_band", "_bh")
    )
    # Band-keyed aggregation (r14, guide §2.4 + §2.5): ONE groupBy
    # collects each bucket's member ids and the skew cap becomes a
    # size() filter on the collected array (same predicate the former
    # count-window expressed) — the count window (shuffle+sort) and
    # the bucket self-join (two more exchanges) disappear from the
    # common path.  Candidate SET is unchanged: pairs sharing >=1
    # band bucket, id_a < id_b, distinct — buckets of size 1 yield no
    # pairs in either form.
    #
    # Pair expansion is size-split (the guide's hot-key hybrid): a
    # normal bucket (the overwhelming mass — sizes 2-3 on real
    # corpora) expands with a codegen double-explode, zero extra
    # exchanges; an OVERSIZED bucket would pay O(b²) array copies
    # under that form (the outer explode materializes the ids array
    # once per member), so big buckets take the old streaming
    # self-join instead — pair rows are 16 bytes each, never array
    # copies.  Measured at the stress corpus (2k-member clique
    # buckets): explode-only 5.5 s vs hybrid ~4 s uncapped.
    if max_bucket_size is None:
        # no skew guard requested: the direct bucket self-join needs
        # no bucket sizes at all — a groupBy/collect_list pass would
        # be pure overhead (and O(b²) array copies on exactly the
        # degenerate cliques an uncapped run is exposed to)
        left = banded.select(
            F.col("_id").alias("id_a"), F.col("_band"), F.col("_bh")
        )
        right = banded.select(
            F.col("_id").alias("id_b"), F.col("_band"), F.col("_bh")
        )
        cand = (
            left.join(right, ["_band", "_bh"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        buckets = tracked_persist(
            banded.groupBy("_band", "_bh")
            .agg(F.collect_list("_id").alias("_ids"))
            .filter(
                (F.size("_ids") >= 2)
                & (F.size("_ids") <= max_bucket_size)
            )
        )
        # both size-branches consume `buckets`; without the persist
        # the whole shingle→signature→groupBy chain would execute
        # TWICE (Catalyst does not dedupe shared lineage)
        small = buckets.filter(
            F.size("_ids") <= _PAIR_EXPLODE_MAX_BUCKET
        )
        big = buckets.filter(F.size("_ids") > _PAIR_EXPLODE_MAX_BUCKET)
        small_pairs = (
            small.select(F.explode("_ids").alias("id_a"), "_ids")
            .select("id_a", F.explode("_ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
        )
        big_rows = big.select(
            "_band", "_bh", F.explode("_ids").alias("_id")
        )
        big_pairs = (
            big_rows.select(F.col("_id").alias("id_a"), "_band", "_bh")
            .join(
                big_rows.select(
                    F.col("_id").alias("id_b"), "_band", "_bh"
                ),
                ["_band", "_bh"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = small_pairs.unionByName(big_pairs).distinct()
    with_sets = (
        cand.join(docs.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sa")), "id_a")
        .join(docs.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sb")), "id_b")
    )
    jac = F.round(_jaccard(F.col("_sa"), F.col("_sb")), round_to)
    return (
        with_sets.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    exact_hash: bool = False,
) -> DataFrame:
    """Build the corpus-side MinHash-LSH index: one row per document.

    Output: ``(_id, _sh, _bkeys)`` — the document's hashed shingle
    set (for the exact-Jaccard verify step) and its ``bands`` LSH
    bucket keys.  Persist this ONCE per corpus (plain parquet is
    fine; the probe explodes ``_bkeys`` itself), then every incoming
    batch is checked with :func:`dedup_against_minhash` without
    re-shingling the corpus — the continuous-ingest analog of
    :func:`dedup_against` for NEAR duplicates, and the reason the
    95%-of-the-work signature pass runs once, not per batch.

    The probe must use the SAME ``(shingle_n, num_hashes, bands,
    exact_hash)`` — signatures from different parameters never
    collide correctly.  :func:`dedup_against_minhash` recomputes the
    batch side internally from its own arguments, so pass one shared
    config dict in calling code.

    Each call pins a tracked persist (the signature frame, see below)
    that stays in the block manager until
    ``caching.release_caches()`` or the enclosing
    ``caching.cache_scope()`` exits; a long-lived session that builds
    many indexes should release them.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    nparts = df.sparkSession.sparkContext.defaultParallelism
    shingle_set = (
        word_shingles(F.col(text_col), shingle_n)
        if exact_hash
        else _hashed(word_shingles(F.col(text_col), shingle_n))
    )
    docs = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col))
        .repartition(nparts)
        .select("_id", shingle_set.alias("_sh"))
    )
    sig = (
        _minhash_signature_md5(F.col("_sh"), num_hashes)
        if exact_hash
        else _minhash_signature(F.col("_sh"), num_hashes)
    )
    # MATERIALIZE the signature before banding (r14): _band_keys
    # slices the signature once per band, and Catalyst collapses a
    # withColumn("_sig")+select back into one projection, stamping
    # the 64-hash signature expression out per band key — interpreted
    # HOF transforms get no subexpression elimination, so the
    # signature executed 16×, and consumers that explode ``_bkeys``
    # (every probe) paid it again per reference.  A projection alias
    # cannot stop CollapseProject (r13's barrier experiments), so the
    # sig frame is persisted: the signature computes ONCE, band keys
    # and verify reads hit the cache.  Released via
    # caching.release_caches().
    from semantic_olap_spark.caching import tracked_persist

    sigd = tracked_persist(docs.withColumn("_sig", sig))
    return sigd.select(
        "_id",
        "_sh",
        _band_keys(F.col("_sig"), num_hashes, bands, exact_hash).alias(
            "_bkeys"
        ),
    )


def dedup_against_minhash(
    df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = 5000,
    exact_hash: bool = False,
) -> DataFrame:
    """Drop batch rows that near-duplicate an indexed corpus.

    The daily-ingest near-dup shape: ``index`` is
    :func:`minhash_index` output for the accumulated corpus (built
    with the SAME parameters); a batch row is dropped when it shares
    an LSH bucket with an indexed document AND exact shingle-set
    Jaccard ``>= threshold``.  Candidates come from a band-key
    equi-join (batch bands × corpus bands) — cost follows bucket
    sizes, never |batch|×|corpus| — with the same hot-bucket skew
    guard as :func:`minhash_lsh_pairs`, applied to the corpus side
    where boilerplate cliques accumulate.  Output: the surviving
    rows of ``df``, original schema.  Intra-batch duplicates are out
    of scope — compose with :func:`minhash_lsh_pairs` +
    :func:`dedup_keep_best` on the batch first.
    """
    from semantic_olap_spark.caching import tracked_persist

    batch_idx = tracked_persist(minhash_index(
        df, text_col, id_col, shingle_n, num_hashes, bands, exact_hash
    ))  # released via caching.release_caches()
    # candidate join carries only (id, band, key) — the shingle
    # arrays would otherwise ride the shuffle ``bands`` times each
    b = batch_idx.select(
        F.col("_id").alias("_qid"),
        F.posexplode("_bkeys").alias("_band", "_bh"),
    )
    c = index.select(
        F.col("_id").alias("_cid"),
        F.posexplode("_bkeys").alias("_band", "_bh"),
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("_band", "_bh")
        c = (
            c.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    cand = (
        b.join(c, ["_band", "_bh"]).select("_qid", "_cid").distinct()
    )
    dup_ids = (
        cand.join(
            batch_idx.select(
                F.col("_id").alias("_qid"), F.col("_sh").alias("_qsh")
            ),
            "_qid",
        )
        .join(
            index.select(
                F.col("_id").alias("_cid"), F.col("_sh").alias("_csh")
            ),
            "_cid",
        )
        .filter(_jaccard(F.col("_qsh"), F.col("_csh")) >= threshold)
        .select("_qid")
        .distinct()
    )
    return df.join(
        dup_ids, F.col(id_col) == F.col("_qid"), "left_anti"
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_bucket_size: int | None = 5000,
    exact_hash: bool = False,
) -> DataFrame:
    """Partial-copy pairs: documents sharing winnowing fingerprints.

    Complements the whole-document strategies: winnowing guarantees
    any shared token run of ≥ ``window + k - 1`` tokens contributes a
    common fingerprint, so this finds documents that EMBED copied
    passages even when the rest differs (quote farms, boilerplate
    injection, template reuse).  Shape = the LSH candidate pattern:
    explode fingerprints, equi-self-join on the fingerprint, count
    shared prints per pair.  Output ``(id_a, id_b, shared)`` with
    ``shared >= min_shared``; same skew guard as the other banded
    joins.
    """
    from semantic_olap_spark.functions.text import winnow_fingerprints

    nparts = df.sparkSession.sparkContext.defaultParallelism
    prints = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col))
        .repartition(nparts)
        .select(
            "_id",
            F.explode(
                winnow_fingerprints(F.col(text_col), k, window, exact_hash)
            ).alias("_fp"),
        )
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("_fp")
        prints = (
            prints.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    left = prints.select(F.col("_id").alias("id_a"), "_fp")
    right = prints.select(F.col("_id").alias("id_b"), "_fp")
    return (
        left.join(right, "_fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


@F.pandas_udf(LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash of whitespace tokens (Arrow-batched).

    Token hash = first 8 bytes of md5 (deterministic across
    processes — Python's builtin ``hash`` is salted and unusable
    here).  Sign-aggregates bit votes per the classic Charikar
    construction.  Bit votes are numpy-vectorized: the per-token
    cost is one md5 call; the 64-bit unpack/sum runs as array math
    (a pure-Python bit loop is ~60× slower on real corpora).
    """
    import numpy as np

    bit_idx = np.arange(64, dtype=np.uint64)
    out = []
    for t in texts:
        toks = set(str(t or "").lower().split())
        if not toks:
            out.append(0)
            continue
        hashes = np.array(
            [
                int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8],
                               "big")
                for tok in toks
            ],
            dtype=np.uint64,
        )
        # (n_tok, 64) bit matrix → per-bit set counts → majority vote
        bits = (hashes[:, None] >> bit_idx[None, :]) & np.uint64(1)
        set_counts = bits.sum(axis=0)
        sign = (2 * set_counts > len(toks)).astype(np.uint64)
        v = int((sign << bit_idx).sum(dtype=np.uint64))
        out.append(v - (1 << 64) if v >= (1 << 63) else v)
    return pd.Series(out, dtype="int64")


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    chunks: int = 4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_distance``.

    Candidates: split the 64-bit hash into ``chunks`` equal bit
    chunks; by pigeonhole, Hamming ≤ chunks-1 guarantees two
    near-dups share at least one exact chunk — so an equi-join on
    ``(chunk_idx, chunk_value)`` finds all pairs with distance
    < chunks, verified exactly with ``bit_count(xor)`` (JVM-side).
    Output: ``(id_a, id_b, hamming)``, ``id_a < id_b``.

    ``max_bucket_size`` is the skew guard (same reasoning as
    :func:`minhash_lsh_pairs`): corpora with heavy shared vocabulary
    cluster their simhashes, and one hot chunk bucket of size b
    yields b²/2 candidates; buckets above the cap are dropped before
    the self-join.  NOTE this trades recall for boundedness: a pair
    at Hamming distance ``chunks-1`` matches in exactly one chunk,
    so if that one bucket is hot the pair is lost (closer pairs
    still surface through their other matching chunks).  Set
    ``None`` for exact results (the oracle/contract mode).
    """
    if max_distance >= chunks:
        raise ValueError(
            f"banding with {chunks} chunks only guarantees recall for "
            f"distance <= {chunks - 1}; raise chunks for {max_distance}"
        )
    width = 64 // chunks
    nparts = df.sparkSession.sparkContext.defaultParallelism
    hashed = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col))
        .repartition(nparts)
        .select("_id", _simhash64(F.col(text_col)).alias("_sh"))
    )
    from semantic_olap_spark.caching import tracked_persist

    hashed = tracked_persist(hashed)  # released via release_caches()
    chunk_arr = F.array(
        *[
            F.shiftrightunsigned(F.col("_sh"), c * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            for c in range(chunks)
        ]
    )
    banded = hashed.select("_id", "_sh", F.posexplode(chunk_arr).alias("_c", "_cv"))
    if max_bucket_size is not None:
        w = Window.partitionBy("_c", "_cv")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    left = banded.select(
        F.col("_id").alias("id_a"), F.col("_sh").alias("_ha"), "_c", "_cv"
    )
    right = banded.select(
        F.col("_id").alias("id_b"), F.col("_sh").alias("_hb"), "_c", "_cv"
    )
    cand = (
        left.join(right, ["_c", "_cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_ha", "_hb")
        .distinct()
    )
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components of a near-dup pair graph.

    Input: a pair frame as produced by :func:`jaccard_pairs` /
    :func:`minhash_lsh_pairs` / :func:`simhash_pairs`.  Output:
    ``(doc_id, cluster_id)`` for every id appearing in a pair, where
    ``cluster_id`` is the minimum doc id of the connected component —
    the canonical cluster label used by corpus-dedup "keep one per
    duplicate cluster" policies.

    Algorithm: distributed min-label propagation with path
    shortcutting.  Each round every node takes the min label over
    itself and its neighbors (one shuffle: edges ⋈ labels, groupBy
    min), then jumps to its label's label (second join) — the
    pointer-doubling step that makes chains converge in O(log n)
    rounds instead of O(diameter).  Labels only decrease and are
    bounded below, so the sum of labels is a monotone convergence
    witness; iteration stops the first round it is unchanged.  Every
    round ends in a lineage cut (caching.lineage_cut) — iterative
    self-joins otherwise stack exponentially-growing lineage onto
    Catalyst.  Default ``checkpoint_dir=None`` uses
    ``localCheckpoint`` (zero-config, right for local[*]); pass a
    fault-tolerant path (HDFS/S3) on a real cluster to switch the
    cuts to reliable ``checkpoint()`` so an executor loss mid-loop
    no longer kills the job.  Labels are identical either way
    (pinned in tests).

    Near-dup graphs are clique-heavy (diameter ~1-2), so the typical
    round count is 2-3; ``max_iter`` is a safety bound, not a tuning
    knob.  Cost per round: two shuffles of the (node, label) frame —
    at 100 TB corpus scale the pair graph is orders of magnitude
    smaller than the corpus itself.

    Size-adaptive physical strategy (r7): the edge frame is counted
    once (it is persisted for the loop anyway); at or below
    ``driver_threshold`` edges the components are solved by a driver
    union-find over ONE Arrow collect of the (src, dst) pairs — the
    same bounded data movement as a broadcast-join side, the same
    size-based plan pick Spark itself makes for joins.  Each
    distributed round costs a fixed multiple of job/shuffle latency
    that dwarfs the actual work on small pair graphs (a 441-edge
    graph spent ~3s in round overhead); union-find is O(E α(E))
    with ~16 bytes/edge, so 10^6 edges is ~16 MB on the driver —
    comfortably under any broadcast budget.  Above the threshold the
    distributed label-propagation loop runs unchanged (pass
    ``driver_threshold=0`` to force it).  Both paths emit identical
    labels — min node id per component — pinned in tests.
    """
    # both edge directions from ONE evaluation of `pairs` — a union
    # of two selects would run the (possibly expensive: cosine /
    # signature join) pair plan twice in the materialization job
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("_src"), F.col(id_b).alias("_dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("_src"), F.col(id_a).alias("_dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e._src", "_e._dst")
        .persist()
    )
    n_edges = edges.count()  # also materializes the persist
    if n_edges <= driver_threshold:
        spark = pairs.sparkSession
        id_type = pairs.schema[id_a].dataType
        epdf = edges.toPandas()
        edges.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # .tolist() → plain Python scalars: createDataFrame rejects
        # numpy int64, and dict/find run faster on native ints
        for s, d in zip(epdf["_src"].tolist(), epdf["_dst"].tolist()):
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by label order so every root IS the min id
                if rd < rs:
                    rs, rd = rd, rs
                parent[rd] = rs
        rows = [(n, find(n)) for n in parent]
        schema = StructType(
            [
                StructField("doc_id", id_type),
                StructField("cluster_id", id_type),
            ]
        )
        return spark.createDataFrame(rows, schema)
    from semantic_olap_spark.caching import lineage_cut

    labels = lineage_cut(
        edges.select(F.col("_src").alias("_node"))
        .distinct()
        .withColumn("_lbl", F.col("_node")),
        checkpoint_dir,
    )
    prev_sum = None
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["_dst"] == labels["_node"])
            .groupBy("_src")
            .agg(F.min("_lbl").alias("_nbl"))
        )
        stepped = (
            labels.join(nbr_min, labels["_node"] == nbr_min["_src"], "left")
            .select(
                "_node",
                F.least(
                    F.col("_lbl"), F.coalesce(F.col("_nbl"), F.col("_lbl"))
                ).alias("_lbl"),
            )
        )
        # pointer doubling: follow the label one hop (labels are
        # always node ids, so the self-join hits or misses cleanly)
        hop = stepped.select(
            F.col("_node").alias("_hn"), F.col("_lbl").alias("_hl")
        )
        labels = lineage_cut(
            stepped.join(hop, stepped["_lbl"] == hop["_hn"], "left")
            .select(
                "_node",
                F.coalesce(F.col("_hl"), F.col("_lbl")).alias("_lbl"),
            ),
            checkpoint_dir,
            # eager=False: the convergence agg below is the round's
            # only action — it materializes the checkpoint AND reads
            # the sum in ONE job instead of checkpoint-then-agg two
            eager=False,
        )
        cur_sum = labels.agg(F.sum("_lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select(
        F.col("_node").alias("doc_id"), F.col("_lbl").alias("cluster_id")
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep one representative document per near-dup cluster.

    The standard corpus-dedup endgame: given the original frame and a
    near-dup pair frame, cluster the pairs (:func:`dedup_clusters`)
    and keep, per cluster, the row with the highest ``score_col``
    (ties and ``score_col=None`` → lowest ``id_col`` — deterministic).
    Documents in no pair are their own singleton cluster and always
    survive.  Output: the surviving rows of ``df``, original schema.

    One extra shuffle beyond clustering (the per-cluster window);
    the cluster frame is pair-graph-sized, so the join back to the
    corpus broadcasts in the common case where near-dups are a small
    fraction of the data.
    """
    clusters = dedup_clusters(pairs, id_a=id_a, id_b=id_b).select(
        F.col("doc_id").alias("_cid"), F.col("cluster_id").alias("_cluster")
    )
    tagged = df.join(
        clusters, df[id_col] == clusters["_cid"], "left"
    ).withColumn("_cluster", F.coalesce(F.col("_cluster"), F.col(id_col)))
    order = (
        [F.col(score_col).desc_nulls_last(), F.col(id_col).asc()]
        if score_col
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy("_cluster").orderBy(*order)
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_cid", "_cluster", "_rn")
    )


def _span_tokens(col: Column) -> Column:
    """Whitespace tokens of the ORIGINAL-case text, empties dropped.

    Span dedup is exact-substring dedup, so unlike the near-dup
    family there is no lowercase normalization: two spans are
    duplicates only if they match byte-for-byte token-for-token
    (Lee et al. 2022 §3.1 operates on the raw token stream).
    """
    return F.filter(F.split(col, _WS), lambda t: t != "")


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_count: int = 2,
    fingerprint: str = "xxhash64",
    tokens_col: str | None = None,
    max_doc_tokens: int | None = 2_000_000,
) -> DataFrame:
    """Find exact duplicated token spans of length >= ``k`` corpus-wide.

    The ExactSubstr technique of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"): any token window of
    length ``k`` whose exact content occurs at least ``min_count``
    times ANYWHERE in the corpus (across docs or repeated within one
    doc) marks a duplicated region.  The paper builds a suffix array;
    the Spark-first equivalent is a rolling k-gram fingerprint join —
    same detected spans for windows of exactly length ``k``, because
    every duplicated substring of >= k tokens is a union of duplicated
    k-windows and merging overlapping windows recovers the maximal
    span.

    Plan shape (pure Catalyst, zero Python rows):

    1. tokenize scan-side; k-gram fingerprints ``md5(concat_ws(' ',
       slice(tokens, i, k)))`` built by a higher-order ``transform``
       over ``sequence(1, n-k+1)`` then exploded — row count ~= total
       corpus tokens, all map-side;
    2. ONE corpus-wide shuffle: ``groupBy(hash)`` with partial
       (map-side) aggregation to find fingerprints seen
       ``>= min_count`` times;
    3. equi-join the gram stream back on the surviving hashes (no
       fan-out — the dup side is distinct hashes — so a boilerplate
       gram repeated M times stays M rows, never M x M);
    4. per-doc island merge of overlapping/adjacent windows with one
       window spec (classic gaps-and-islands).

    At 100 TB the only all-corpus exchange is step 2's fingerprint
    aggregate, the same shuffle profile as ``minhash_lsh_pairs``'
    shingle stage; step 4 partitions by doc.  Returns one row per
    maximal span: ``(id_col, span_start, span_end, span_tokens)``
    with 1-based inclusive token indices.

    Reference scope note: the reference engine has no span-level
    dedup (its dedup surface is row-level); this is part of the
    beyond-reference training-pipeline family (SURVEY.md §7.1 M7).

    ``fingerprint``: ``"xxhash64"`` (default) hashes the token-array
    slice directly — no per-window string build, the production
    posture (64-bit: ~7e-7 false-dup windows at 25T windows, the
    same budget the MinHash family accepts).  ``"md5"`` builds
    ``md5(concat_ws(' ', window))`` — 128-bit and reproducible in
    ANSI SQL, the driver-oracle mode (mirrors
    ``minhash_lsh_pairs(exact_hash=True)``).

    ``max_doc_tokens`` (default 2M): the island merge partitions by
    doc, so one pathological multi-GB document would serialize its
    own merge task.  Documents over the bound raise in-plan with a
    remedy (pre-chunk with
    :func:`semantic_olap_spark.functions.packing.chunk_documents`);
    pass ``None`` to accept the skew — the same opt-in philosophy as
    the Jaccard family's ``allow_unblocked``.
    """
    grams = _gram_stream(
        df, text_col, id_col, k, fingerprint, tokens_col,
        max_doc_tokens=max_doc_tokens,
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("h")
    )
    return _merge_islands(_window_hits(grams, dup, id_col, k), id_col)


def _window_hits(
    grams: DataFrame, keys: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Gram rows surviving the fingerprint equi-join, as (id, start,
    end) window intervals — shared by the corpus-wide and the
    against-index span paths."""
    return grams.join(keys, "h").select(
        id_col,
        F.col("start"),
        (F.col("start") + (k - 1)).alias("end"),
    )


def _gram_stream(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    fingerprint: str,
    tokens_col: str | None = None,
    stride: int = 1,
    max_doc_tokens: int | None = None,
) -> DataFrame:
    """(id, start, h): one fingerprint row per k-token window.

    All map-side: tokenize, build the window fingerprints with a
    higher-order ``transform`` over ``sequence(1, n-k+1)``, explode.
    With ``tokens_col`` the windows run over that pre-tokenized array
    (any element type — e.g. BPE ids from ``bpe_tokenize_docs``)
    instead of whitespace-splitting ``text_col``; md5 mode casts the
    window to ``array<string>`` before the concat (a no-op for text
    tokens).

    ``max_doc_tokens``: in-plan oversized-document guard.  The island
    merge downstream windows by doc, so ONE pathological multi-GB
    document serializes its own merge task; with the guard set, any
    document over the bound raises (``F.raise_error`` inside the
    token-count expression — zero extra jobs, fires exactly on the
    offending row) with a remedy pointing at ``chunk_documents``.
    One benign corner: an oversized document whose ``id_col`` is NULL
    may be pruned from the join-back branch (Catalyst infers
    ``isnotnull`` on join keys) and under AQE empty-propagation the
    other branch's raise can be cancelled — harmless, because the
    pruned doc never reaches the per-doc island merge the guard
    protects.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    if fingerprint not in ("xxhash64", "md5"):
        raise ValueError(f"unknown fingerprint {fingerprint!r}")
    if max_doc_tokens is not None and max_doc_tokens < 1:
        raise ValueError(
            f"max_doc_tokens must be >= 1 or None, got {max_doc_tokens}"
        )
    toks = (
        F.col(tokens_col)
        if tokens_col
        else _span_tokens(F.col(text_col))
    )
    base = df.select(F.col(id_col), toks.alias("_t"))
    n = F.size("_t")
    if max_doc_tokens is not None:
        # raise ONLY on a definitive n > max: null text/tokens make n
        # NULL (ANSI size(NULL) is NULL), and the null row must keep
        # flowing to the documented pass-through, not trip the guard
        n = F.when(
            n > max_doc_tokens,
            F.raise_error(
                F.concat(
                    F.lit("span dedup: document "),
                    F.coalesce(
                        F.col(id_col).cast("string"), F.lit("<null id>")
                    ),
                    F.lit(" has "),
                    F.size("_t").cast("string"),
                    F.lit(
                        f" tokens > max_doc_tokens={max_doc_tokens}: one"
                        " huge document serializes its own island-merge"
                        " task — pre-chunk it with semantic_olap_spark."
                        "functions.packing.chunk_documents, or pass"
                        " max_doc_tokens=None to accept the skew"
                    ),
                )
            ).cast("int"),
        ).otherwise(n)
    starts = F.when(
        n >= k,
        F.sequence(
            F.lit(1), (n - k + 1).cast("int"), F.lit(int(stride))
        ),
    ).otherwise(F.array().cast("array<int>"))
    if fingerprint == "md5":
        # text mode joins with ' ' (whitespace tokens cannot contain
        # spaces, so the encoding is injective AND reproducible in a
        # plain-SQL oracle).  tokens_col mode joins with the unit
        # separator: arbitrary caller tokens MAY contain spaces, and
        # ["new york","city"] vs ["new","york city"] must not collide
        sep = "\x1f" if tokens_col else " "
        def _fp(i):
            return F.md5(
                F.concat_ws(
                    sep,
                    F.slice(F.col("_t"), i, k).cast("array<string>"),
                )
            )
    else:
        def _fp(i):
            return F.xxhash64(F.slice(F.col("_t"), i, k))
    return base.select(
        id_col,
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.cast("long").alias("start"),
                    _fp(i).alias("h"),
                ),
            )
        ).alias("_g"),
    ).select(id_col, F.col("_g.start").alias("start"), F.col("_g.h").alias("h"))


def _merge_islands(hits: DataFrame, id_col: str) -> DataFrame:
    """Merge overlapping/adjacent (start, end) windows per doc into
    maximal spans — classic gaps-and-islands, one window spec."""
    w = Window.partitionBy(id_col).orderBy("start")
    prev_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "_new",
        F.when(
            prev_end.isNull() | (F.col("start") > prev_end + 1), 1
        ).otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy(id_col, "_island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select(
            id_col,
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_tokens"),
        )
    )


def span_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    fingerprint: str = "xxhash64",
    tokens_col: str | None = None,
    stride: int = 1,
    max_doc_tokens: int | None = 2_000_000,
) -> DataFrame:
    """Distinct k-gram fingerprints of a seen corpus (column ``h``).

    The incremental-ingest artifact for span dedup, the analogue of
    :func:`minhash_index`: build once over the frozen corpus, persist
    as parquet, and probe each incoming batch with
    :func:`remove_spans_against`.  To fold a new batch in, union its
    index and re-distinct — fingerprints are mergeable by
    construction.  Size ~= distinct corpus windows × 8 bytes
    (xxhash64), partitionable/bucketable by ``h`` so the batch probe
    join never rescans the corpus text.

    ``stride``: index only every ``stride``-th window position (the
    sampled-suffix-array trade, index size and fingerprint CPU cut
    ~``stride``×).  The probe side still fingerprints every batch
    position, so any shared run of **>= k + stride - 1 tokens is
    still guaranteed detected** (it must contain an indexed corpus
    window); runs shorter than that may be missed, and a detected
    span's edges may under-cover the true shared run by up to
    ``stride - 1`` tokens per side.  ``stride=1`` (default) is
    exact.  Strided indexes are probe-compatible with the same-k
    :func:`duplicate_spans_against` — no flag needed on the batch
    side.
    """
    return _gram_stream(
        df, text_col, id_col, k, fingerprint, tokens_col, stride,
        max_doc_tokens=max_doc_tokens,
    ).select("h").distinct()


def duplicate_spans_against(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    fingerprint: str = "xxhash64",
    tokens_col: str | None = None,
    max_doc_tokens: int | None = 2_000_000,
) -> DataFrame:
    """Spans of ``batch`` whose >= ``k``-token windows already occur
    in a seen corpus's :func:`span_index`.

    Incremental ExactSubstr: a window is duplicated if its
    fingerprint EXISTS in the index (it occurred at least once
    before, so the corpus-wide count is >= 2 by construction).
    Within-batch repetition is deliberately NOT considered — that is
    :func:`duplicate_spans` on the batch; the two compose.

    Scale shape: the batch gram stream is usually the small join
    side, so Spark broadcasts it against the (much larger,
    ``h``-partitioned) index — the daily-ingest probe never reshuffles
    the corpus.  Same output schema as :func:`duplicate_spans`.
    """
    grams = _gram_stream(
        batch, text_col, id_col, k, fingerprint, tokens_col,
        max_doc_tokens=max_doc_tokens,
    )
    # no defensive distinct on the index: re-distincting would shuffle
    # the (corpus-sized) index on EVERY batch probe, and duplicate
    # index rows are harmless anyway — they duplicate (start, end)
    # hit rows, which the island merge's min/max collapses
    return _merge_islands(
        _window_hits(grams, index.select("h"), id_col, k), id_col
    )


def remove_spans_against(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    fingerprint: str = "xxhash64",
    tokens_col: str | None = None,
    max_doc_tokens: int | None = 2_000_000,
) -> DataFrame:
    """Rewrite ``batch`` texts with every corpus-duplicated span
    removed — the ingest-time removal half of incremental ExactSubstr
    (see :func:`duplicate_spans_against`).  Output schema matches
    :func:`remove_duplicate_spans`."""
    spans = duplicate_spans_against(
        batch,
        index,
        text_col=text_col,
        id_col=id_col,
        k=k,
        fingerprint=fingerprint,
        tokens_col=tokens_col,
        max_doc_tokens=max_doc_tokens,
    )
    return remove_duplicate_spans(
        batch,
        text_col=text_col,
        id_col=id_col,
        k=k,
        tokens_col=tokens_col,
        spans=spans,
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_count: int = 2,
    fingerprint: str = "xxhash64",
    tokens_col: str | None = None,
    spans: DataFrame | None = None,
    max_doc_tokens: int | None = 2_000_000,
) -> DataFrame:
    """Drop every duplicated >= ``k``-token span from ``text_col``.

    The removal half of ExactSubstr dedup: ALL occurrences of a
    duplicated span are removed (the Lee et al. 2022 policy — the
    model should see duplicated boilerplate zero times, not once),
    and the surviving tokens are re-joined with single spaces.
    Pass a precomputed ``spans`` frame (from :func:`duplicate_spans`
    with the SAME k/min_count) to reuse work; otherwise it is built
    here.

    Output: ``df``'s schema with ``text_col`` rewritten, plus
    ``orig_tokens`` and ``removed_tokens`` counts.  Docs with no
    duplicated span pass through with ``removed_tokens = 0`` (their
    text is still re-joined from tokens, so runs of whitespace
    collapse — documented normalization, same as the rest of the
    dedup family).

    Plan shape: spans aggregate to one small array per affected doc
    (``collect_list`` of (start, end) structs — bounded by spans per
    doc, not corpus size), left-joined back; token filtering is a
    higher-order ``filter`` with an ``exists`` probe per token, all
    inside whole-stage codegen.  Spans-per-doc is tiny in practice
    (boilerplate regions), so the join's right side broadcasts under
    AQE at any corpus scale.

    With ``tokens_col`` the dedup runs over that pre-tokenized array
    column (e.g. BPE ids) instead of whitespace text: ``tokens_col``
    itself is rewritten to the surviving array (element type
    preserved) and ``text_col`` is untouched.
    """
    if spans is None:
        spans = duplicate_spans(
            df,
            text_col=text_col,
            id_col=id_col,
            k=k,
            min_count=min_count,
            fingerprint=fingerprint,
            tokens_col=tokens_col,
            max_doc_tokens=max_doc_tokens,
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_spans")
    )
    joined = df.join(per_doc, on=id_col, how="left").withColumn(
        "_spans",
        F.coalesce(
            F.col("_spans"),
            F.array().cast("array<struct<s:bigint,e:bigint>>"),
        ),
    )
    toks = (
        F.col(tokens_col)
        if tokens_col
        else _span_tokens(F.col(text_col))
    )
    indexed = F.transform(
        toks,
        lambda x, i: F.struct(
            x.alias("tok"), (i + 1).cast("long").alias("pos")
        ),
    )
    kept = F.filter(
        indexed,
        lambda p: ~F.exists(
            F.col("_spans"),
            lambda s: (p["pos"] >= s["s"]) & (p["pos"] <= s["e"]),
        ),
    )
    survivors = F.transform(F.col("_kept"), lambda p: p["tok"])
    # null input text/tokens: F.size(null) is -1, which would emit
    # orig_tokens = -1 and corrupt downstream token accounting — pass
    # null rows through untouched with 0/0 counts instead
    out = joined.withColumn(
        "_orig", F.greatest(F.size(toks), F.lit(0)).cast("long")
    ).withColumn("_kept", kept)
    if tokens_col:
        out = out.withColumn(
            tokens_col,
            F.when(F.col(tokens_col).isNotNull(), survivors),
        )
    else:
        out = out.withColumn(
            text_col,
            F.when(
                F.col(text_col).isNotNull(), F.concat_ws(" ", survivors)
            ),
        )
    out = out.withColumn(
        "removed_tokens",
        (
            F.col("_orig") - F.greatest(F.size("_kept"), F.lit(0))
        ).cast("long"),
    ).withColumn("orig_tokens", F.col("_orig"))
    return out.drop("_spans", "_orig", "_kept")
