"""Deterministic cardinality sketch: K-Minimum-Values (KMV).

`approx_count_distinct` (HyperLogLog++) is the built-in at 100 TB, but
its estimates are engine-specific — useless for the cross-engine gate.
KMV (Bar-Yossef et al., RANDOM'02) over the repo's portable poly hash is
just as distributable (one distinct + one bounded top-k per group) and
every step is integer arithmetic, so Spark and DuckDB agree bit-for-bit
(gate: td_kmv_distinct).

Estimator: with the k-th smallest of the distinct hash values h_k over a
hash space of size P,  D̂ = (k-1)·P / h_k  (exact distinct count when the
group has fewer than k distinct values).  Standard error ≈ 1/√(k-2), so
k = 64 gives ~13% — pytest pins the accuracy band.

Scale shape: distinct (group, hash) is one shuffle; the per-group k
smallest compile to WindowGroupLimit (rank pushdown — each partition
keeps only k candidates before the shuffle-sort), so state per group is
bounded by k regardless of group size.  The sketch row (group, h_k, m)
is also MERGEABLE across partitions/streams by construction — union the
value sets and re-take the k minima.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import semantics as S
from ..functions.hashing import affine_col, poly_hash_col


def hash_sample(
    df: DataFrame,
    key_col: str,
    percent: int,
    salt: int = 1,
) -> DataFrame:
    """Deterministic Bernoulli sampling by key hash: keep rows whose
    affine-permuted key hash falls in the first ``percent``% of the hash
    space.  The standard reproducible corpus-split move (train/holdout,
    A/B cohorts): the same key always lands on the same side, across
    runs, engines, and cluster sizes — unlike ``df.sample()``, whose
    output depends on partitioning.  ``salt`` selects an independent
    split (a different affine permutation).

    Numeric keys are reduced mod P directly; string keys go through the
    portable char-fold ``poly_hash_col`` (a long-cast of a string key
    would yield NULL → every row silently filtered — instead of an empty
    "sample", non-hashable key types raise)."""
    if not 0 <= percent <= 100:
        raise ValueError("percent must be in [0, 100]")
    try:
        h = _key_hash(df, key_col, salt)
    except TypeError as e:
        raise TypeError(f"hash_sample: {e}") from None
    return df.where(F.pmod(h, F.lit(100)) < percent)


def _key_hash(df: DataFrame, key_col: str, salt: int):
    """Affine-permuted portable hash of a string or integer key column —
    the shared dispatch for hash_sample / stratified_sample_topk."""
    dtype = dict(df.dtypes)[key_col]
    if dtype == "string":
        base = poly_hash_col(F.col(key_col))
    elif dtype in ("tinyint", "smallint", "int", "bigint"):
        base = F.pmod(F.col(key_col).cast("long"), F.lit(S.POLY_P))
    else:
        raise TypeError(
            f"key column {key_col!r} has type {dtype}; only string and "
            "integer keys are hashable deterministically"
        )
    return affine_col(base, S.MINHASH_A[salt], S.MINHASH_B[salt])


def stratified_sample_topk(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int,
    salt: int = 2,
) -> DataFrame:
    """Deterministic per-group downsampling: the k rows with the smallest
    affine-permuted key hash per group (tie-break on the key itself — a
    total order, so the sample is unique).  The curation move "keep at
    most k documents per domain": unlike per-group df.sample() the same
    keys survive across runs, engines, and cluster sizes, and adding NEW
    rows to a group never evicts a kept row in favor of a
    lexicographically later one — membership only changes if a new key
    hashes below the current k-th minimum (bounded churn).

    Scale shape: the rank compiles to WindowGroupLimit (each map task
    keeps only k candidates per group before the shuffle-sort), so state
    per group is bounded by k regardless of group size — no global sort,
    no collect.  ``salt`` selects an independent permutation (use a
    different salt than any hash_sample split applied to the same keys,
    or the sample correlates with the split)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    h = _key_hash(df, key_col, salt)
    w = Window.partitionBy(group_col).orderBy("_strat_h", key_col)
    # NULL keys are dropped, matching hash_sample (a NULL hash would also
    # sort NULLS-FIRST in Spark but NULLS-LAST in SQL engines — a silent
    # cross-engine divergence this filter forecloses)
    return (
        df.where(F.col(key_col).isNotNull())
        .withColumn("_strat_h", h)
        .withColumn("_strat_rn", F.row_number().over(w))
        .where(F.col("_strat_rn") <= k)
        .drop("_strat_h", "_strat_rn")
    )


def mixture_rates(
    df: DataFrame,
    targets: dict[str, int],
    group_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-source keep rates that steer the corpus toward a target
    mixture (the Pile / Llama data-mixing move): given target weights in
    permille, find the largest total corpus T such that every source can
    supply its share (T = min_s floor(n_s·1000 / w_s)), then keep
    floor(w_s·T/1000) docs of source s — as a parts-per-million Bernoulli
    rate over n_s.

    → (group_col, n_docs, target_permille, keep_docs, rate_ppm), one row
    per target source present in ``df``.  All arithmetic is int64
    integral division (``div`` / DuckDB ``//`` — never double division,
    which loses exactness past 2^53 at 10^12-doc scale), so the rates
    are bit-identical cross-engine.  Sources absent from ``targets``
    contribute nothing (dropped by the inner join).

    Scale shape: one map-side-combinable count per source (rows = number
    of sources, tiny), a broadcast of the target table, and a 1-row min
    aggregate — the corpus itself is scanned once and never shuffled.
    """
    for s, w in targets.items():
        if not (isinstance(w, int) and 0 < w <= 1000):
            raise ValueError(f"target weight for {s!r} must be an int in (0, 1000]")
    spark = df.sparkSession
    tgt = spark.createDataFrame(
        sorted(targets.items()),
        f"{group_col} string, target_permille long",
    )
    counts = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    j = counts.join(F.broadcast(tgt), group_col, "inner")
    t = j.agg(
        F.min(F.expr("n_docs * 1000 div target_permille")).alias("t_scaled")
    )
    return (
        j.crossJoin(F.broadcast(t))
        .withColumn("keep_docs", F.expr("target_permille * t_scaled div 1000"))
        .withColumn("rate_ppm", F.expr("keep_docs * 1000000 div n_docs"))
        .select(group_col, "n_docs", "target_permille", "keep_docs", "rate_ppm")
    )


def mixture_sample(
    df: DataFrame,
    targets: dict[str, int],
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: int = 3,
) -> DataFrame:
    """Deterministic mixture resampling: keep rows whose affine-permuted
    key hash falls under their source's ``mixture_rates`` rate_ppm.  Same
    key → same verdict across runs, engines, and cluster sizes; expected
    composition = the target mixture at the largest total the sources can
    supply (Bernoulli, so realized counts carry binomial noise — the
    exact-count variant is stratified_sample_topk with per-group k).

    Scale shape: the rate table (one row per source) broadcasts; the
    corpus side is a single filter pass — no shuffle, no window.  Use a
    ``salt`` distinct from any hash_sample split on the same keys."""
    rates = mixture_rates(df, targets, group_col=group_col, key_col=key_col)
    h = _key_hash(df, key_col, salt)
    return (
        df.where(F.col(key_col).isNotNull())
        .withColumn("_mix_h", F.pmod(h, F.lit(1_000_000)))
        .join(F.broadcast(rates.select(group_col, "rate_ppm")), group_col)
        .where(F.col("_mix_h") < F.col("rate_ppm"))
        .drop("_mix_h", "rate_ppm")
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """→ (group_col, kmv_distinct): deterministic distinct-count estimate
    per group; exact when the group has < k distinct values."""
    # the raw poly hash gives near-consecutive values to near-consecutive
    # strings (the last char has weight BASE^0 = 1), which skews min-order
    # statistics badly on structured keys; the affine permutation turns a
    # stride-1 run into a stride-a run mod P — uniform enough for KMV, and
    # still exactly reproducible in the DuckDB oracle
    h = affine_col(poly_hash_col(F.col(value_col)), S.MINHASH_A[0], S.MINHASH_B[0])
    hs = df.select(F.col(group_col), h.alias("h")).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    ranked = hs.select(
        group_col, "h", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= k)
    agg = ranked.groupBy(group_col).agg(
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"),
        F.count("*").alias("m"),
    )
    # (k-1)*P = 63 * (1e9+7) ≈ 6.3e10 — exact in int64 AND in the double
    # division below (quotient ulp « 1/hk), identical in DuckDB
    est = F.when(F.col("m") < k, F.col("m")).otherwise(
        F.floor(F.lit((k - 1) * S.POLY_P) / F.col("hk"))
    )
    return agg.select(
        group_col, est.cast("long").alias("kmv_distinct")
    )
