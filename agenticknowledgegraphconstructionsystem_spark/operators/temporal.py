"""Temporal operators: batch sessionization and as-of join.

Neither exists in the reference (its analytics surface stops at the
grouped-aggregation views, db_init.py:173-197); both are table-stakes for
an analytics engine over event streams, and both have exact DuckDB
oracles (gate_relational.py), so they extend coverage with the same
engine-completeness rationale as the TPC-H-analog gates.

Scale shape: each is ONE shuffle on the partition key followed by a
per-key ordered window — Spark range-partitions the sort, AQE splits
skewed keys.  No driver-side state, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(
    events: DataFrame,
    gap_minutes: int = 30,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based sessionization (30-minute default gap): a new session
    starts at the first event of a key and whenever the gap to the
    previous event exceeds ``gap_minutes``.

    → (user_id, session_start, session_end, n_events, sum_value).

    Mechanics: lag() marks session starts, a running sum over the marks
    numbers the sessions (the standard "gaps and islands" shape), one
    aggregation closes them.  Timestamps compare as unix_micros (int64) —
    no float time arithmetic.  Ordering is (ts, event_id): unique, so the
    running sum is frame-deterministic.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    # parquet timestamps load as TIMESTAMP_NTZ; the session tz is UTC, so
    # the cast is a pure reinterpretation and matches DuckDB epoch_us()
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key).orderBy(ts_col, "event_id")
    new_sess = (
        F.when(F.lag(us).over(w).isNull(), F.lit(1))
        .when(us - F.lag(us).over(w) > gap_us, F.lit(1))
        .otherwise(F.lit(0))
    )
    numbered = events.select(
        F.col(key),
        F.col(ts_col),
        F.col(value_col),
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_sess_id"),
    )
    return (
        numbered.groupBy(key, "_sess_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .drop("_sess_id")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    start_col: str = "session_start",
    end_col: str = "session_end",
) -> DataFrame:
    """Point-in-interval join: every left row matched to the right
    interval(s) [start, end] containing its timestamp, per key — the
    events-into-sessions join.

    Naively this is a non-equi theta join (Spark would pick
    BroadcastNestedLoop or a cartesian per key).  The scale shape here is
    LSH-style blocking on TIME: each right interval explodes to the
    60-minute buckets it overlaps, the left row maps to its single
    bucket, and an equi join on (key, bucket) prunes the pair space to
    same-bucket candidates before the exact range filter.  Cost is
    O(|left| + Σ interval_span/bucket) join rows instead of |left|×|right|
    per key; the bucket width is near the typical session length, so
    most intervals explode to ~2 buckets.

    Matches use inclusive bounds (start <= ts <= end), duplicates
    impossible because a left row lives in exactly one bucket.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    b_us = 60 * 60 * 1_000_000
    l_b = left.withColumn("_bucket", F.floor(us / b_us))
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp"))
    r_b = right.withColumn(
        "_bucket",
        F.explode(F.sequence(F.floor(s_us / b_us), F.floor(e_us / b_us))),
    )
    joined = l_b.join(r_b, [*on, "_bucket"]).where(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
    )
    return joined.drop("_bucket")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    payloads: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join: every left row picks up the payload (as
    ``<payload>_asof``) of the LATEST right row with ``right.ts <=
    left.ts`` per key (NULL when no prior right row exists) — the
    quotes-onto-trades join Spark has no built-in for.

    Spark-first implementation (no per-row Python, no broadcast of the
    big side): tag and union the two inputs, one ordered window per key
    carries the last non-null payload forward, keep the left rows.  This
    is a single shuffle+sort on the key — the same cost as one
    SortMergeJoin — and beats the naive range-join (left ⋈ right on
    key AND r.ts <= l.ts, then argmax) which materializes O(|matches|)
    intermediates.

    Equal timestamps: the right row sorts BEFORE the left row (<=
    semantics, matching DuckDB ``ASOF JOIN ... ON l.ts >= r.ts``).
    Multiple right rows per (key, ts) make the carried value ambiguous —
    pre-deduplicate the right side to one row per (key, ts) (the gate
    does; a production caller picks max-by-payload or similar).
    """
    payloads = payloads or [c for c in right.columns if c not in (*on, ts_col)]
    r = right.select(
        *on,
        F.col(ts_col),
        F.lit(0).alias("_asof_side"),
        *[F.col(p).alias(f"{p}_asof") for p in payloads],
    )
    l_tagged = left.withColumn("_asof_side", F.lit(1))
    u = l_tagged.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*on)
        .orderBy(ts_col, "_asof_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "*",
        *[
            F.last(f"{p}_asof", ignorenulls=True).over(w).alias(f"_c_{p}")
            for p in payloads
        ],
    )
    return carried.where(F.col("_asof_side") == 1).select(
        *left.columns,
        *[F.col(f"_c_{p}").alias(f"{p}_asof") for p in payloads],
    )
