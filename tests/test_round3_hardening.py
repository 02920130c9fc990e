"""Round-3 hardening: advisor + judge items.

* threshold_fraction denominator bound (int64 overflow guard),
* winnowing non-ASCII case parity (arrow kernel vs the DuckDB spec after
  the Python-str.lower removal),
* connected-components pointer jumping: a 31-node chain converges inside
  the default round budget, the non-convergence warning fires (and does
  not NameError) at a degenerate max_iter,
* exact-blocking hot-shingle cut: one trigram shared by every name must
  not produce O(N²) candidates,
* dedup persist bookkeeping (unpersist_tracked releases cached blocks).
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark import semantics as S
from agenticknowledgegraphconstructionsystem_spark.operators import dedup
from agenticknowledgegraphconstructionsystem_spark.operators.linking import (
    canonicalize,
    connected_components,
    dropped_name_shingles,
    name_shingles,
    similarity_edges,
)
from agenticknowledgegraphconstructionsystem_spark.operators.textstats import (
    winnow_fingerprints,
)


# -- threshold_fraction bound -------------------------------------------------


def test_threshold_fraction_short_decimal_exact():
    assert S.threshold_fraction(0.5) == (1, 2)
    assert S.threshold_fraction(0.3) == (3, 10)
    assert S.threshold_fraction(0.95) == (19, 20)


def test_threshold_fraction_rejects_non_terminating():
    # 1/3 as a float stringifies to a ~1e16 denominator — the integer
    # cross-multiplication guard would overflow int64 past ~900 shingles
    with pytest.raises(ValueError, match="short decimal"):
        S.threshold_fraction(1 / 3)


# -- winnowing non-ASCII parity ----------------------------------------------


def test_winnow_arrow_oracle_parity_non_ascii(spark, winnow_oracle):
    """The arrow kernel must match the td_winnow_fp DuckDB spec
    byte-for-byte AFTER the shared F.lower in the plan — including
    dotted-I (U+0130, whose Python str.lower mapping differs from the
    JVM's) and astral codepoints."""
    texts = [
        "İstanbul DENEME İİİ mixed ASCII tail for windows",
        "ΣΊΣΥΦΟΣ greek final sigma Σ at end Σ",
        "emoji 😀😀 astral 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 blocks and more padding text",
        "plain ascii control sample with enough length",
    ]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    arrow = {
        (r["doc_id"], r["fp"]) for r in winnow_fingerprints(docs).collect()
    }
    assert arrow == winnow_oracle(docs)
    assert {d for d, _ in arrow} == set(range(len(texts)))


# -- connected components: pointer jumping + warning --------------------------


def _chain_edges(spark, n: int):
    names = [f"n{i:03d}" for i in range(n)]
    return spark.createDataFrame(
        [Row(name_a=a, name_b=b) for a, b in zip(names, names[1:])]
    )


def test_cc_long_chain_converges_at_default(spark):
    """31-node chain (diameter 30) must collapse to ONE component inside
    the default max_iter=20 — pointer jumping gives log-round convergence,
    so O(diameter) budgets are no longer required."""
    comp = connected_components(_chain_edges(spark, 31)).collect()
    assert len({r["component"] for r in comp}) == 1
    assert len(comp) == 31


def test_cc_non_convergence_warning_fires_and_no_nameerror(spark, caplog):
    """At max_iter=1 a 31-chain cannot converge: the for/else warning must
    fire with the last-checked change count (not raise NameError on an
    unbound `changed`)."""
    with caplog.at_level(logging.WARNING):
        comp = connected_components(_chain_edges(spark, 31), max_iter=1).collect()
    assert any("not converged" in rec.message for rec in caplog.records)
    # under-merged but well-formed output
    assert len(comp) == 31
    assert len({r["component"] for r in comp}) > 1


def test_cc_max_iter_zero_clamped(spark, caplog):
    """Degenerate max_iter=0 is clamped to one round — no NameError."""
    with caplog.at_level(logging.WARNING):
        comp = connected_components(_chain_edges(spark, 5), max_iter=0).collect()
    assert len(comp) == 5


def test_canonicalize_exposes_max_iter(spark):
    ents = spark.createDataFrame(
        [Row(name=f"n{i:03d}", mention_count=1) for i in range(8)]
    )
    # threshold 0 links everything sharing a shingle; just exercise the kwarg
    mapping = canonicalize(ents, threshold=0.5, max_iter=5).collect()
    assert len(mapping) == 8


# -- exact-blocking hot-shingle cut -------------------------------------------


def test_exact_blocking_hot_shingle_capped(spark):
    """Every name shares the trigram 'zzz' (via a common suffix token);
    with max_df below N the pair space must stay bounded by the rare
    shingles, not explode to O(N²)."""
    n = 120
    # names: per-name letter-pair head (pairwise-disjoint trigram sets
    # except at most one boundary gram) + shared ' zzzz' tail whose
    # trigrams have df == n (hot).  Without the cut the tail alone puts
    # every pair in the candidate set (n² rows); with it, pairing can only
    # happen through the rare boundary grams and the verify rejects those
    # pairs (j < 0.5).
    def head(i: int) -> str:
        a, b = divmod(i, 26)
        c1, c2 = chr(97 + a), chr(97 + (b if b != a else 25))
        return (c1 + c2) * 3
    names = {f"{head(i)} zzzz" for i in range(n)}
    ents = spark.createDataFrame([Row(name=x, mention_count=1) for x in names])
    sh = name_shingles(ents)
    hot = dropped_name_shingles(sh, max_df=50).collect()
    assert {r["shingle"] for r in hot} >= {" zz", "zzz", "zz "}
    edges = similarity_edges(ents, threshold=0.5, max_df=50)
    assert edges.collect() == []


def test_exact_blocking_max_df_preserves_true_pairs(spark):
    """A genuine alias pair linked by RARE shingles must survive the cut
    even when boilerplate shingles are dropped."""
    n = 60
    rows = [Row(name=f"uniq{i:04d} zzzz", mention_count=1) for i in range(n)]
    rows += [Row(name="apache spark", mention_count=9), Row(name="apache sparks", mention_count=1)]
    ents = spark.createDataFrame(rows)
    edges = similarity_edges(ents, threshold=0.5, max_df=30)
    pairs = {(r["name_a"], r["name_b"]) for r in edges.collect()}
    assert ("apache spark", "apache sparks") in pairs


# -- persist bookkeeping -------------------------------------------------------


def test_unpersist_tracked_releases(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta epsilon zeta {i}") for i in range(20)]
    )
    dedup.unpersist_tracked()  # drain any leftovers from other tests
    dedup.minhash_near_duplicates(docs).collect()
    released = dedup.unpersist_tracked()
    assert released >= 1
    assert dedup._PERSISTED == []


# -- stream/batch near-dup equivalence (round-2 verdict item 7) ---------------


def test_streaming_fp_collisions_subset_of_batch_winnow(spark, tmp_path):
    """The streaming fp-collision detector and the batch winnow near-dup
    path must not drift apart: on the same static corpus, every streaming
    collision pair (grouped, unordered) is a candidate pair of
    winnow_near_duplicates at threshold 0 (>= 1 shared fingerprint,
    max_df disabled — streaming keeps no df statistics), and the
    per-pair collision count never exceeds the batch intersection size."""
    import datetime as dt
    import glob
    import os
    import shutil

    from agenticknowledgegraphconstructionsystem_spark.streaming.ops import (
        run_available_now,
        streaming_fp_collisions,
    )

    base = (
        "the adaptive query execution layer rewrites shuffle plans at "
        "runtime using observed partition statistics and skew hints"
    )
    alt = (
        "watermark propagation across stateful operators bounds the "
        "event time lag that late arriving records may exhibit downstream"
    )
    rows = [
        Row(url="d01", text=base),
        Row(url="d02", text="SITE BANNER. " + base),          # near-copy of d01
        Row(url="d03", text=base + " trailing footer text."),  # near-copy of d01
        Row(url="d04", text=alt),
        Row(url="d05", text="prefix shift " + alt),           # near-copy of d04
        Row(url="d06", text="entirely disjoint content about columnar codecs"),
    ]
    schema = "url string, text string"
    # three mtime-ordered micro-batches
    d = tmp_path / "eq_stream"
    os.makedirs(d, exist_ok=True)
    now = dt.datetime.now().timestamp()
    for i, batch in enumerate([rows[:2], rows[2:4], rows[4:]]):
        stage = str(tmp_path / f"eq_stage{i}")
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        dst = str(d / f"b{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (now + 10 * i, now + 10 * i))
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    coll = run_available_now(streaming_fp_collisions(stream), "eq_fp_coll")
    stream_pairs = {
        (min(r["url"], r["first_url"]), max(r["url"], r["first_url"])): r["n"]
        for r in coll.groupBy("url", "first_url").agg(F.count("*").alias("n")).collect()
    }
    assert stream_pairs, "fixture must produce streaming collisions"

    batch_pairs = {
        (r["id_a"], r["id_b"]): r["inter"]
        for r in dedup.winnow_near_duplicates(
            spark.createDataFrame(rows, schema),
            key="url", text_col="text", threshold=0.0, max_df=None,
        ).collect()
    }
    missing = set(stream_pairs) - set(batch_pairs)
    assert not missing, f"streaming pairs unknown to batch path: {missing}"
    for pair, n in stream_pairs.items():
        assert n <= batch_pairs[pair], (pair, n, batch_pairs[pair])
    # the planted near-copies are seen by BOTH paths
    assert ("d01", "d02") in stream_pairs and ("d04", "d05") in stream_pairs


def test_sessionize_batch_is_streaming_superset(spark, tmp_path):
    """The batch gaps-and-islands sessionizer (operators/temporal.py, gated
    vs DuckDB as rel_sessionize) and the stateful streaming sessionizer
    must agree: streaming-emitted (closed) sessions are EXACTLY the batch
    sessions whose gap timeout precedes the final watermark
    (session_end + gap < max_ts - watermark_delay); sessions still open
    when the finite input ends are the only difference."""
    import datetime as dt

    from agenticknowledgegraphconstructionsystem_spark.operators.temporal import (
        sessionize_batch,
    )
    from agenticknowledgegraphconstructionsystem_spark.streaming.ops import (
        EVENTS_SCHEMA,
        run_available_now,
        sessionize,
    )

    t0 = dt.datetime(2025, 3, 1, 12, 0, 0)

    def ev(i, user, minutes, value):
        return Row(
            event_id=i, ts=t0 + dt.timedelta(minutes=minutes), user_id=user,
            event_type="click", value=float(value), props="{}",
        )

    rows = [
        # user 1: two sessions (gap 45 min > 30), then a trailing session
        ev(0, 1, 0, 1), ev(1, 1, 10, 2), ev(2, 1, 55, 4), ev(3, 1, 60, 8),
        ev(4, 1, 300, 16),
        # user 2: one long session of closely spaced events, then another
        ev(5, 2, 0, 1), ev(6, 2, 20, 2), ev(7, 2, 40, 4), ev(8, 2, 200, 8),
        # user 3: single event
        ev(9, 3, 0, 32),
    ]
    path = str(tmp_path / "sess_eq")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)

    def norm(df):
        return {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
             r["sum_value"])
            for r in df.collect()
        }

    batch = norm(
        sessionize_batch(spark.createDataFrame(rows, EVENTS_SCHEMA))
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )
    stream = norm(
        run_available_now(
            sessionize(spark.readStream.schema(EVENTS_SCHEMA).parquet(path)),
            "sess_eq_stream",
        )
    )
    assert stream <= batch, stream - batch
    # the final watermark is max event time minus the 2 h watermark delay;
    # exactly the batch sessions whose 30-min gap timeout precedes it close
    watermark = max(r.ts for r in rows) - dt.timedelta(hours=2)
    expected_closed = {
        s for s in batch if s[2] + dt.timedelta(minutes=30) < watermark
    }
    assert stream == expected_closed
    assert len(batch) == 6 and len(stream) == 4


def test_as_of_join_semantics(spark):
    """Backward as-of: latest right row with ts <= left ts per key; equal
    timestamps match (<=); keys with no prior right row get NULL."""
    import datetime as dt

    from agenticknowledgegraphconstructionsystem_spark.operators.temporal import (
        as_of_join,
    )

    t = lambda m: dt.datetime(2025, 4, 1, 9, m)
    left = spark.createDataFrame(
        [(1, t(5), "a"), (1, t(10), "b"), (1, t(2), "c"), (2, t(5), "d")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, t(5), 50), (1, t(8), 80), (3, t(0), 99)],
        "k long, ts timestamp, px long",
    )
    got = {
        (r["k"], r["tag"], r["px_asof"])
        for r in as_of_join(left, right, on=["k"], ts_col="ts", payloads=["px"]).collect()
    }
    assert got == {
        (1, "a", 50),   # equal ts matches (<=)
        (1, "b", 80),   # latest prior of several
        (1, "c", None), # before any right row
        (2, "d", None), # key absent from right
    }


def test_windowed_counts_match_batch_hourly(spark, tmp_path):
    """The watermarked streaming tumbling-window aggregation drained in
    complete mode must equal the batch date_trunc-hour aggregation on the
    same static events (integer cents — exact)."""
    import datetime as dt

    from agenticknowledgegraphconstructionsystem_spark.streaming.ops import (
        EVENTS_SCHEMA,
        run_available_now,
        windowed_event_counts,
    )

    t0 = dt.datetime(2025, 6, 1, 8, 0, 0)
    rows = [
        Row(event_id=i, ts=t0 + dt.timedelta(minutes=7 * i), user_id=i % 3,
            event_type=("click", "view")[i % 2], value=float(i) + 0.25, props="{}")
        for i in range(40)
    ]
    path = str(tmp_path / "hourly_eq")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    got = {
        (r["window_start"], r["event_type"], r["n"], r["sum_cents"])
        for r in run_available_now(
            windowed_event_counts(stream), "hourly_eq", output_mode="complete"
        ).collect()
    }
    batch = spark.createDataFrame(rows, EVENTS_SCHEMA)
    exp = {
        (r["h"], r["event_type"], r["n"], r["sum_cents"])
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .collect()
    }
    assert got == exp and len(got) >= 8
