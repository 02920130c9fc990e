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
