"""Dedup + similarity operators vs brute-force ground truth."""

from __future__ import annotations

import pytest

import itertools
import math

from pyspark.sql import Row

from agenticknowledgegraphconstructionsystem_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    simhash_near_duplicates,
    simhash_signatures,
)
from agenticknowledgegraphconstructionsystem_spark.operators.similarity import (
    cosine_topk,
    rhp_ann_topk,
)
from agenticknowledgegraphconstructionsystem_spark.semantics import word_ngrams

SF_DIR = "/root/testdata/sf0.001"

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again today"),
    (1, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near-dup of 0
    (2, "completely different content about spark shuffles and partitions here"),
    (3, "the quick brown fox jumps over the lazy dog again and again today"),    # exact dup of 0
    (4, "spark shuffles and partitions require care at scale in production"),
]


def _docs_df(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in DOCS])


def _brute_jaccard(n=5, threshold=0.5):
    out = {}
    for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
        A, B = set(word_ngrams(ta, n)), set(word_ngrams(tb, n))
        j = len(A & B) / len(A | B)
        if j >= threshold:
            out[(min(ia, ib), max(ia, ib))] = j
    return out


def test_exact_duplicates(spark):
    got = {r["keeper"]: r["n_copies"] for r in exact_duplicates(_docs_df(spark)).collect()}
    assert got[0] == 2  # docs 0 and 3 share content, keeper = min id
    assert got[1] == 1 and got[2] == 1 and got[4] == 1
    assert 3 not in got


def test_minhash_finds_near_dups(spark):
    got = {(r["id_a"], r["id_b"]) for r in minhash_near_duplicates(_docs_df(spark), threshold=0.5).collect()}
    # exact-verify step makes results == brute force whenever LSH recalls the pair;
    # exact dup (0,3) always collides; near-dup (0,1)/(1,3) at j~0.85 almost surely
    assert got == set(_brute_jaccard())


@pytest.mark.slow
def test_simhash_exact_dup_has_zero_hamming(spark):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(_docs_df(spark)).collect()}
    assert sigs[0] == sigs[3]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(_docs_df(spark), max_hamming=3).collect()
    }
    assert pairs[(0, 3)] == 0


def _brute_cosine_topk(vecs, qids, k=3):
    out = {}
    for q in qids:
        scored = []
        for nid, v in vecs.items():
            if nid == q:
                continue
            dot = sum(a * b for a, b in zip(vecs[q], v))
            cos = dot / (math.sqrt(sum(a * a for a in vecs[q])) * math.sqrt(sum(a * a for a in v)))
            scored.append((-cos, nid))
        scored.sort()
        out[q] = [nid for _, nid in scored[:k]]
    return out


def test_cosine_topk_matches_brute_force(spark):
    import random

    rng = random.Random(1)
    vecs = {i: [rng.gauss(0, 1) for _ in range(8)] for i in range(20)}
    df = spark.createDataFrame([Row(vec_id=i, embedding=v) for i, v in vecs.items()])
    got = {}
    for r in cosine_topk(df, df.where("vec_id < 3"), k=3).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    got = {q: [n for _, n in sorted(v)] for q, v in got.items()}
    assert got == _brute_cosine_topk(vecs, [0, 1, 2])


def test_rhp_ann_recall(spark):
    import random

    rng = random.Random(2)
    # clustered vectors -> near neighbors share hyperplane signs
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(5)]
    vecs = {}
    for i in range(50):
        b = base[i % 5]
        vecs[i] = [x + rng.gauss(0, 0.05) for x in b]
    df = spark.createDataFrame([Row(vec_id=i, embedding=v) for i, v in vecs.items()])
    exact = _brute_cosine_topk(vecs, [0, 1], k=3)
    got = {}
    for r in rhp_ann_topk(df, df.where("vec_id < 2"), k=3, dim=8).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # ANN recall vs exact top-3: at least 2 of 3 for tightly clustered data
    for q in exact:
        assert len(got.get(q, set()) & set(exact[q])) >= 2


def test_dedup_rate_by_group_cross_source_attribution(spark):
    from agenticknowledgegraphconstructionsystem_spark.operators.dedup import (
        dedup_rate_by_group,
    )

    rows = [
        # cross-source duplicate family: keeper (min doc_id=1) in srcA,
        # losers in srcB — each charged to its OWN source
        Row(doc_id=1, source="srcA", text="same content here"),
        Row(doc_id=2, source="srcB", text="same content here"),
        Row(doc_id=3, source="srcB", text="same content here"),
        # unique doc
        Row(doc_id=4, source="srcB", text="unique content"),
        # null text: always a keeper
        Row(doc_id=5, source="srcA", text=None),
    ]
    got = {
        r["source"]: (r["n_docs"], r["n_dup_rows"], r["n_keepers"])
        for r in dedup_rate_by_group(spark.createDataFrame(rows)).collect()
    }
    assert got == {"srcA": (2, 0, 2), "srcB": (3, 2, 1)}


def test_duplicated_span_report_planted(spark):
    """Lee et al. ExactSubstr measure at n=3: cross-doc copied spans and
    within-doc repeats both register; unique prose and NULL don't."""
    from pyspark.sql import Row

    from agenticknowledgegraphconstructionsystem_spark.operators.dedup import (
        duplicated_span_report,
    )

    shared = "alpha beta gamma delta"  # 4 tokens → two 3-gram spans
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=shared),                    # copy A
            Row(doc_id=2, text=shared),                    # copy B — 100% dup
            Row(doc_id=3, text="one two three four five six"),  # unique
            Row(doc_id=4, text="rep rep rep rep"),         # within-doc repeat
            Row(doc_id=5, text=None),
        ],
        schema="doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_spans"], r["n_dup_spans"], r["dup_span_pct"], r["span_dup_ok"]
        )
        for r in duplicated_span_report(docs, n=3).collect()
    }
    assert got[1] == (2, 2, 100, False)
    assert got[2] == (2, 2, 100, False)
    assert got[3] == (4, 0, 0, True)
    # "rep rep rep" occurs at 2 start positions within one doc
    assert got[4] == (2, 2, 100, False)
    assert got[5] == (0, 0, 0, True)


def test_duplicated_span_report_matches_duckdb_twin(spark):
    import duckdb

    from agenticknowledgegraphconstructionsystem_spark.gate_curation import (
        _o_span_dedup,
        q_span_dedup,
    )

    got = sorted(tuple(r) for r in q_span_dedup(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(_o_span_dedup()).fetchall())
    con.close()
    assert got == want
    # non-vacuous: the sf corpus contains duplicated spans
    assert any(r[2] > 0 for r in got)
