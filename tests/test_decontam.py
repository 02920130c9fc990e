"""Benchmark decontamination (operators/decontam.py): planted-overlap
semantics + a DuckDB twin over the real sf0.001 documents table (same
mechanics as the driver gate sweep, kept out of the pinned 50-query
surface)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.gate_textdata import _sql_poly
from agenticknowledgegraphconstructionsystem_spark.operators.decontam import (
    contamination_report,
)

SF_DIR = "/root/testdata/sf0.001"

BENCH_PASSAGE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew azure potions beneath the ancient stone bridge at midnight"
)  # 22 words -> 10 distinct 13-grams


def _corpus(spark):
    verbatim = "intro words here " + BENCH_PASSAGE + " and a closing remark"
    paraphrase = (
        "a fast brown fox leaped over a sleepy dog as seven wizards "
        "brewed azure potions under an old stone bridge at midnight"
    )
    short_overlap = "unrelated text mentioning the lazy dog and stone bridge only"
    clean = "completely different content about spark partitioning and shuffles " * 3
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=verbatim),
            Row(doc_id=2, text=paraphrase),
            Row(doc_id=3, text=short_overlap),
            Row(doc_id=4, text=clean),
        ]
    )


def test_planted_contamination_flags_verbatim_only(spark):
    docs = _corpus(spark)
    bench = spark.createDataFrame([Row(bench_id=1, text=BENCH_PASSAGE)])
    rep = {
        r["doc_id"]: r
        for r in contamination_report(docs, bench).collect()
    }
    assert set(rep) == {1, 2, 3, 4}
    # verbatim inclusion: every one of the passage's 10 13-grams collides
    assert rep[1]["contaminated"] and rep[1]["n_contaminated"] == 10
    assert 0 < rep[1]["contam_pct"] < 100
    # paraphrase / short-phrase / clean: no 13-gram survives
    for d in (2, 3, 4):
        assert not rep[d]["contaminated"] and rep[d]["n_contaminated"] == 0
    # the curation action: anti-join on the report's flagged keys
    flagged = (
        contamination_report(docs, bench)
        .where(F.col("contaminated"))
        .select("doc_id")
    )
    kept = sorted(
        r["doc_id"] for r in docs.join(flagged, "doc_id", "left_anti").collect()
    )
    assert kept == [2, 3, 4]


def test_short_doc_short_gram_semantics(spark):
    """Docs (or benchmark rows) shorter than n words fall back to their
    single joined gram — word_ngram_shingles semantics — so an eval row
    that IS a short doc still collides."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="tiny eval question"), Row(doc_id=2, text="other words")]
    )
    bench = spark.createDataFrame([Row(bench_id=1, text="tiny eval question")])
    rep = {r["doc_id"]: r for r in contamination_report(docs, bench).collect()}
    assert rep[1]["contaminated"] and rep[1]["n_grams"] == 1
    assert not rep[2]["contaminated"]


def test_contamination_report_matches_duckdb_twin(spark):
    """Hash-exact vs DuckDB on the real sf0.001 documents: benchmark =
    every doc with doc_id % 37 == 0 (those docs are 100% contaminated by
    construction; the rest measure incidental 13-gram collisions)."""
    import duckdb

    n = 13
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    got = sorted(
        (r["doc_id"], r["n_grams"], r["n_contaminated"], r["contam_pct"], r["contaminated"])
        for r in contamination_report(docs, bench, n=n).collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    sql = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
  FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+{n - 1}], ' ') AS shingle
  FROM w, unnest(range(1, greatest(len(words) - {n - 1}, 1) + 1)) AS t(i)
),
shn AS (SELECT doc_id, shingle FROM sh WHERE shingle <> ''),
hs AS (SELECT doc_id, {_sql_poly('shingle')} AS h FROM shn),
bh AS (SELECT DISTINCT h FROM hs WHERE doc_id % 37 = 0),
rep AS (
  SELECT hs.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(bh.h) AS BIGINT) AS n_contaminated
  FROM hs LEFT JOIN bh ON hs.h = bh.h
  GROUP BY hs.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_grams, n_contaminated,
       CAST(floor(n_contaminated * 100 / n_grams) AS BIGINT) AS contam_pct,
       n_contaminated >= 1 AS contaminated
FROM rep"""
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
    # sanity: the planted benchmark docs are fully contaminated
    full = [r for r in got if r[0] % 37 == 0]
    assert full and all(r[1] == r[2] and r[4] for r in full)
