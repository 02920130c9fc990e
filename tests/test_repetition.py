"""Gopher repetition filters (operators/repetition.py): planted-repetition
semantics + a DuckDB twin over the real sf0.001 documents table (same
mechanics as the driver gate sweep, kept out of the pinned 50-query
surface)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark import semantics as S
from agenticknowledgegraphconstructionsystem_spark.operators.repetition import (
    repetition_report,
)

SF_DIR = "/root/testdata/sf0.001"


def _corpus(spark):
    # 1: boilerplate — the same line 4× out of 5 (dup_line 80%, dup 5-grams)
    spam_line = "click here to subscribe to our newsletter today"
    boiler = "\n".join([spam_line, "one unique line of content", *[spam_line] * 3])
    # 2: clean multi-line prose — no repeated lines, no repeated 2/5-grams
    clean = "\n".join(
        [
            "alpha bravo charlie delta echo foxtrot",
            "golf hotel india juliet kilo lima",
            "mike november oscar papa quebec romeo",
        ]
    )
    # 3: keyword stuffing on one line — top 2-gram covers most characters
    stuffed = "buy gold " * 20
    # 4: empty
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=boiler),
            Row(doc_id=2, text=clean),
            Row(doc_id=3, text=stuffed),
            Row(doc_id=4, text=None),
        ],
        schema="doc_id bigint, text string",
    )


def test_planted_repetition_semantics(spark):
    rep = {r["doc_id"]: r for r in repetition_report(_corpus(spark)).collect()}
    assert set(rep) == {1, 2, 3, 4}

    b = rep[1]  # 5 lines, 4 of them the same line
    assert b["n_lines"] == 5 and b["dup_line_pct"] == 80
    assert b["dup_line_char_pct"] > S.DUP_LINE_CHAR_MAX_PCT
    assert not b["repetition_ok"]

    c = rep[2]
    assert c["n_lines"] == 3 and c["dup_line_pct"] == 0
    assert c["dup_line_char_pct"] == 0 and c["dup5_char_pct"] == 0
    assert c["repetition_ok"]

    st = rep[3]  # "buy gold "×20 → "gold buy" appears 19× (top 2-gram)
    assert st["n_lines"] == 1 and st["dup_line_pct"] == 0
    assert st["top2_char_pct"] > S.TOP2_CHAR_MAX_PCT
    assert st["dup5_char_pct"] > S.DUP5_CHAR_MAX_PCT
    assert not st["repetition_ok"]

    e = rep[4]  # NULL text → all-zero metrics, kept
    assert e["n_lines"] == 0 and e["top2_char_pct"] == 0 and e["repetition_ok"]

    # the curation action: anti-join on the report's flagged keys
    docs = _corpus(spark)
    flagged = (
        repetition_report(docs).where(~F.col("repetition_ok")).select("doc_id")
    )
    kept = sorted(
        r["doc_id"] for r in docs.join(flagged, "doc_id", "left_anti").collect()
    )
    assert kept == [2, 4]


def test_repetition_report_matches_duckdb_twin(spark):
    """Exact-value match vs an independent DuckDB formulation on the real
    sf0.001 documents (no newlines there, so every doc is its own single
    line; the 2/5-gram metrics exercise real variance)."""
    import duckdb

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(tuple(r) for r in repetition_report(docs).collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    caps = (
        S.DUP_LINE_MAX_PCT,
        S.DUP_LINE_CHAR_MAX_PCT,
        S.TOP2_CHAR_MAX_PCT,
        S.DUP5_CHAR_MAX_PCT,
    )
    sql = """
WITH b AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
),
b2 AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_chars FROM b),
ln AS (
  SELECT doc_id, trim(l) AS line
  FROM b2, unnest(string_split(t, chr(10))) AS u(l)
),
lg AS (
  SELECT doc_id, line, COUNT(*) AS cnt FROM ln WHERE line <> '' GROUP BY 1, 2
),
la AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_lines,
         CAST(SUM(cnt * len(line)) AS BIGINT) AS line_chars,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt * len(line) ELSE 0 END) AS BIGINT)
           AS dup_line_chars
  FROM lg GROUP BY 1
),
w AS (
  SELECT doc_id, list_filter(string_split_regex(t, '\\s+'), x -> x <> '') AS words
  FROM b2
),
g2 AS (
  SELECT doc_id, array_to_string(words[i:i+1], ' ') AS gram
  FROM w, unnest(range(1, greatest(len(words) - 1, 1) + 1)) AS s(i)
),
g2c AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 WHERE gram <> '' GROUP BY 1, 2
),
t2 AS (
  SELECT doc_id, CAST(cnt * len(gram) AS BIGINT) AS top2_chars,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
  FROM g2c
),
t2a AS (SELECT doc_id, top2_chars FROM t2 WHERE rn = 1),
g5 AS (
  SELECT doc_id, array_to_string(words[i:i+4], ' ') AS gram
  FROM w, unnest(range(1, greatest(len(words) - 4, 1) + 1)) AS s(i)
),
g5c AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 WHERE gram <> '' GROUP BY 1, 2
),
d5 AS (
  SELECT doc_id, CAST(SUM(cnt * len(gram)) AS BIGINT) AS dup5_chars
  FROM g5c WHERE cnt > 1 GROUP BY 1
),
m AS (
  SELECT b2.doc_id,
         coalesce(la.n_lines, 0) AS n_lines,
         CASE WHEN coalesce(la.n_lines, 0) > 0
              THEN CAST(floor(coalesce(la.dup_lines, 0) * 100 / la.n_lines) AS BIGINT)
              ELSE 0 END AS dup_line_pct,
         CASE WHEN coalesce(la.line_chars, 0) > 0
              THEN CAST(floor(coalesce(la.dup_line_chars, 0) * 100 / la.line_chars) AS BIGINT)
              ELSE 0 END AS dup_line_char_pct,
         CASE WHEN n_chars > 0
              THEN CAST(floor(coalesce(t2a.top2_chars, 0) * 100 / n_chars) AS BIGINT)
              ELSE 0 END AS top2_char_pct,
         CASE WHEN n_chars > 0
              THEN least(100, CAST(floor(coalesce(d5.dup5_chars, 0) * 100 / n_chars) AS BIGINT))
              ELSE 0 END AS dup5_char_pct
  FROM b2
  LEFT JOIN la ON b2.doc_id = la.doc_id
  LEFT JOIN t2a ON b2.doc_id = t2a.doc_id
  LEFT JOIN d5 ON b2.doc_id = d5.doc_id
)
SELECT doc_id, n_lines, dup_line_pct, dup_line_char_pct, top2_char_pct,
       dup5_char_pct,
       dup_line_pct <= {} AND dup_line_char_pct <= {}
         AND top2_char_pct <= {} AND dup5_char_pct <= {} AS repetition_ok
FROM m""".format(*caps)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
    # sanity: the real table has no newlines → one line per doc, never dup
    assert all(r[1] == 1 and r[2] == 0 for r in got)
    # and the synthetic vocabulary is repetitive enough that the top-2-gram
    # metric actually varies (non-vacuous comparison; repeated 5-grams
    # don't occur in these short docs — the planted fixture covers dup5)
    assert len({r[4] for r in got}) > 1 and any(r[4] > 0 for r in got)
