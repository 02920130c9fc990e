"""PII redaction (operators/pii.py): planted-PII semantics + a DuckDB
twin over real sf0.001 documents ∪ planted rows (same mechanics as the
driver gate sweep, kept out of the pinned 50-query surface — the
Java-regex ∩ RE2 subset discipline is what makes the twin possible)."""

from __future__ import annotations

from pyspark.sql import Row

from agenticknowledgegraphconstructionsystem_spark import semantics as S
from agenticknowledgegraphconstructionsystem_spark.operators.pii import (
    redact_pii,
)

SF_DIR = "/root/testdata/sf0.001"

PLANTED = [
    (-1, "contact john.doe@example.com or jane_smith+tag@mail.co.uk today"),
    (-2, "ssn 123-45-6789 then phone 555-123-4567 alt 555.987.6543"),
    (-3, "server at 192.168.0.1 and 10.0.0.255, version 1.2.3"),
    (-4, None),
]


def _planted(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in PLANTED],
        schema="doc_id bigint, text string",
    )


def test_planted_pii_semantics(spark):
    rep = {r["doc_id"]: r for r in redact_pii(_planted(spark)).collect()}

    r1 = rep[-1]
    assert (r1["n_email"], r1["n_ssn"], r1["n_phone"], r1["n_ipv4"]) == (2, 0, 0, 0)
    assert r1["text_redacted"] == "contact <EMAIL> or <EMAIL> today"

    r2 = rep[-2]  # SSN masked BEFORE the phone pass (sequential order)
    assert (r2["n_email"], r2["n_ssn"], r2["n_phone"], r2["n_ipv4"]) == (0, 1, 2, 0)
    assert r2["text_redacted"] == "ssn <SSN> then phone <PHONE> alt <PHONE>"

    r3 = rep[-3]  # "1.2.3" has only two dots — not an IPv4
    assert (r3["n_email"], r3["n_ssn"], r3["n_phone"], r3["n_ipv4"]) == (0, 0, 0, 2)
    assert r3["text_redacted"] == "server at <IP> and <IP>, version 1.2.3"

    r4 = rep[-4]  # NULL passthrough
    assert r4["n_email"] == 0 and r4["text_redacted"] is None


def test_redact_pii_matches_duckdb_twin(spark):
    """Exact match vs a DuckDB formulation derived from the SAME
    semantics.PII_PATTERNS table, over real sf0.001 documents plus the
    planted rows (the real synthetic corpus contains no PII — the
    planted rows keep the comparison non-vacuous)."""
    import duckdb
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .unionByName(_planted(spark))
    )
    got = sorted(tuple(r) for r in redact_pii(docs).collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    planted_sql = ", ".join(
        f"({i}, {'NULL' if t is None else repr(t)})" for i, t in PLANTED
    )
    steps = []
    prev = "s0"
    for n, (cat, pat, rep) in enumerate(S.PII_PATTERNS, start=1):
        steps.append(
            f"s{n} AS (SELECT doc_id, "
            + ", ".join(f"n_{c}" for c, _p, _r in S.PII_PATTERNS[: n - 1])
            + (", " if n > 1 else "")
            + f"coalesce(len(regexp_extract_all(t, '{pat}')), 0) AS n_{cat}, "
            f"regexp_replace(t, '{pat}', '{rep}', 'g') AS t FROM {prev})"
        )
        prev = f"s{n}"
    sql = (
        "WITH d AS (SELECT doc_id, text FROM documents "
        f"UNION ALL SELECT * FROM (VALUES {planted_sql}) v(doc_id, text)), "
        "s0 AS (SELECT doc_id, text AS t FROM d), "
        + ", ".join(steps)
        + f" SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        + ", ".join(f"CAST(n_{c} AS BIGINT) AS n_{c}" for c, _p, _r in S.PII_PATTERNS)
        + f", t AS text_redacted FROM {prev}"
    )
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
    # the real corpus is PII-free; the planted rows carry all the hits
    n_hits = sum(r[1] + r[2] + r[3] + r[4] for r in got)
    assert n_hits == 7

    # plan shape: the report is a pure projection — zero exchanges
    plan = redact_pii(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
