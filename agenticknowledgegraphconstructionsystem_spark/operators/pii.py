"""PII redaction — the compliance pass a web-scale training-data
pipeline runs before anything ships to training: mask emails, SSN-shaped
ids, phone numbers, and IPv4 addresses, and report per-document counts
(the audit trail regulators and dataset cards ask for).

The reference has no curation tier (its pipeline ends at KG tables,
db_init.py); this belongs to the brief's first-class text-analysis set
next to quality scoring (textstats.py) and repetition filters
(repetition.py).

Semantics live in semantics.PII_PATTERNS (ordered; sequential
replacement — each category is counted on the text as-of its step, then
replaced) so the Spark Columns here and the DuckDB twin in test_pii
derive from one table.  Everything is built-in ``regexp_count`` /
``regexp_replace`` Columns — JVM-side, whole-stage-codegen'd, zero
Python in the hot path, no shuffle at all (the report is a pure
projection; only a caller's aggregation would exchange)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import semantics as S


def pii_columns(text: Column) -> dict[str, Column]:
    """→ {n_<category>: count, text_redacted: masked text}.  NULL text →
    counts 0 and text_redacted NULL (passthrough)."""
    out: dict[str, Column] = {}
    cur = text
    for cat, pat, rep in S.PII_PATTERNS:
        out[f"n_{cat}"] = (
            F.coalesce(F.regexp_count(cur, F.lit(pat)), F.lit(0))
            .cast("long")
            .alias(f"n_{cat}")
        )
        cur = F.regexp_replace(cur, pat, rep)
    out["text_redacted"] = cur
    return out


def redact_pii(
    docs: DataFrame, key: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (key, n_email, n_ssn, n_phone, n_ipv4, text_redacted) per input
    row — the audit report plus the redacted text, one projection."""
    cols = pii_columns(F.col(text_col))
    return docs.select(
        F.col(key), *[c.alias(n) for n, c in cols.items()]
    )


