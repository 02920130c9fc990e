from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from agenticknowledgegraphconstructionsystem_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kg-tests", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def winnow_oracle():
    """(doc_id, fp) set of the td_winnow_fp DuckDB spec (k=8, w=4) over a
    ``documents`` table of (doc_id, text) rows whose texts Spark lowered
    first — the case contract of winnow_fingerprints, so codepoints whose
    JVM and DuckDB case mappings differ (dotted İ) stay pinned."""
    import duckdb
    from pyspark.sql import functions as F

    from agenticknowledgegraphconstructionsystem_spark.gate_textdata import (
        _o_winnow_fp,
    )

    def run(docs):
        rows = docs.select("doc_id", F.lower("text").alias("text")).collect()
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", [tuple(r) for r in rows])
        got = {tuple(r) for r in con.execute(_o_winnow_fp()).fetchall()}
        con.close()
        return got

    return run

