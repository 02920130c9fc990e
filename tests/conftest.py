from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

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


@pytest.fixture(scope="session")
def unsupported_image_headers():
    """Well-formed 5x3 headers of image formats the media tier neither
    probes nor decodes: a little-endian TIFF (IFD at byte 8, ImageWidth
    tag 256 = 5, ImageLength tag 257 = 3) and a 25-byte lossless WebP
    (RIFF/WEBP/VP8L, signature 0x2f, 14-bit w-1 = 4 and h-1 = 2)."""
    import struct

    tiff = (
        b"II*\x00"
        + struct.pack("<IH", 8, 2)
        + struct.pack("<HHII", 256, 3, 1, 5)
        + struct.pack("<HHII", 257, 3, 1, 3)
        + struct.pack("<I", 0)
    )
    webp = (
        b"RIFF" + struct.pack("<I", 17) + b"WEBP"
        + b"VP8L" + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", 4 | 2 << 14)
    )
    return [tiff, webp]
