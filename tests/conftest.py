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
    """Well-formed 5x3 payloads of image formats the media tier does not
    decode: a little-endian TIFF header (IFD at byte 8, ImageWidth tag
    256 = 5, ImageLength tag 257 = 3), a 25-byte lossless WebP header
    (RIFF/WEBP/VP8L, signature 0x2f, 14-bit w-1 = 4 and h-1 = 2), and a
    complete grayscale baseline-DCT image/jpeg stream (SOI, an all-ones
    DQT, an SOF0 giving 5x3, one-code DC and AC Huffman tables, and one
    8x8 block coded as DC difference 0 then EOB, which a real decoder
    reads as flat grey 128)."""
    import struct

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

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
    jpeg = (
        b"\xff\xd8"
        + seg(0xDB, b"\x00" + bytes([1] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 3, 5, 1) + bytes([1, 0x11, 0]))
        + seg(0xC4, b"\x00" + bytes([1] + [0] * 15) + b"\x00")
        + seg(0xC4, b"\x10" + bytes([1] + [0] * 15) + b"\x00")
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + b"\x3f"  # bits 0 (DC cat 0), 0 (EOB), then 1-padding
        + b"\xff\xd9"
    )
    return [tiff, webp, jpeg]
