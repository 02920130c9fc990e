"""WARC ingestion — the first mile of a Common-Crawl-style pipeline.

The north-star input is "an Iceberg table of Common-Crawl-style web
pages"; Common Crawl itself ships WARC files (ISO 28500: text
header block + Content-Length-delimited body per record).  This module
parses WARC/1.x with the stdlib alone and exposes it as a Spark source:

* :func:`parse_warc` — pure bytes → records (testable without Spark);
  ``response`` records yield (url, warc_date, http_payload) with the
  HTTP response headers stripped; other record types (warcinfo, request,
  metadata) are skipped.
* :func:`read_warc_pages` — ``binaryFile`` scan → ``mapInPandas`` parse
  → the canonical pages schema (url, warc_ts, html, text=NULL, lang=NULL),
  ready for ``operators.extract.extract_docs``.
* :func:`parse_wet` / :func:`read_wet_pages` — Common Crawl's WET
  sidecar files (``conversion`` records carrying the ALREADY-extracted
  plain text); lands with ``text`` filled, so extract_docs' P1 content
  fallback keeps it verbatim — the fast first mile most text pipelines
  actually start from.

Scale shape: one WARC file = one ``binaryFile`` row = one parse call, so
parallelism follows the file count (Common Crawl segments are ~1 GB —
thousands of files per crawl → thousands of tasks); the parser streams
record-by-record through one bytes object and the Arrow batch carries at
most a handful of files, bounding executor memory.  Gzip members
(Common Crawl stores per-record gzip) are decompressed with stdlib zlib
when the file starts with the gzip magic.
"""

from __future__ import annotations

import datetime as _dt
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pages import PAGES_SCHEMA


def _split_headers(block: bytes) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:  # line 0 is the version line
        if b":" in line:
            k, v = line.split(b":", 1)
            out[k.decode("ascii", "replace").strip().lower()] = v.decode(
                "utf-8", "replace"
            ).strip()
    return out


def _gunzip_members(data: bytes) -> bytes:
    """Concatenated per-record gzip members → one plain byte stream.

    Raises ValueError (never zlib.error) so :func:`parse_warc`'s documented
    malformed-framing contract holds for corrupt gzip bytes too."""
    out = []
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out.append(d.decompress(data[pos:]))
        except zlib.error as e:
            raise ValueError(f"corrupt gzip member at byte {pos}: {e}") from e
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError(f"corrupt gzip member at byte {pos}")
        pos += consumed
    return b"".join(out)


def _walk_records(data: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """The shared WARC/1.x framing walk: yields (headers, body) per
    record.  Raises ValueError on malformed framing — the contract both
    :func:`parse_warc` (response records) and :func:`parse_wet`
    (conversion records) inherit."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    pos = 0
    while pos < len(data):
        # skip inter-record blank lines
        while data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= len(data):
            break
        if not data[pos : pos + 5] == b"WARC/":
            raise ValueError(f"bad record header at byte {pos}")
        he = data.find(b"\r\n\r\n", pos)
        if he < 0:
            raise ValueError("unterminated WARC header block")
        headers = _split_headers(data[pos:he])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError(f"missing/bad Content-Length at byte {pos}") from e
        body = data[he + 4 : he + 4 + length]
        if len(body) < length:
            raise ValueError("truncated WARC record body")
        yield headers, body
        pos = he + 4 + length


def parse_warc_raw(data: bytes) -> list[tuple[str, str, bytes]]:
    """WARC/1.x bytes → [(target_uri, warc_date, raw_body)] for every
    ``response`` record with the HTTP response block INTACT — the input
    the HTTP-aware tier (sources/http_meta.py) parses for status,
    headers, and transport codings."""
    return [
        (
            headers.get("warc-target-uri", ""),
            headers.get("warc-date", ""),
            body,
        )
        for headers, body in _walk_records(data)
        if headers.get("warc-type") == "response"
    ]


def parse_warc(data: bytes) -> list[tuple[str, str, bytes]]:
    """WARC/1.x bytes → [(target_uri, warc_date, http_payload)] for every
    ``response`` record.  The HTTP response header block inside the body
    is stripped (payload = what follows the first CRLFCRLF); records
    without one (non-HTTP captures) keep the full body.  Raises
    ValueError on malformed framing."""
    records: list[tuple[str, str, bytes]] = []
    for headers, body in _walk_records(data):
        if headers.get("warc-type") == "response":
            url = headers.get("warc-target-uri", "")
            date = headers.get("warc-date", "")
            hb = body.find(b"\r\n\r\n")
            payload = body[hb + 4 :] if hb >= 0 else body
            records.append((url, date, payload))
    return records


def parse_wet(data: bytes) -> list[tuple[str, str, str]]:
    """Common-Crawl WET bytes → [(target_uri, warc_date, text)] for every
    ``conversion`` record.  WET files are WARC/1.x whose conversion-record
    bodies are the ALREADY-EXTRACTED plain UTF-8 text of the page (no
    HTTP header block) — Common Crawl publishes them alongside the raw
    WARCs, and most text pipelines start here instead of re-extracting."""
    return [
        (
            headers.get("warc-target-uri", ""),
            headers.get("warc-date", ""),
            body.decode("utf-8", errors="replace"),
        )
        for headers, body in _walk_records(data)
        if headers.get("warc-type") == "conversion"
    ]


def write_warc(records: list[tuple[str, str, bytes]]) -> bytes:
    """Inverse of :func:`parse_warc` (response records with a minimal HTTP
    200 header block) — test-fixture writer."""
    out = []
    for url, date, payload in records:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + payload
        hdr = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date}\r\n"
            f"Content-Length: {len(http)}\r\n"
        ).encode()
        out.append(hdr + b"\r\n" + http + b"\r\n\r\n")
    return b"".join(out)


def write_warc_http(records: list[dict]) -> bytes:
    """Fixture writer for the HTTP-aware path: each record dict carries
    ``url``, ``date``, ``payload`` (bytes) and optional ``status``
    (200), ``reason`` ('OK'), ``content_type`` ('text/html'),
    ``chunked`` (False — wrap the body in one chunk + terminator),
    ``gzip_body`` (False — apply Content-Encoding: gzip), plus
    ``extra_headers`` (list of raw header lines)."""
    import gzip as _gzip

    out = []
    for rec in records:
        payload = rec["payload"]
        lines = [
            f"HTTP/1.1 {rec.get('status', 200)} {rec.get('reason', 'OK')}",
            f"Content-Type: {rec.get('content_type', 'text/html')}",
        ]
        if rec.get("gzip_body"):
            payload = _gzip.compress(payload)
            lines.append("Content-Encoding: gzip")
        if rec.get("chunked"):
            payload = (
                f"{len(payload):x}\r\n".encode() + payload + b"\r\n0\r\n\r\n"
            )
            lines.append("Transfer-Encoding: chunked")
        lines.extend(rec.get("extra_headers", []))
        http = "\r\n".join(lines).encode() + b"\r\n\r\n" + payload
        hdr = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {rec['url']}\r\n"
            f"WARC-Date: {rec['date']}\r\n"
            f"Content-Length: {len(http)}\r\n"
        ).encode()
        out.append(hdr + b"\r\n" + http + b"\r\n\r\n")
    return b"".join(out)


def write_wet(records: list[tuple[str, str, str]]) -> bytes:
    """Inverse of :func:`parse_wet` (conversion records; body = UTF-8
    text, no HTTP block) — test-fixture writer."""
    out = []
    for url, date, text in records:
        body = text.encode("utf-8")
        hdr = (
            "WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date}\r\n"
            "Content-Type: text/plain\r\n"
            f"Content-Length: {len(body)}\r\n"
        ).encode()
        out.append(hdr + b"\r\n" + body + b"\r\n\r\n")
    return b"".join(out)


#: Sentinel for missing/unparseable WARC-Date.  PAGES_SCHEMA declares
#: warc_ts non-nullable and mapInPandas does NOT enforce nullability, so a
#: Python None here would let Catalyst mis-optimize (fold IS NULL filters,
#: skip null checks) — substitute the Unix epoch so the declared contract
#: actually holds on malformed crawl data.
WARC_TS_SENTINEL = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _parse_warc_date(s: str) -> _dt.datetime:
    try:
        return _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return WARC_TS_SENTINEL


def read_warc_pages(
    spark: SparkSession,
    path: str,
    http_aware: bool = False,
    statuses: tuple[int, ...] = (200,),
) -> DataFrame:
    """WARC file(s) → the canonical pages DataFrame (url, warc_ts, html,
    text=NULL, lang=NULL).  ``binaryFile`` brings each WARC in as one
    row; parsing runs executor-side in mapInPandas.

    ``http_aware=True`` runs the real crawl first mile per record
    (sources/http_meta.py): parse the HTTP status line + headers, gate
    on ``statuses`` and a ``text/html`` Content-Type BEFORE paying
    anything downstream (records with no parseable status line or no
    Content-Type pass the gate — on crawl data absence of evidence must
    not drop pages), undo chunked transfer- and gzip/deflate
    content-coding, detect the charset (BOM → header → meta prescan →
    strict-UTF-8 trial → windows-1252) and NORMALIZE the html bytes to
    UTF-8 — so every downstream byte invariant (extraction, dedup
    hashes) sees one encoding regardless of what origins served.  Pages
    already valid UTF-8 with no transfer/content coding round-trip
    byte-identically (decode∘encode is the identity on valid UTF-8),
    which is exactly what the driver-window WARC gate asserts."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .http_meta import decode_html_payload, http_payload_bytes

        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                if http_aware:
                    for url, date, body in parse_warc_raw(bytes(content)):
                        status, ctype, raw = http_payload_bytes(body)
                        if status is not None and status not in statuses:
                            continue
                        if ctype is not None and not ctype.strip().lower().startswith(
                            "text/html"
                        ):
                            continue
                        text, _cs = decode_html_payload(raw, ctype)
                        rows.append(
                            (url, _parse_warc_date(date),
                             text.encode("utf-8"), None, None)
                        )
                else:
                    for url, date, payload in parse_warc(bytes(content)):
                        rows.append(
                            (url, _parse_warc_date(date), payload, None, None)
                        )
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return files.mapInPandas(fn, PAGES_SCHEMA)


def read_wet_pages(spark: SparkSession, path: str) -> DataFrame:
    """WET file(s) → the canonical pages DataFrame with the ``text``
    column FILLED (the pre-extracted fast path: extract_docs' P1 content
    fallback keeps it verbatim and never pays the html parse) and
    html=NULL.  Same binaryFile → mapInPandas scale shape as
    :func:`read_warc_pages` — parallelism follows the file count."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for url, date, text in parse_wet(bytes(content)):
                    rows.append(
                        (url, _parse_warc_date(date), None, text, None)
                    )
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return files.mapInPandas(fn, PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# WARC export — the archive-production side (read_* above is ingestion)
# ---------------------------------------------------------------------------

WARC_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("ts", T.StringType(), False),
        T.StructField("digest", T.StringType(), False),
        T.StructField("filename", T.StringType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("length", T.LongType(), False),
    ]
)


def write_warc_shards(
    pages: DataFrame,
    out_dir: str,
    n_shards: int = 32,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
) -> DataFrame:
    """Publish a (curated) pages table as ``out_dir/shard-NNNNN.warc.gz``
    files — one gzip MEMBER per record, the Common Crawl layout, so an
    index consumer can seek to ``offset``, read ``length`` bytes, and
    gunzip exactly one record — and return the location-bearing index
    (url, ts14, sha256 digest of the payload, filename, offset, length;
    ``operators.cdx.cdx_records`` over the same pages adds the SURT key
    to serve it).

    Determinism: shard membership is hash(url) (repartition), records
    sort by (url, ts) within each shard — two runs over the same input
    produce byte-identical shards and indexes.  Executors write
    directly to ``out_dir`` (one file per partition, named by partition
    id): on a real cluster that path must be shared storage
    (NFS/object-store fuse) — the same contract as any
    foreachPartition-style export; the INDEX comes back as a DataFrame
    and commits through whatever sink the caller owns.

    The action is the returned DataFrame: nothing writes until it is
    consumed (count/collect/write) — consume it EXACTLY ONCE; re-running
    the plan rewrites the same bytes (idempotent overwrite).
    """
    cols = pages.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        F.col(payload_col).cast("binary").alias("payload"),
    )
    return _write_member_shards(
        cols, out_dir, n_shards,
        lambda url, date, body: write_warc([(url, date, body)]),
    )


def write_wet_shards(
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 32,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """The WET twin of :func:`write_warc_shards`: publish EXTRACTED text
    as conversion-record shards (what Common Crawl ships next to every
    WARC) with the same seekable per-record-gzip index.  Digest is over
    the UTF-8 text bytes."""
    cols = docs.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8").alias(
            "payload"
        ),
    )
    return _write_member_shards(
        cols, out_dir, n_shards,
        lambda url, date, body: write_wet(
            [(url, date, body.decode("utf-8"))]
        ),
    )


def _write_member_shards(cols, out_dir, n_shards, build) -> DataFrame:
    import gzip as _gzip
    import hashlib as _hashlib
    import os as _os

    from pyspark import TaskContext

    cols = cols.repartition(n_shards, "url").sortWithinPartitions("url", "ts")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fh = None
        fname = None
        offset = 0
        try:
            for pdf in batches:
                if fh is None:
                    pid = TaskContext.get().partitionId()
                    fname = f"shard-{pid:05d}.warc.gz"
                    _os.makedirs(out_dir, exist_ok=True)
                    fh = open(_os.path.join(out_dir, fname), "wb")
                rows = []
                for url, ts, payload in zip(
                    pdf["url"], pdf["ts"], pdf["payload"]
                ):
                    body = bytes(payload) if payload is not None else b""
                    date = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
                    rec = build(url, date, body)
                    # mtime=0: gzip members carry no timestamp, so the
                    # shard bytes are run-independent (determinism pin)
                    member = _gzip.compress(rec, mtime=0)
                    fh.write(member)
                    rows.append(
                        (
                            url,
                            ts.strftime("%Y%m%d%H%M%S"),
                            _hashlib.sha256(body).hexdigest(),
                            fname,
                            offset,
                            len(member),
                        )
                    )
                    offset += len(member)
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "url", "ts", "digest", "filename", "offset", "length",
                    ],
                )
        finally:
            if fh is not None:
                fh.close()

    return cols.mapInPandas(fn, WARC_INDEX_SCHEMA)
