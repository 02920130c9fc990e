"""HTTP response metadata + charset tier (sources/http_meta.py and the
http_aware WARC readers): status/header parsing, chunked and
content-coding transport normalization with crawl-robust degradation,
the five-step charset ladder with pinned precedence, and the Spark
plumbing — a mixed fixture WARC where only the right records survive
the gate and every surviving page lands charset-normalized UTF-8."""

from __future__ import annotations

import gzip
import zlib

from agenticknowledgegraphconstructionsystem_spark.sources.http_meta import (
    decode_content_encoding,
    decode_html_payload,
    dechunk,
    detect_charset,
    http_payload_bytes,
    normalize_charset,
    parse_http_response,
)
from agenticknowledgegraphconstructionsystem_spark.sources.warc import (
    read_warc_pages,
    write_warc_http,
)


# ---------------------------------------------------------------------------
# parse / transport
# ---------------------------------------------------------------------------


def test_parse_http_response():
    body = (b"HTTP/1.1 301 Moved Permanently\r\n"
            b"Location: https://x.example/\r\n"
            b"Content-Type: text/html; charset=ISO-8859-1\r\n"
            b"\r\n<html>moved</html>")
    status, headers, payload = parse_http_response(body)
    assert status == 301
    assert headers["location"] == "https://x.example/"
    assert headers["content-type"] == "text/html; charset=ISO-8859-1"
    assert payload == b"<html>moved</html>"
    # HTTP/1.0 and bare HTTP/2-style status lines both parse
    assert parse_http_response(b"HTTP/1.0 404 Not Found\r\n\r\nx")[0] == 404
    assert parse_http_response(b"HTTP/2 200\r\n\r\nx")[0] == 200
    # non-HTTP capture: whole body is the payload, status None
    status, headers, payload = parse_http_response(b"%PDF-1.4 raw capture")
    assert status is None and headers == {} and payload.startswith(b"%PDF")
    # headerless (no CRLFCRLF): status parses, payload empty
    assert parse_http_response(b"HTTP/1.1 200 OK\r\nTrunc") == (200, {}, b"")


def test_dechunk():
    assert dechunk(b"4\r\nWiki\r\n5\r\npedia\r\n0\r\n\r\n") == b"Wikipedia"
    # chunk extensions after ';' are ignored
    assert dechunk(b"3;ext=1\r\nabc\r\n0\r\n\r\n") == b"abc"
    # malformed framing degrades to the raw payload, never raises
    for bad in (b"zz\r\nabc", b"5\r\nab", b"no-newline-at-all"):
        assert dechunk(bad) == bad


def test_decode_content_encoding():
    raw = b"<html>hello crawl</html>"
    assert decode_content_encoding(gzip.compress(raw), "gzip") == raw
    assert decode_content_encoding(gzip.compress(raw), "x-gzip") == raw
    assert decode_content_encoding(zlib.compress(raw), "deflate") == raw
    # raw-deflate (the historical IIS form) also decodes
    co = zlib.compressobj(wbits=-zlib.MAX_WBITS)
    assert decode_content_encoding(
        co.compress(raw) + co.flush(), "deflate") == raw
    assert decode_content_encoding(raw, None) == raw
    assert decode_content_encoding(raw, "identity") == raw
    assert decode_content_encoding(raw, "br") == raw  # passthrough, no lib
    assert decode_content_encoding(b"\x1f\x8bcorrupt", "gzip") == b"\x1f\x8bcorrupt"


def test_http_payload_bytes_composes_chunked_then_gzip():
    inner = gzip.compress(b"<p>both codings</p>")
    body = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html\r\n"
            b"Transfer-Encoding: chunked\r\n"
            b"Content-Encoding: gzip\r\n"
            b"\r\n" + f"{len(inner):x}\r\n".encode() + inner + b"\r\n0\r\n\r\n")
    status, ctype, payload = http_payload_bytes(body)
    assert (status, ctype) == (200, "text/html")
    assert payload == b"<p>both codings</p>"


# ---------------------------------------------------------------------------
# charset ladder
# ---------------------------------------------------------------------------


def test_normalize_charset_whatwg_labels():
    # the web's latin-1 labels all resolve to windows-1252
    for label in ("ISO-8859-1", "latin1", "us-ascii", "'ascii'"):
        assert normalize_charset(label) == "cp1252"
    assert normalize_charset("UTF-8") == "utf-8"
    assert normalize_charset("utf8") == "utf-8"
    assert normalize_charset("Shift_JIS") == "shift_jis"
    assert normalize_charset("x-user-defined") is None
    assert normalize_charset(None) is None


def test_detect_charset_precedence():
    meta = b'<html><meta charset="koi8-r"><body>' + b"x" * 1100
    # 1. BOM beats everything
    assert detect_charset("text/html; charset=utf-16", b"\xef\xbb\xbf" + meta) == (
        "utf-8", "bom")
    assert detect_charset(None, b"\xff\xfetext")[0] == "utf-16-le"
    assert detect_charset(None, b"\xfe\xfftext")[0] == "utf-16-be"
    # 2. header beats meta
    assert detect_charset("text/html; charset=ISO-8859-1", meta) == (
        "cp1252", "header")
    # 3. meta inside the 1024-byte prescan window
    assert detect_charset("text/html", meta) == ("koi8-r", "meta")
    assert detect_charset(
        None,
        b'<meta http-equiv="Content-Type" content="text/html; charset=windows-1251">',
    ) == ("cp1251", "meta")
    # meta BEYOND the window is not seen
    late = b"<html>" + b" " * 1100 + b'<meta charset="koi8-r">'
    assert detect_charset(None, late) == (None, "none")
    # unknown labels fall through the ladder
    assert detect_charset("text/html; charset=x-bogus", b"<html>") == (None, "none")


def test_decode_html_payload_trial_and_declared():
    # strict-UTF-8 trial
    assert decode_html_payload("é".encode())[1] == "utf-8"
    # invalid UTF-8 falls to windows-1252: 0x92 is a curly apostrophe
    text, cs = decode_html_payload(b"it\x92s 1252")
    assert (text, cs) == ("it’s 1252", "windows-1252")
    # cp1252's undefined bytes fill from latin-1 instead of raising
    text, cs = decode_html_payload(b"\x81\x8d\x90")
    assert cs == "windows-1252" and len(text) == 3
    # declared charset decodes even when the bytes lie (replace, not raise)
    text, cs = decode_html_payload(b"\xfd\xfd\xfd", "text/html; charset=utf-8")
    assert cs == "utf-8" and "�" in text
    # ...but a BOM beats even a lying header (ladder step 1)
    assert decode_html_payload(b"\xff\xfeh\x00", "text/html; charset=utf-8") == (
        "h", "utf-16-le")
    # BOM is stripped from the decoded text
    text, cs = decode_html_payload(b"\xef\xbb\xbfhi")
    assert (text, cs) == ("hi", "utf-8")
    text, cs = decode_html_payload("hi".encode("utf-16-le"), None)
    # (no BOM → trial decode; utf-16-le bytes of ascii ARE valid utf-8
    # with NULs — pinned so the ladder's determinism is explicit)
    assert cs == "utf-8" and text == "h\x00i\x00"
    # declared shift_jis round-trips Japanese
    sj = "日本語".encode("shift_jis")
    assert decode_html_payload(sj, "text/html; charset=Shift_JIS")[0] == "日本語"


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------


def _mixed_warc() -> bytes:
    day = "2025-03-01T00:00:00Z"
    return write_warc_http([
        {"url": "https://a.example/utf8", "date": day,
         "payload": "<section>café utf8</section>".encode()},
        {"url": "https://a.example/1252", "date": day,
         "content_type": "text/html; charset=ISO-8859-1",
         "payload": "<section>café 1252</section>".encode("cp1252")},
        {"url": "https://a.example/meta-koi8", "date": day,
         "payload": b'<meta charset="koi8-r"><section>'
                     + "да".encode("koi8_r") + b"</section>"},
        {"url": "https://a.example/chunked-gzip", "date": day,
         "chunked": True, "gzip_body": True,
         "payload": b"<section>coded transport</section>"},
        {"url": "https://a.example/404", "date": day, "status": 404,
         "reason": "Not Found", "payload": b"<section>gone</section>"},
        {"url": "https://a.example/png", "date": day,
         "content_type": "image/png", "payload": b"\x89PNG fake"},
    ])


def test_read_warc_pages_http_aware(spark, tmp_path):
    (tmp_path / "mixed.warc.gz").write_bytes(gzip.compress(_mixed_warc()))
    got = {
        r["url"]: bytes(r["html"]).decode()
        for r in read_warc_pages(spark, str(tmp_path), http_aware=True).collect()
    }
    # 404 and image/png are gated out; four text pages survive
    assert set(got) == {
        "https://a.example/utf8", "https://a.example/1252",
        "https://a.example/meta-koi8", "https://a.example/chunked-gzip",
    }
    # every survivor is charset-normalized UTF-8
    assert got["https://a.example/utf8"] == "<section>café utf8</section>"
    assert got["https://a.example/1252"] == "<section>café 1252</section>"
    assert got["https://a.example/meta-koi8"].endswith("<section>да</section>")
    assert got["https://a.example/chunked-gzip"] == (
        "<section>coded transport</section>")
    # the legacy non-aware reader keeps all six raw payloads
    raw = read_warc_pages(spark, str(tmp_path)).collect()
    assert len(raw) == 6


def test_http_aware_identity_on_clean_pages(spark, tmp_path):
    """The driver-window gate contract: on 200/text-html/valid-UTF-8
    records the http_aware path is byte-identical to the raw path."""
    from agenticknowledgegraphconstructionsystem_spark.sources.warc import write_warc

    recs = [(f"https://c.example/{i}", "2025-03-01T00:00:00Z",
             f"<section>doc {i} café</section>".encode())
            for i in range(5)]
    (tmp_path / "clean.warc.gz").write_bytes(gzip.compress(write_warc(recs)))
    raw = {r["url"]: bytes(r["html"])
           for r in read_warc_pages(spark, str(tmp_path)).collect()}
    aware = {r["url"]: bytes(r["html"])
             for r in read_warc_pages(spark, str(tmp_path), http_aware=True).collect()}
    assert raw == aware and len(raw) == 5
