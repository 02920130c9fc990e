"""Pure-stdlib PDF text extraction — the reference's LITERAL first mile
(extract_and_populate.py:36-71 runs PyMuPDF ``page.get_text()`` over
arXiv PDFs and assembles ``"\\n--- Page N ---\\n"`` markers).  This module
gives crawled ``%PDF-`` payloads the same treatment without native deps:

* object-level parse (``N G obj … endobj`` spans + the trailer's /Root),
* page ORDER from the document catalog's /Pages → /Kids tree (not byte
  order — a PDF's object numbering is arbitrary),
* content streams: FlateDecode via stdlib zlib, or raw; other filters
  raise honestly,
* text operators inside BT…ET: ``Tj``, ``'``, ``"``, ``TJ`` arrays
  (kerning numbers skipped), with ``Td``/``TD``/``T*``/``'``/``"``
  starting a new line — the line structure PyMuPDF's "text" mode emits,
* string literals with the full escape set (``\\n \\r \\t \\b \\f \\( \\)
  \\\\``, octal, line continuations) and ``<hex>`` strings, decoded
  latin-1 (simple fonts; composite-font CMap mapping is out of scope and
  documented, not silently wrong — unmappable bytes stay as-is).

Page assembly (:func:`extract_pdf_text`) reuses
``semantics.assemble_page_texts`` so PDF and HTML extraction share the
byte-identical S7 invariant.  :func:`build_pdf` is the matching
fixture writer: a minimal valid PDF (catalog, page tree, Helvetica,
Flate or raw content streams, correct xref offsets) the tests roundtrip
through the extractor.
"""

from __future__ import annotations

import re
import zlib

from .. import semantics as S

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.DOTALL)
_TRAILER_ROOT_RE = re.compile(rb"trailer\b.*?/Root\s+(\d+)\s+\d+\s+R", re.DOTALL)
_ROOT_ANY_RE = re.compile(rb"/Root\s+(\d+)\s+\d+\s+R")
_PAGES_RE = re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[((?:[^\[\]]|\[[^\]]*\])*)\]", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_CONTENTS_RE = re.compile(
    rb"/Contents\s+(?:(\d+)\s+\d+\s+R|\[((?:\s*\d+\s+\d+\s+R)+)\s*\])"
)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)


def _objects(payload: bytes) -> dict[int, bytes]:
    return {int(m.group(1)): m.group(3) for m in _OBJ_RE.finditer(payload)}


def _page_order(payload: bytes, objs: dict[int, bytes]) -> list[int]:
    """Page object numbers in DOCUMENT order: trailer /Root → catalog
    /Pages → depth-first /Kids walk (intermediate /Pages nodes recursed).
    Falls back to byte order of /Type /Page objects when the tree is
    unwalkable (e.g. xref-stream-only files whose trailer we don't
    parse)."""
    root = _TRAILER_ROOT_RE.search(payload) or _ROOT_ANY_RE.search(payload)
    order: list[int] = []
    if root and int(root.group(1)) in objs:
        cat = objs[int(root.group(1))]
        pages_ref = _PAGES_RE.search(cat)
        if pages_ref and int(pages_ref.group(1)) in objs:
            seen: set[int] = set()

            def walk(num: int) -> None:
                if num in seen or num not in objs:
                    return
                seen.add(num)
                body = objs[num]
                kids = _KIDS_RE.search(body)
                if kids:
                    for r in _REF_RE.finditer(kids.group(1)):
                        walk(int(r.group(1)))
                elif re.search(rb"/Type\s*/Page\b", body):
                    order.append(num)

            walk(int(pages_ref.group(1)))
    if not order:
        order = [
            n
            for n, body in sorted(objs.items(), key=lambda kv: payload.find(b"%d 0 obj" % kv[0]))
            if re.search(rb"/Type\s*/Page\b", body) and b"/Kids" not in body
        ]
    return order


def _stream_data(body: bytes) -> bytes:
    m = _STREAM_RE.search(body)
    if not m:
        return b""
    data = m.group(1)
    filt = re.search(rb"/Filter\s*(/\w+|\[[^\]]*\])", body)
    if filt:
        name = filt.group(1)
        if b"FlateDecode" in name:
            data = zlib.decompress(data)
            rest = name.replace(b"/FlateDecode", b"").strip(b"[] /")
            if rest:
                raise NotImplementedError(f"PDF filter chain {name!r} unsupported")
        else:
            raise NotImplementedError(
                f"PDF stream filter {name.decode('latin-1')} unsupported "
                "(FlateDecode and raw streams decode here; DCT/LZW/ASCII85 "
                "need a longer tail)"
            )
    return data


_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _literal_string(data: bytes, pos: int) -> tuple[bytes, int]:
    """Parse a PDF literal string starting at the '(' — returns (bytes,
    index one past the closing paren).  Handles nesting, the escape set,
    octal codes, and backslash line continuations (spec §7.3.4.2)."""
    out = bytearray()
    depth = 1
    i = pos + 1
    n = len(data)
    while i < n and depth:
        c = data[i : i + 1]
        if c == b"\\":
            nxt = data[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
            elif nxt.isdigit():
                j = i + 1
                while j < min(i + 4, n) and data[j : j + 1].isdigit():
                    j += 1
                out.append(int(data[i + 1 : j], 8) & 0xFF)
                i = j
            elif nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                if nxt == b"\r" and data[i : i + 1] == b"\n":
                    i += 1
            else:
                i += 1  # lone backslash: drop (spec: ignore)
        elif c == b"(":
            depth += 1
            out += c
            i += 1
        elif c == b")":
            depth -= 1
            if depth:
                out += c
            i += 1
        else:
            out += c
            i += 1
    return bytes(out), i


_TOKEN_RE = re.compile(
    rb"\(|<(?![<])[0-9A-Fa-f\s]*>|<<|>>|\[|\]|BT\b|ET\b|TJ\b|Tj\b|Td\b|TD\b|T\*|'|\"|[-+]?[0-9.]+|/[^\s/\[\]()<>]*|\S"
)


def _content_text(data: bytes) -> list[str]:
    """Text lines from one content stream: show-ops append to the current
    line; Td/TD/T*/'/\" start a new one.  Mirrors the line granularity of
    PyMuPDF's plain-text mode on simple PDFs (our fixtures define the
    byte-level truth)."""
    lines: list[str] = []
    cur: list[str] = []
    in_text = False
    pending: list[bytes] = []  # strings seen since the last operator

    def newline() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    i = 0
    n = len(data)
    while i < n:
        m = _TOKEN_RE.search(data, i)
        if not m:
            break
        tok = m.group(0)
        i = m.end()
        if tok == b"(":
            s, i = _literal_string(data, m.start())
            pending.append(s)
        elif tok.startswith(b"<") and tok not in (b"<<",):
            hexbody = re.sub(rb"\s", b"", tok[1:-1])
            if len(hexbody) % 2:
                hexbody += b"0"
            pending.append(bytes.fromhex(hexbody.decode("ascii")))
        elif tok == b"BT":
            in_text = True
            pending.clear()
        elif tok == b"ET":
            newline()
            in_text = False
            pending.clear()
        elif in_text and tok in (b"Tj", b"TJ"):
            cur.extend(p.decode("latin-1") for p in pending)
            pending.clear()
        elif in_text and tok in (b"'", b'"'):
            newline()
            cur.extend(p.decode("latin-1") for p in pending)
            pending.clear()
        elif in_text and tok in (b"Td", b"TD", b"T*"):
            newline()
            pending.clear()
        elif tok in (b"<<", b">>", b"[", b"]"):
            pass  # array/dict structure: pending strings survive into TJ
        elif not tok[:1].isdigit() and tok[:1] not in (b"-", b"+", b"."):
            pending.clear()  # any other operator consumes its operands
    newline()
    return lines


def extract_pdf_pages(payload: bytes) -> list[str]:
    """→ one text string per page (lines joined with ``\\n``), pages in
    document order.  Raises ValueError for non-PDF bytes and
    NotImplementedError for unsupported stream filters / encrypted
    files."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    if re.search(rb"/Encrypt\b", payload):
        raise NotImplementedError("encrypted PDFs are not supported")
    objs = _objects(payload)
    pages: list[str] = []
    for pnum in _page_order(payload, objs):
        body = objs[pnum]
        cm = _CONTENTS_RE.search(body)
        refs: list[int] = []
        if cm:
            if cm.group(1):
                refs = [int(cm.group(1))]
            else:
                refs = [int(r.group(1)) for r in _REF_RE.finditer(cm.group(2))]
        data = b"".join(_stream_data(objs[r]) for r in refs if r in objs)
        pages.append("\n".join(_content_text(data)))
    return pages


def extract_pdf_text(payload: bytes | None) -> str | None:
    """S7 over a PDF payload: per-page text through the SAME
    ``"\\n--- Page N ---\\n"`` assembly as the HTML extractor
    (semantics.assemble_page_texts) — the reference's PyMuPDF loop,
    byte-for-byte (extract_and_populate.py:51-65)."""
    if payload is None:
        return None
    return S.assemble_page_texts(extract_pdf_pages(payload))


# ---------------------------------------------------------------------------
# fixture writer
# ---------------------------------------------------------------------------


def _escape_literal(s: str) -> bytes:
    b = s.encode("latin-1", errors="replace")
    return b.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)")


def build_pdf(pages: list[list[str]], compress: bool = True) -> bytes:
    """Minimal valid single-font PDF: ``pages`` is a list of pages, each a
    list of text lines.  Correct xref offsets; Flate or raw content
    streams.  The test sibling of ``write_warc``."""
    objs: list[bytes] = []  # bodies; object number = index + 1
    n_pages = len(pages)
    font_num = 3 + 2 * n_pages
    kids = b" ".join(b"%d 0 R" % (3 + 2 * i) for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    objs.append(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n_pages)
    )  # 2
    for i, lines in enumerate(pages):
        page_num = 3 + 2 * i
        content_num = page_num + 1
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
            % (font_num, content_num)
        )
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                ops.append(b"0 -14 Td")
            ops.append(b"(%s) Tj" % _escape_literal(line))
        ops.append(b"ET")
        data = b"\n".join(ops)
        if compress:
            data = zlib.compress(data)
            objs.append(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                % (len(data), data)
            )
        else:
            objs.append(
                b"<< /Length %d >>\nstream\n%s\nendstream" % (len(data), data)
            )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)
