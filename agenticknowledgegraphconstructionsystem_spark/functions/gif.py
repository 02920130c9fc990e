"""GIF87a / GIF89a codec — stdlib only.

Public format: CompuServe GIF89a specification (1990-07-31, mirrored at
w3.org/Graphics/GIF/spec-gif89a.txt).  Implements the full still +
animated decode path a web crawl needs:

* variable-width LSB-first LZW with deferred clear codes (table freezes
  at 4096 entries until the next Clear, exactly like giflib),
* global and local color tables,
* the 4-pass interlace row order,
* Graphic Control Extension transparency and disposal methods 0-3
  (composited canvas per frame: keep / restore-background /
  restore-previous),
* per-frame delays → animation duration.

``decode_gif`` (first composited frame, RGB rows) plugs into
operators/multimodal.py's ``decode_image_any`` contract;
``decode_gif_frames`` gives the animated tier a REAL compressed codec
for frame sampling (``decode_video_frames``); ``gif_meta`` walks the
block framing for frame count and duration without inflating LZW.

``encode_gif`` is an original LZW compressor used as the test-fixture
writer; tests/test_gif.py roundtrips it, pins hand-built bitstreams,
and differentially fuzzes the decoder against the REAL giflib
(libgif.so via ctypes) when the host ships it.

Reference parity note: the reference ingests PDFs only
(src/tools/pdf-extractor.ts); the image tier is rebuild-only surface
for the multimodal columns mandated by the build brief.
"""

from __future__ import annotations

import struct

_GIF_SIGS = (b"GIF87a", b"GIF89a")

_MAX_CODE = 4096  # 12-bit code space; table freezes here until Clear


# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first, variable width 3..12 bits)
# ---------------------------------------------------------------------------


def lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """GIF LZW → exactly ``n_pixels`` palette indices.  Raises
    ValueError on truncation or a code beyond the table frontier."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    bitpos = 0
    nbits = len(data) * 8
    out = bytearray()
    prev: bytes | None = None
    while len(out) < n_pixels:
        if bitpos + code_size > nbits:
            raise ValueError("truncated LZW stream")
        byte = bitpos >> 3
        code = (
            int.from_bytes(data[byte : byte + 3], "little") >> (bitpos & 7)
        ) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= clear:
                raise ValueError(f"first LZW code {code} is not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW code {code} beyond table frontier")
        out += entry
        if prev is not None and len(table) < _MAX_CODE:
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError(
            f"LZW ended at {len(out)} of {n_pixels} pixels"
        )
    return bytes(out[:n_pixels])


def lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Palette indices → GIF LZW bytes (no sub-block framing).  A real
    dictionary compressor whose code-width timing MIRRORS the decoder
    exactly: the decoder adds one table entry per code read after the
    first post-clear code, so after our i-th emitted data code its
    table length is ``clear + i + 1`` — the new entry's slot — and the
    width bumps when that hits ``1 << code_size``.  Once the table
    reaches 4096 entries it freezes (deferred clear: we keep emitting
    existing codes, never re-clearing — the form every decoder must
    accept).  giflib's encoder/decoder agree with this timing; the
    ctypes differential test decodes our streams with the real
    libgif."""
    clear = 1 << min_code_size
    eoi = clear + 1
    d: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    code_size = min_code_size + 1
    emitted = 0  # data codes since the initial clear
    acc = 0
    acc_bits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, acc_bits
        acc |= code << acc_bits
        acc_bits += code_size
        while acc_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            acc_bits -= 8

    def after_emit() -> int:
        """Advance the mirrored decoder state; return the table slot
        the decoder will assign to the NEXT string it learns."""
        nonlocal emitted, code_size
        emitted += 1
        slot = clear + emitted + 1
        if slot == (1 << code_size) and code_size < 12:
            code_size += 1
        return slot
    emit(clear)
    prefix = b""
    for b in indices:
        cand = prefix + bytes([b])
        if cand in d:
            prefix = cand
            continue
        emit(d[prefix])
        slot = after_emit()
        if slot < _MAX_CODE:
            d[cand] = slot
        prefix = bytes([b])
    if prefix:
        emit(d[prefix])
        after_emit()  # the decoder still adds an entry -> EOI may be wide
    emit(eoi)
    if acc_bits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# Container walk (shared by decode and the header-only probe)
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step) rows


def _deinterlace(raster: bytes, width: int, height: int) -> bytes:
    """File row order (pass 1..4) → display row order."""
    rows: list[bytes | None] = [None] * height
    pos = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, height, step):
            rows[y] = raster[pos : pos + width]
            pos += width
    return b"".join(r for r in rows if r is not None)


def _read_color_table(payload: bytes, pos: int, n: int) -> tuple[list[tuple[int, int, int]], int]:
    end = pos + 3 * n
    if end > len(payload):
        raise ValueError("truncated color table")
    table = [
        (payload[i], payload[i + 1], payload[i + 2])
        for i in range(pos, end, 3)
    ]
    return table, end


def _skip_subblocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks until the 0 terminator."""
    chunks = []
    while True:
        if pos >= len(payload):
            raise ValueError("unterminated sub-block chain")
        n = payload[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        if pos + n > len(payload):
            raise ValueError("truncated sub-block")
        chunks.append(payload[pos : pos + n])
        pos += n


def _walk(payload: bytes, with_data: bool):
    """Parse the stream, yielding one dict per image block with the
    pending Graphic Control Extension state attached.  ``with_data``
    False skips assembling the LZW bytes (header-only probe).  Returns
    via StopIteration value-free; the caller gets screen state from
    :func:`_screen`."""
    if payload[:6] not in _GIF_SIGS:
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    pos = 13
    gct_flag = payload[10] & 0x80
    if gct_flag:
        _, pos = _read_color_table(payload, pos, 2 << (payload[10] & 0x07))
    gce: dict | None = None
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension
            if pos >= len(payload):
                raise ValueError("truncated extension")
            label = payload[pos]
            pos += 1
            data, pos = _skip_subblocks(payload, pos)
            if label == 0xF9 and len(data) >= 4:
                packed, delay = data[0], struct.unpack_from("<H", data, 1)[0]
                gce = {
                    "disposal": (packed >> 2) & 0x07,
                    "delay_cs": delay,
                    "transparent": data[3] if packed & 0x01 else None,
                }
            continue
        if block != 0x2C:  # image descriptor is all that remains
            raise ValueError(f"unknown GIF block 0x{block:02x} at byte {pos - 1}")
        if pos + 9 > len(payload):
            raise ValueError("truncated image descriptor")
        left, top, w, h = struct.unpack_from("<HHHH", payload, pos)
        packed = payload[pos + 8]
        pos += 9
        local = None
        if packed & 0x80:
            local, pos = _read_color_table(payload, pos, 2 << (packed & 0x07))
        if pos >= len(payload):
            raise ValueError("missing LZW minimum code size")
        mcs = payload[pos]
        pos += 1
        data, pos = _skip_subblocks(payload, pos)
        yield {
            "left": left,
            "top": top,
            "width": w,
            "height": h,
            "interlace": bool(packed & 0x40),
            "palette": local,
            "mcs": mcs,
            "data": data if with_data else b"",
            "gce": gce,
        }
        gce = None
    raise ValueError("GIF stream ended without a trailer")


def _screen(payload: bytes) -> tuple[int, int, list[tuple[int, int, int]] | None, int]:
    """Header → (width, height, global color table or None, bg index)."""
    if payload[:6] not in _GIF_SIGS or len(payload) < 13:
        raise ValueError("not a GIF payload")
    w, h = struct.unpack_from("<HH", payload, 6)
    gct = None
    if payload[10] & 0x80:
        gct, _ = _read_color_table(payload, 13, 2 << (payload[10] & 0x07))
    return w, h, gct, payload[11]


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------


def decode_gif_frames(
    payload: bytes,
) -> tuple[int, int, list[tuple[int, list[list[tuple[int, int, int]]]]]]:
    """Full animated decode → (w, h, [(delay_ms, rgb_rows), ...]) with
    each frame the COMPOSITED canvas after applying that image block:
    transparency keeps the underlying pixel; disposal 2 restores the
    block's region to the background color; disposal 3 restores the
    previous canvas.  The canvas starts as the global-palette
    background color (black when there is no global table)."""
    sw, sh, gct, bg_index = _screen(payload)
    if sw <= 0 or sh <= 0:
        raise ValueError(f"bad logical screen {sw}x{sh}")
    bg = (0, 0, 0)
    if gct is not None and bg_index < len(gct):
        bg = gct[bg_index]
    canvas = [[bg] * sw for _ in range(sh)]
    frames: list[tuple[int, list[list[tuple[int, int, int]]]]] = []
    for img in _walk(payload, with_data=True):
        pal = img["palette"] if img["palette"] is not None else gct
        if pal is None:
            raise ValueError("image block with neither local nor global color table")
        w, h = img["width"], img["height"]
        left, top = img["left"], img["top"]
        if w <= 0 or h <= 0 or left + w > sw or top + h > sh:
            raise ValueError(f"image block {w}x{h}@{left},{top} escapes the {sw}x{sh} screen")
        raster = lzw_decode(img["data"], img["mcs"], w * h)
        if img["interlace"]:
            raster = _deinterlace(raster, w, h)
        gce = img["gce"] or {}
        transparent = gce.get("transparent")
        disposal = gce.get("disposal", 0)
        npal = len(pal)
        saved = [row[left : left + w] for row in canvas[top : top + h]] if disposal == 3 else None
        for y in range(h):
            row = canvas[top + y]
            base = y * w
            for x in range(w):
                idx = raster[base + x]
                if idx == transparent:
                    continue
                if idx >= npal:
                    raise ValueError(f"palette index {idx} >= table size {npal}")
                row[left + x] = pal[idx]
        frames.append((gce.get("delay_cs", 0) * 10, [list(r) for r in canvas]))
        if disposal == 2:
            for y in range(h):
                row = canvas[top + y]
                for x in range(w):
                    row[left + x] = bg
        elif disposal == 3 and saved is not None:
            for y in range(h):
                canvas[top + y][left : left + w] = saved[y]
    if not frames:
        raise ValueError("GIF with no image blocks")
    return sw, sh, frames


def decode_gif(payload: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """First composited frame → (w, h, rgb_rows) — the
    ``decode_image_any`` contract for still (and animated) GIFs."""
    w, h, frames = decode_gif_frames(payload)
    return w, h, frames[0][1]


def gif_meta(payload: bytes) -> tuple[int, int, int, int]:
    """Header-only probe → (width, height, n_frames, duration_ms).
    Walks block framing but never inflates LZW data."""
    w, h, _gct, _bg = _screen(payload)
    n = 0
    dur = 0
    for img in _walk(payload, with_data=False):
        n += 1
        dur += (img["gce"] or {}).get("delay_cs", 0) * 10
    if n == 0:
        raise ValueError("GIF with no image blocks")
    return w, h, n, dur


# ---------------------------------------------------------------------------
# Encode (test-fixture writer)
# ---------------------------------------------------------------------------


def _palette_block(palette: list[tuple[int, int, int]]) -> tuple[bytes, int]:
    """Pad a palette to the next power of two in 2..256; return the
    packed RGB bytes and the size exponent - 1 (the descriptor field)."""
    if not 1 <= len(palette) <= 256:
        raise ValueError(f"palette size {len(palette)} out of range")
    bits = max(1, (len(palette) - 1).bit_length())
    full = 1 << bits
    padded = list(palette) + [(0, 0, 0)] * (full - len(palette))
    return b"".join(bytes(c) for c in padded), bits - 1


def _subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(
    size: tuple[int, int],
    frames: list[dict],
    global_palette: list[tuple[int, int, int]] | None = None,
    bg_index: int = 0,
) -> bytes:
    """GIF89a writer.  ``frames`` entries are dicts with ``rows`` (list
    of index rows) and optional ``left``/``top`` (0), ``palette``
    (local table), ``delay_cs`` (0), ``transparent`` (None),
    ``disposal`` (0), ``interlace`` (False).  A Graphic Control
    Extension is written only when one of its fields is non-default,
    so plain single-frame output is GCE-free like most still GIFs."""
    sw, sh = size
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", sw, sh)
    if global_palette is not None:
        gbytes, gbits = _palette_block(global_palette)
        out.append(0x80 | gbits)
        out += bytes([bg_index, 0])
        out += gbytes
    else:
        out += bytes([0, bg_index, 0])
    for fr in frames:
        rows = fr["rows"]
        h = len(rows)
        w = len(rows[0]) if h else 0
        delay = fr.get("delay_cs", 0)
        transparent = fr.get("transparent")
        disposal = fr.get("disposal", 0)
        if delay or transparent is not None or disposal:
            packed = (disposal & 0x07) << 2 | (1 if transparent is not None else 0)
            out += bytes([0x21, 0xF9, 4, packed])
            out += struct.pack("<H", delay)
            out += bytes([transparent or 0, 0])
        out += b"\x2c" + struct.pack(
            "<HHHH", fr.get("left", 0), fr.get("top", 0), w, h
        )
        local = fr.get("palette")
        interlace = fr.get("interlace", False)
        if local is not None:
            lbytes, lbits = _palette_block(local)
            out.append(0x80 | (0x40 if interlace else 0) | lbits)
            out += lbytes
            npal_bits = lbits + 1
        else:
            if global_palette is None:
                raise ValueError("frame without any color table")
            out.append(0x40 if interlace else 0)
            npal_bits = _palette_block(global_palette)[1] + 1
        if interlace:
            order = [
                y for start, step in _INTERLACE_PASSES for y in range(start, h, step)
            ]
            raster = bytes(v for y in order for v in rows[y])
        else:
            raster = bytes(v for row in rows for v in row)
        mcs = max(2, npal_bits)
        out.append(mcs)
        out += _subblocks(lzw_encode(raster, mcs))
    out.append(0x3B)
    return bytes(out)
