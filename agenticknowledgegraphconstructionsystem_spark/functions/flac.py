"""Stdlib FLAC codec (RFC 9639 / the xiph.org FLAC format): full
decoder for the paths real encoders emit — CONSTANT / VERBATIM / FIXED
(orders 0-4) / LPC (orders 1-32) subframes, RICE and RICE2 partitioned
residuals with escape partitions, all four channel assignments
(independent, left/side, right/side, mid/side), wasted bits, UTF-8-
coded frame numbers, CRC-8 frame headers, CRC-16 frame footers, and the
STREAMINFO MD5 over the decoded stream — plus the fixture ENCODER
subset (verbatim / fixed / explicit-coefficient LPC subframes, every
stereo decorrelation, configurable rice partition order) the tests
round-trip against, a two-way discipline (no FLAC library exists on
this host, so the differential is decoder-vs-own-encoder plus
hand-built bitstreams and the format's three integrity checks: CRC-8,
CRC-16, MD5).

The reference never decodes media (its first mile is PyMuPDF text,
extract_and_populate.py:36-71); a Common-Crawl-style multimodal corpus
carries audio payloads, and FLAC is the lossless format web archives
actually hold.  Wired into operators/multimodal.decode_audio next to
WAV.

Only decode-side surprises a crawl can hit raise honestly:
non-STREAMINFO-first files, reserved codes, and CRC/MD5 mismatches all
raise ValueError with a message naming the offset.
"""

from __future__ import annotations

import hashlib
import struct

# ---------------------------------------------------------------------------
# Bit IO (MSB-first, the FLAC bit order)
# ---------------------------------------------------------------------------


class _BitReader:
    __slots__ = ("data", "pos")  # pos in BITS

    def __init__(self, data: bytes, bit_pos: int = 0):
        self.data = data
        self.pos = bit_pos

    def read(self, n: int) -> int:
        """n-bit unsigned, MSB-first."""
        end = self.pos + n
        if end > len(self.data) * 8:
            raise ValueError(f"flac: bitstream truncated at bit {self.pos}")
        v = 0
        pos = self.pos
        data = self.data
        while n > 0:
            byte = data[pos >> 3]
            avail = 8 - (pos & 7)
            take = avail if avail < n else n
            v = (v << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
            pos += take
            n -= take
        self.pos = pos
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def read_unary(self) -> int:
        """Count 0 bits until the terminating 1."""
        q = 0
        data = self.data
        nbits = len(data) * 8
        pos = self.pos
        while True:
            if pos >= nbits:
                raise ValueError("flac: unary run past end of stream")
            if (data[pos >> 3] >> (7 - (pos & 7))) & 1:
                self.pos = pos + 1
                return q
            q += 1
            pos += 1

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


class _BitWriter:
    __slots__ = ("buf", "acc", "nacc")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nacc += n
        while self.nacc >= 8:
            self.nacc -= 8
            self.buf.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nacc:
            self.write(0, 8 - self.nacc)

    def bytes(self) -> bytes:
        assert self.nacc == 0
        return bytes(self.buf)


# ---------------------------------------------------------------------------
# CRCs (the FLAC polynomials) and the UTF-8-style coded number
# ---------------------------------------------------------------------------


def crc8(data: bytes) -> int:
    """poly x^8 + x^2 + x + 1 (0x07), init 0 — frame-header CRC."""
    c = 0
    for b in data:
        c ^= b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
    return c


def crc16(data: bytes) -> int:
    """poly x^16 + x^15 + x^2 + 1 (0x8005), init 0 — frame CRC."""
    c = 0
    for b in data:
        c ^= b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
    return c


def _read_coded_number(r: _BitReader) -> int:
    """The frame header's UTF-8-style frame/sample number (up to 7
    bytes / 36-bit sample numbers)."""
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    ones = 0
    while (b0 << ones) & 0x80:
        ones += 1
    if ones < 2 or ones > 7:
        raise ValueError(f"flac: bad coded-number lead byte {b0:#x}")
    v = b0 & (0x7F >> ones)
    for _ in range(ones - 1):
        c = r.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("flac: bad coded-number continuation byte")
        v = (v << 6) | (c & 0x3F)
    return v


def _write_coded_number(out: bytearray, v: int) -> None:
    if v < 0x80:
        out.append(v)
        return
    payload = []
    nbytes = 2
    while v >= (1 << (1 + 5 * nbytes)):  # capacity of an n-byte form
        nbytes += 1
    for _ in range(nbytes - 1):
        payload.append(0x80 | (v & 0x3F))
        v >>= 6
    lead = (0xFF << (8 - nbytes)) & 0xFF | v
    out.append(lead)
    out.extend(reversed(payload))


_FIXED_COEFS = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))

_BLOCKSIZE_CODES = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5,
                    256: 8, 512: 9, 1024: 10, 2048: 11, 4096: 12,
                    8192: 13, 16384: 14, 32768: 15}

_SAMPLE_RATE_CODES = {88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5,
                      22050: 6, 24000: 7, 32000: 8, 44100: 9, 48000: 10,
                      96000: 11}

_SAMPLE_SIZE_CODES = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}
_SAMPLE_SIZE_BITS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _parse_streaminfo(payload: bytes) -> tuple[dict, int]:
    """→ (streaminfo, byte offset of the first frame)."""
    if payload[:4] != b"fLaC":
        raise ValueError("flac: missing fLaC stream marker")
    off = 4
    info = None
    first = True
    while True:
        if off + 4 > len(payload):
            raise ValueError("flac: truncated metadata block header")
        hdr = int.from_bytes(payload[off : off + 4], "big")
        last, btype, blen = hdr >> 31, (hdr >> 24) & 0x7F, hdr & 0xFFFFFF
        off += 4
        if first and btype != 0:
            raise ValueError("flac: first metadata block is not STREAMINFO")
        if btype == 0:
            b = payload[off : off + 34]
            if len(b) < 34:
                raise ValueError("flac: truncated STREAMINFO")
            r = _BitReader(b)
            info = {
                "min_blocksize": r.read(16),
                "max_blocksize": r.read(16),
                "min_framesize": r.read(24),
                "max_framesize": r.read(24),
                "sample_rate": r.read(20),
                "channels": r.read(3) + 1,
                "bps": r.read(5) + 1,
                "total_samples": r.read(36),
                "md5": b[18:34],
            }
        off += blen
        first = False
        if last:
            break
    if info is None:
        raise ValueError("flac: no STREAMINFO block")
    return info, off


def _decode_subframe(
    r: _BitReader, blocksize: int, bits: int
) -> list[int]:
    if r.read(1):
        raise ValueError("flac: subframe header padding bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    bits -= wasted
    if stype == 0:  # CONSTANT
        v = r.read_signed(bits)
        out = [v] * blocksize
    elif stype == 1:  # VERBATIM
        out = [r.read_signed(bits) for _ in range(blocksize)]
    elif 8 <= stype <= 12:  # FIXED
        order = stype - 8
        out = [r.read_signed(bits) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        coefs = _FIXED_COEFS[order]
        for i in range(order, blocksize):
            p = 0
            for j, c in enumerate(coefs):
                p += c * out[i - 1 - j]
            out.append(p + res[i - order])
    elif stype >= 32:  # LPC
        order = (stype & 0x1F) + 1
        out = [r.read_signed(bits) for _ in range(order)]
        precision = r.read(4) + 1
        if precision == 16:
            raise ValueError("flac: invalid qlp precision code 15")
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("flac: negative lpc shift")
        coefs = [r.read_signed(precision) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        for i in range(order, blocksize):
            p = 0
            for j, c in enumerate(coefs):
                p += c * out[i - 1 - j]
            out.append((p >> shift) + res[i - order])
    else:
        raise ValueError(f"flac: reserved subframe type {stype}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def _decode_residual(r: _BitReader, blocksize: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise ValueError(f"flac: reserved residual method {method}")
    pbits, escape = (4, 0xF) if method == 0 else (5, 0x1F)
    porder = r.read(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("flac: partition order does not divide blocksize")
    out: list[int] = []
    for part in range(nparts):
        n = blocksize >> porder
        if part == 0:
            n -= order
        param = r.read(pbits)
        if param == escape:
            raw = r.read(5)
            if raw == 0:
                out.extend([0] * n)
            else:
                out.extend(r.read_signed(raw) for _ in range(n))
        else:
            for _ in range(n):
                q = r.read_unary()
                v = (q << param) | r.read(param)
                out.append((v >> 1) ^ -(v & 1))
    return out


def decode_flac(
    payload: bytes, verify_md5: bool = True
) -> tuple[int, int, int, list[int]]:
    """FLAC stream → (sample_rate, n_channels, bits_per_sample,
    interleaved samples).  Verifies every frame's CRC-8 header and
    CRC-16 footer, and (when STREAMINFO carries one) the stream MD5 —
    the format's own end-to-end integrity check."""
    info, off = _parse_streaminfo(payload)
    n_channels = info["channels"]
    samples: list[list[int]] = [[] for _ in range(n_channels)]
    while off < len(payload):
        r = _BitReader(payload, off * 8)
        if r.read(14) != 0x3FFE:
            raise ValueError(f"flac: bad frame sync at byte {off}")
        if r.read(1):
            raise ValueError("flac: frame header reserved bit set")
        r.read(1)  # blocking strategy (number semantics only)
        bs_code = r.read(4)
        sr_code = r.read(4)
        ch_code = r.read(4)
        ss_code = r.read(3)
        if r.read(1):
            raise ValueError("flac: frame header reserved bit 2 set")
        _read_coded_number(r)
        if bs_code == 0:
            raise ValueError("flac: reserved blocksize code 0")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = r.read(8) + 1
        elif bs_code == 7:
            blocksize = r.read(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 12:
            r.read(8)
        elif sr_code in (13, 14):
            r.read(16)
        elif sr_code == 15:
            raise ValueError("flac: invalid sample-rate code 15")
        bits = info["bps"] if ss_code == 0 else _SAMPLE_SIZE_BITS.get(ss_code)
        if bits is None:
            raise ValueError(f"flac: reserved sample-size code {ss_code}")
        r.align()
        hdr_end = r.pos >> 3
        if crc8(payload[off:hdr_end]) != r.read(8):
            raise ValueError(f"flac: frame header CRC-8 mismatch at byte {off}")
        if ch_code < 8:
            if ch_code + 1 != n_channels:
                raise ValueError("flac: frame channel count != STREAMINFO")
            chans = [
                _decode_subframe(r, blocksize, bits)
                for _ in range(n_channels)
            ]
        elif ch_code in (8, 9, 10):
            if n_channels != 2:
                raise ValueError("flac: stereo decorrelation in non-stereo stream")
            # the SIDE channel carries one extra bit
            if ch_code == 8:  # left/side
                left = _decode_subframe(r, blocksize, bits)
                side = _decode_subframe(r, blocksize, bits + 1)
                chans = [left, [l - s for l, s in zip(left, side)]]
            elif ch_code == 9:  # right/side (side first)
                side = _decode_subframe(r, blocksize, bits + 1)
                right = _decode_subframe(r, blocksize, bits)
                chans = [[s + rch for s, rch in zip(side, right)], right]
            else:  # mid/side
                mid = _decode_subframe(r, blocksize, bits)
                side = _decode_subframe(r, blocksize, bits + 1)
                chans = [[], []]
                for m, s in zip(mid, side):
                    m2 = (m << 1) | (s & 1)
                    chans[0].append((m2 + s) >> 1)
                    chans[1].append((m2 - s) >> 1)
        else:
            raise ValueError(f"flac: reserved channel assignment {ch_code}")
        r.align()
        frame_end = r.pos >> 3
        if crc16(payload[off:frame_end]) != r.read(16):
            raise ValueError(f"flac: frame CRC-16 mismatch at byte {off}")
        off = r.pos >> 3
        for c in range(n_channels):
            samples[c].extend(chans[c])
    n = len(samples[0])
    if info["total_samples"] and n != info["total_samples"]:
        raise ValueError(
            f"flac: decoded {n} samples, STREAMINFO says {info['total_samples']}"
        )
    inter = [samples[c][i] for i in range(n) for c in range(n_channels)]
    if verify_md5 and info["md5"] != b"\x00" * 16:
        if _stream_md5(inter, info["bps"]) != info["md5"]:
            raise ValueError("flac: stream MD5 mismatch")
    return info["sample_rate"], n_channels, info["bps"], inter


def _stream_md5(inter: list[int], bps: int) -> bytes:
    """STREAMINFO MD5: interleaved samples, little-endian,
    ceil(bps/8)-byte two's complement."""
    nbytes = (bps + 7) // 8
    h = hashlib.md5()
    mask = (1 << (8 * nbytes)) - 1
    h.update(
        b"".join((v & mask).to_bytes(nbytes, "little") for v in inter)
    )
    return h.digest()


# ---------------------------------------------------------------------------
# Fixture encoder (the test-side twin)
# ---------------------------------------------------------------------------


def _rice_best_param(res: list[int], maxp: int = 14) -> int:
    best, bestbits = 0, None
    for p in range(maxp + 1):
        bits = 0
        for v in res:
            u = (abs(v) << 1) - (1 if v < 0 else 0)
            bits += (u >> p) + 1 + p
            if bestbits is not None and bits > bestbits:
                break
        if bestbits is None or bits < bestbits:
            best, bestbits = p, bits
    return best


def _write_rice(w: _BitWriter, res: list[int], param: int) -> None:
    for v in res:
        u = (abs(v) << 1) - (1 if v < 0 else 0)
        w.write_unary(u >> param)
        w.write(u & ((1 << param) - 1), param)


def _encode_subframe(
    w: _BitWriter,
    ch: list[int],
    bits: int,
    mode,
    partition_order: int,
) -> None:
    blocksize = len(ch)
    if mode == "verbatim":
        w.write(0, 1); w.write(1, 6); w.write(0, 1)
        for v in ch:
            w.write(v, bits)
        return
    if mode == "constant":
        if any(v != ch[0] for v in ch):
            raise ValueError("constant subframe over non-constant samples")
        w.write(0, 1); w.write(0, 6); w.write(0, 1)
        w.write(ch[0], bits)
        return
    if isinstance(mode, tuple) and mode[0] == "lpc":
        _tag, coefs, shift, precision = mode
        order = len(coefs)
        w.write(0, 1); w.write(0x20 | (order - 1), 6); w.write(0, 1)
        for v in ch[:order]:
            w.write(v, bits)
        w.write(precision - 1, 4)
        w.write(shift, 5)
        for c in coefs:
            w.write(c, precision)
        res = []
        for i in range(order, blocksize):
            p = sum(c * ch[i - 1 - j] for j, c in enumerate(coefs))
            res.append(ch[i] - (p >> shift))
        _write_residual(w, res, blocksize, order, partition_order)
        return
    if isinstance(mode, tuple) and mode[0] == "fixed":
        order = mode[1]
        coefs = _FIXED_COEFS[order]
        w.write(0, 1); w.write(8 + order, 6); w.write(0, 1)
        for v in ch[:order]:
            w.write(v, bits)
        res = []
        for i in range(order, blocksize):
            p = sum(c * ch[i - 1 - j] for j, c in enumerate(coefs))
            res.append(ch[i] - p)
        _write_residual(w, res, blocksize, order, partition_order)
        return
    raise ValueError(f"unknown subframe mode {mode!r}")


def _write_residual(
    w: _BitWriter, res: list[int], blocksize: int, order: int, porder: int
) -> None:
    w.write(0, 2)  # RICE (4-bit params)
    w.write(porder, 4)
    nparts = 1 << porder
    pos = 0
    for part in range(nparts):
        n = blocksize >> porder
        if part == 0:
            n -= order
        chunk = res[pos : pos + n]
        pos += n
        param = _rice_best_param(chunk)
        w.write(param, 4)
        _write_rice(w, chunk, param)


def encode_flac(
    channels: list[list[int]],
    rate: int = 16000,
    bps: int = 16,
    block_size: int = 256,
    mode="verbatim",
    stereo: str = "independent",
    partition_order: int = 0,
) -> bytes:
    """Fixture writer: fixed-blocking FLAC with one subframe ``mode``
    for every block ('verbatim' | 'constant' | ('fixed', order) |
    ('lpc', coefs, shift, precision)), optional stereo decorrelation
    ('independent' | 'left_side' | 'right_side' | 'mid_side'), and a
    configurable rice ``partition_order``.  Emits a correct STREAMINFO
    (incl. the stream MD5) so decode_flac verifies end to end."""
    n_channels = len(channels)
    total = len(channels[0])
    if any(len(c) != total for c in channels):
        raise ValueError("ragged channels")
    if stereo != "independent" and n_channels != 2:
        raise ValueError("stereo decorrelation needs 2 channels")
    out = bytearray()
    frames = bytearray()
    nframes = (total + block_size - 1) // block_size
    min_fs = max_fs = None
    for f in range(nframes):
        lo, hi = f * block_size, min((f + 1) * block_size, total)
        bs = hi - lo
        hdr = _BitWriter()
        hdr.write(0x3FFE, 14)
        hdr.write(0, 1)
        hdr.write(0, 1)  # fixed blocking
        bs_code = _BLOCKSIZE_CODES.get(bs, 7)
        hdr.write(bs_code, 4)
        sr_code = _SAMPLE_RATE_CODES.get(rate, 13)
        hdr.write(sr_code, 4)
        ch_code = {"independent": n_channels - 1, "left_side": 8,
                   "right_side": 9, "mid_side": 10}[stereo]
        hdr.write(ch_code, 4)
        hdr.write(_SAMPLE_SIZE_CODES[bps], 3)
        hdr.write(0, 1)
        hdr.align()
        hbytes = bytearray(hdr.bytes())
        _write_coded_number(hbytes, f)
        tail = _BitWriter()
        if bs_code == 7:
            tail.write(bs - 1, 16)
        if sr_code == 13:
            tail.write(rate, 16)
        tail.align()
        hbytes.extend(tail.bytes())
        hbytes.append(crc8(bytes(hbytes)))
        body = _BitWriter()
        # pre-load header bytes so CRC16 covers the whole frame
        for b in hbytes:
            body.write(b, 8)
        blocks = [c[lo:hi] for c in channels]
        if stereo == "independent":
            for ch in blocks:
                _encode_subframe(body, ch, bps, mode, partition_order)
        else:
            l, rch = blocks
            side = [a - b for a, b in zip(l, rch)]
            if stereo == "left_side":
                _encode_subframe(body, l, bps, mode, partition_order)
                _encode_subframe(body, side, bps + 1, mode, partition_order)
            elif stereo == "right_side":
                _encode_subframe(body, side, bps + 1, mode, partition_order)
                _encode_subframe(body, rch, bps, mode, partition_order)
            else:
                mid = [(a + b) >> 1 for a, b in zip(l, rch)]
                _encode_subframe(body, mid, bps, mode, partition_order)
                _encode_subframe(body, side, bps + 1, mode, partition_order)
        body.align()
        frame = body.bytes()
        frame += struct.pack(">H", crc16(frame))
        frames.extend(frame)
        min_fs = len(frame) if min_fs is None else min(min_fs, len(frame))
        max_fs = len(frame) if max_fs is None else max(max_fs, len(frame))
    inter = [channels[c][i] for i in range(total) for c in range(n_channels)]
    si = _BitWriter()
    si.write(min(block_size, total), 16)
    si.write(block_size, 16)
    si.write(min_fs or 0, 24)
    si.write(max_fs or 0, 24)
    si.write(rate, 20)
    si.write(n_channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(total, 36)
    si.align()
    out += b"fLaC"
    block = si.bytes() + _stream_md5(inter, bps)
    out += bytes([0x80]) + len(block).to_bytes(3, "big") + block
    out += frames
    return bytes(out)
