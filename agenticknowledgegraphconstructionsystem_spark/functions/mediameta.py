"""Header-only media metadata probes — the catalog pass a 100 TB media
pipeline runs over EVERY payload before deciding what to decode: format,
dimensions, duration, bitrate, sample rate, codec fourcc, all read from
container headers without decoding a single pixel/sample/frame.

Pure stdlib byte parsing of public container specs:

* :func:`probe_image_dims` — BMP (BITMAPINFOHEADER), PNG (IHDR), JPEG
  (any SOFn marker — dimensions are in the frame header even for
  frame types whose full decode we honestly refuse).
* :func:`scan_mp3` — MPEG-1 Layer III frame-header walk (ISO 11172-3):
  ID3v2 skip, per-frame bitrate/samplerate/padding, exact duration from
  frame count × 1152 samples; mean bitrate so VBR streams report
  honestly.
* :func:`parse_mp4` — ISO BMFF box walk (ISO 14496-12): mvhd
  timescale/duration (v0 and v1), per-trak hdlr handler + stsd codec
  fourcc + tkhd 16.16 width/height.

Sample-data decode for MP3/H.264 stays ``NotImplementedError`` in
operators/multimodal.py — metadata extraction is the part that is both
stdlib-implementable and what curation actually needs first.  Fixture
writers (:func:`write_mp3`, :func:`build_mp4`) are the
``encode_bmp``-style test siblings.
"""

from __future__ import annotations

import struct

__all__ = ["probe_image_dims", "scan_mp3", "parse_mp4", "scan_ogg",
           "write_mp3", "build_mp4", "build_ogg"]

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: MPEG-1 Layer III bitrate table (kbps, index 1..14; 0=free, 15=bad)
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)  # sample-rate index 0..2, 3=reserved
_MP3_SAMPLES_PER_FRAME = 1152


def probe_image_dims(payload: bytes) -> tuple[str, int, int]:
    """→ (format, width, height) from the header alone.  Raises
    ValueError for unrecognized bytes."""
    if payload[:2] == b"BM" and len(payload) >= 26:
        w, h = struct.unpack_from("<ii", payload, 18)
        return "bmp", w, abs(h)  # negative height = top-down BMP
    if payload[:8] == _PNG_SIG and payload[12:16] == b"IHDR":
        w, h = struct.unpack_from(">II", payload, 16)
        return "png", w, h
    if payload[:3] == b"\xff\xd8\xff":
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                raise ValueError(f"bad JPEG marker at byte {pos}")
            marker = payload[pos + 1]
            # SOFn carry dimensions (C0-C3, C5-C7, C9-CB, CD-CF)
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack_from(">HH", payload, pos + 5)
                return "jpeg", w, h
            if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                pos += 2  # parameterless markers
                continue
            (seglen,) = struct.unpack_from(">H", payload, pos + 2)
            pos += 2 + seglen
        raise ValueError("JPEG without an SOF frame header")
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack_from("<HH", payload, 6)
        return "gif", w, h
    raise ValueError("unrecognized image payload")


def scan_mp3(payload: bytes) -> tuple[int, int, int, int]:
    """MPEG-1 Layer III → (duration_ms, mean_bitrate_kbps, sample_rate,
    n_frames) by walking frame headers.  Skips a leading ID3v2 tag;
    stops at trailing garbage/TAG; raises ValueError if no valid frame
    is found or a non-MPEG1-LayerIII frame appears."""
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = 0
        for b in payload[6:10]:  # syncsafe 7-bit bytes
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size
    n_frames = 0
    audio_bytes = 0
    sample_rate = 0
    while pos + 4 <= len(payload):
        b0, b1, b2, _b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break  # end of frame run (TAG trailer, truncation)
        version = (b1 >> 3) & 0x03
        layer = (b1 >> 1) & 0x03
        if version != 3 or layer != 1:
            raise ValueError(
                "only MPEG-1 Layer III supported (header "
                f"version={version} layer={layer} at byte {pos})"
            )
        br_idx = (b2 >> 4) & 0x0F
        sr_idx = (b2 >> 2) & 0x03
        padding = (b2 >> 1) & 0x01
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError(f"bad bitrate/samplerate index at byte {pos}")
        bitrate = _MP3_BITRATES[br_idx] * 1000
        sample_rate = _MP3_RATES[sr_idx]
        frame_len = 144 * bitrate // sample_rate + padding
        n_frames += 1
        audio_bytes += frame_len
        pos += frame_len
    if n_frames == 0:
        raise ValueError("no MPEG audio frame found")
    duration_ms = n_frames * _MP3_SAMPLES_PER_FRAME * 1000 // sample_rate
    den = n_frames * _MP3_SAMPLES_PER_FRAME * 1000
    mean_kbps = (audio_bytes * 8 * sample_rate + den // 2) // den  # nearest
    return duration_ms, mean_kbps, sample_rate, n_frames


def write_mp3(
    frame_kbps: list[int], sample_rate: int = 44100, id3_bytes: int = 0
) -> bytes:
    """Fixture writer: one MPEG-1 Layer III frame per listed bitrate
    (payload zero-filled — scan_mp3 reads headers only), optionally
    preceded by an ID3v2 tag of ``id3_bytes`` payload."""
    sr_idx = _MP3_RATES.index(sample_rate)
    out = bytearray()
    if id3_bytes:
        size = bytes(
            [(id3_bytes >> s) & 0x7F for s in (21, 14, 7, 0)]
        )
        out += b"ID3\x04\x00\x00" + size + b"\x00" * id3_bytes
    rem = 0
    for kbps in frame_kbps:
        br_idx = _MP3_BITRATES.index(kbps)
        # padding accumulator — the rounding real CBR encoders apply so
        # the mean byte rate hits the nominal bitrate exactly
        rem += 144 * kbps * 1000 % sample_rate
        padding = 1 if rem >= sample_rate else 0
        rem -= padding * sample_rate
        hdr = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2) | (padding << 1), 0x00])
        frame_len = 144 * kbps * 1000 // sample_rate + padding
        out += hdr + b"\x00" * (frame_len - 4)
    return bytes(out)


def _walk_boxes(data: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for ISO BMFF boxes."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            body = pos + 16
        elif size == 0:  # to end of enclosing box
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"bad box size {size} at byte {pos}")
        yield btype, body, pos + size
        pos += size


def parse_mp4(payload: bytes) -> tuple[int, list[dict]]:
    """ISO BMFF → (duration_ms, tracks) with tracks =
    [{handler, codec, width, height}] (width/height 0 for non-visual
    tracks).  Raises ValueError when no moov/mvhd is present."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload (missing ftyp)")
    duration_ms = None
    tracks: list[dict] = []
    for btype, b0, b1 in _walk_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for mtype, m0, m1 in _walk_boxes(payload, b0, b1):
            if mtype == b"mvhd":
                version = payload[m0]
                if version == 1:
                    ts, dur = struct.unpack_from(">IQ", payload, m0 + 4 + 16)
                else:
                    ts, dur = struct.unpack_from(">II", payload, m0 + 4 + 8)
                duration_ms = dur * 1000 // ts
            elif mtype == b"trak":
                tracks.append(_parse_trak(payload, m0, m1))
    if duration_ms is None:
        raise ValueError("no moov/mvhd box found")
    return duration_ms, tracks


def _parse_trak(data: bytes, start: int, end: int) -> dict:
    out = {"handler": "", "codec": "", "width": 0, "height": 0}
    for btype, b0, b1 in _walk_boxes(data, start, end):
        if btype == b"tkhd":
            version = data[b0]
            # 16.16 width offset incl. version/flags: v0 4+20+8+8+36=76,
            # v1 has 64-bit ctime/mtime/duration → +12
            off = b0 + (88 if version == 1 else 76)
            w, h = struct.unpack_from(">II", data, off)
            out["width"], out["height"] = w >> 16, h >> 16
        elif btype == b"mdia":
            for mtype, m0, m1 in _walk_boxes(data, b0, b1):
                if mtype == b"hdlr":
                    out["handler"] = data[m0 + 8 : m0 + 12].decode("ascii", "replace")
                elif mtype == b"minf":
                    for ntype, n0, n1 in _walk_boxes(data, m0, m1):
                        if ntype == b"stbl":
                            for stype, s0, s1 in _walk_boxes(data, n0, n1):
                                if stype == b"stsd" and s1 - s0 >= 16:
                                    out["codec"] = data[s0 + 12 : s0 + 16].decode(
                                        "ascii", "replace"
                                    )
    return out


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + btype + body


def build_mp4(
    duration_ms: int,
    tracks: list[dict],
    timescale: int = 1000,
) -> bytes:
    """Fixture writer: minimal ftyp+moov tree carrying exactly the
    fields :func:`parse_mp4` reads."""
    mvhd = (
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration_ms * timescale // 1000)
    )
    moov = _box(b"mvhd", mvhd)
    for t in tracks:
        tkhd = b"\x00" * 76 + struct.pack(
            ">II", t.get("width", 0) << 16, t.get("height", 0) << 16
        )
        hdlr = b"\x00" * 8 + t["handler"].encode("ascii") + b"\x00" * 12
        stsd = (
            b"\x00\x00\x00\x00"
            + struct.pack(">I", 1)
            + struct.pack(">I", 16)
            + t["codec"].encode("ascii")
            + b"\x00" * 8
        )
        stbl = _box(b"stsd", stsd)
        minf = _box(b"stbl", stbl)
        mdia = _box(b"hdlr", hdlr) + _box(b"minf", minf)
        moov += _box(b"trak", _box(b"tkhd", tkhd) + _box(b"mdia", mdia))
    return _box(b"ftyp", b"isom\x00\x00\x02\x00isom") + _box(b"moov", moov)


# ---------------------------------------------------------------------------
# Ogg (RFC 3533) — Vorbis and Opus identification headers
# ---------------------------------------------------------------------------


def scan_ogg(payload: bytes) -> tuple[str, int, int, int]:
    """Ogg page walk (RFC 3533) → (codec, channels, sample_rate,
    duration_ms).  Codec and parameters come from the first page's
    identification header ('\\x01vorbis' per the Vorbis I spec §4.2.2,
    or 'OpusHead' per RFC 7845 §5.1); duration from the LAST page's
    granule position (PCM sample count — Opus granules tick at 48 kHz
    regardless of the input rate, minus the pre-skip).  Page CRCs are
    not verified — this is the catalog probe, not a decoder (same
    stance as parse_mp4's box walk).  Raises ValueError on
    non-Ogg/unknown-codec payloads."""
    if payload[:4] != b"OggS":
        raise ValueError("ogg: missing OggS capture pattern")
    codec = channels = rate = None
    preskip = 0
    last_granule = 0
    pos = 0
    n = len(payload)
    first = True
    while pos + 27 <= n:
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError(f"ogg: lost page sync at byte {pos}")
        if payload[pos + 4] != 0:
            raise ValueError("ogg: unknown stream structure version")
        granule = int.from_bytes(
            payload[pos + 6 : pos + 14], "little", signed=True
        )
        nsegs = payload[pos + 26]
        body_off = pos + 27 + nsegs
        body_len = sum(payload[pos + 27 : pos + 27 + nsegs])
        if body_off + body_len > n:
            raise ValueError("ogg: truncated page body")
        if granule >= 0:
            last_granule = granule
        if first:
            body = payload[body_off : body_off + body_len]
            if body[:7] == b"\x01vorbis" and len(body) >= 16:
                codec = "vorbis"
                channels = body[11]
                rate = int.from_bytes(body[12:16], "little")
            elif body[:8] == b"OpusHead" and len(body) >= 19:
                codec = "opus"
                channels = body[9]
                preskip = int.from_bytes(body[10:12], "little")
                rate = int.from_bytes(body[12:16], "little")
            else:
                raise ValueError("ogg: first packet is not Vorbis/Opus")
            first = False
        pos = body_off + body_len
    if codec is None:
        raise ValueError("ogg: no identification header")
    if codec == "opus":
        dur = max(last_granule - preskip, 0) * 1000 // 48000
    else:
        dur = last_granule * 1000 // rate if rate else 0
    return codec, channels, rate, dur


def build_ogg(
    codec: str = "vorbis",
    channels: int = 2,
    rate: int = 44100,
    n_samples: int = 44100,
    preskip: int = 312,
) -> bytes:
    """Fixture writer: a two-page Ogg stream — the identification
    header page and one (empty-packet) data page carrying the final
    granule position.  Structurally valid per RFC 3533; CRCs zero
    (scan_ogg does not verify them)."""

    def page(granule: int, body: bytes, header_type: int, seq: int) -> bytes:
        segs = []
        rem = len(body)
        while rem >= 255:
            segs.append(255)
            rem -= 255
        segs.append(rem)
        return (
            b"OggS\x00"
            + bytes([header_type])
            + granule.to_bytes(8, "little", signed=True)
            + (7).to_bytes(4, "little")     # serial
            + seq.to_bytes(4, "little")
            + b"\x00\x00\x00\x00"           # crc: unverified by the probe
            + bytes([len(segs)])
            + bytes(segs)
            + body
        )

    if codec == "vorbis":
        ident = (
            b"\x01vorbis"
            + (0).to_bytes(4, "little")
            + bytes([channels])
            + rate.to_bytes(4, "little")
            + b"\x00" * 16
            + b"\x01"
        )
        final_granule = n_samples
    elif codec == "opus":
        ident = (
            b"OpusHead\x01"
            + bytes([channels])
            + preskip.to_bytes(2, "little")
            + rate.to_bytes(4, "little")
            + b"\x00\x00\x00"
        )
        final_granule = n_samples + preskip  # granules include pre-skip
    else:
        raise ValueError(f"unknown codec {codec!r}")
    return page(0, ident, 0x02, 0) + page(final_granule, b"", 0x04, 1)
