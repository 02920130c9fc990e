"""Multimodal columns: image/audio/video as opaque binary payloads.

The Spark-side plumbing (schemas, Arrow batch shapes, partition-count
preservation, mapInPandas iterator contracts) is real and tested.  Decode
has two honest tiers:

* ``fake=False`` REALLY decodes the formats that are parseable with
  stdlib + numpy alone — 24-bit BI_RGB BMP (:func:`decode_bmp`), 8-bit
  RGB/RGBA non-interlaced PNG (:func:`decode_png` — DEFLATE is stdlib
  zlib), GIF (functions/gif.py), 16-bit PCM WAV (:func:`decode_wav`),
  FLAC (functions/flac.py) and Y4M video (:func:`decode_y4m`) —
  pixel/sample/frame values pytest-pinned — and raises
  ``NotImplementedError`` for anything else (lossy image, audio and
  video codecs need libvips/librosa/ffmpeg, which this container does
  not ship).
* ``decode_images(..., fake=True)`` substitutes a deterministic
  content-hash "decode" so the pipeline shape is exercised end to end on
  arbitrary payloads.

Design notes for 100 TB of media:
* binary payloads stay columnar (parquet binary) — never collect, never
  base64 through the driver,
* decode runs in mapInPandas with small Arrow batches
  (spark.sql.execution.arrow.maxRecordsPerBatch) so a batch of images
  bounds executor memory,
* feature vectors come back as array<float> ready for the similarity
  operators (cosine_topk / rhp_ann_topk).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# Pure-stdlib decoders for the uncompressed container formats (the one
# honest real-decode tier available without native media libraries).
# ---------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Uncompressed 24-bit BI_RGB BMP → (width, height, rows), rows[y][x]
    = (r, g, b) top-down.  Handles bottom-up (positive biHeight) and
    top-down (negative) storage and 4-byte row padding.  Raises
    ValueError on any other BMP flavor or non-BMP bytes."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"only uncompressed 24-bit BI_RGB supported (bpp={bpp}, compression={comp})")
    if width <= 0 or height == 0:
        raise ValueError(f"bad dimensions {width}x{height}")
    bottom_up = height > 0
    h = abs(height)
    stride = (width * 3 + 3) & ~3
    if data_off + h * stride > len(payload):
        raise ValueError("truncated BMP pixel array")
    rows = []
    for y in range(h):
        off = data_off + ((h - 1 - y) if bottom_up else y) * stride
        rows.append(
            [
                # stored as BGR
                (payload[off + 3 * x + 2], payload[off + 3 * x + 1], payload[off + 3 * x])
                for x in range(width)
            ]
        )
    return width, h, rows


def encode_bmp(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Inverse of :func:`decode_bmp` (bottom-up 24-bit BI_RGB) — used to
    synthesize test fixtures and by callers that need a portable
    thumbnail container."""
    h = len(rows)
    w = len(rows[0])
    stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (stride - w * 3)
    pix = b"".join(
        b"".join(bytes((b_, g, r)) for r, g, b_ in rows[y]) + pad
        for y in range(h - 1, -1, -1)
    )
    data_off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", data_off + len(pix), 0, 0, data_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return header + dib + pix


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(payload: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """8-bit RGB/RGBA non-interlaced PNG → (width, height, rows),
    rows[y][x] = (r, g, b) top-down; the alpha channel (color type 6) is
    parsed and dropped.  Pure stdlib: chunk walk + zlib inflate of the
    concatenated IDAT stream + per-scanline unfilter (None/Sub/Up/
    Average/Paeth — the five filters of the PNG spec §9).  Raises
    ValueError for palette/gray/16-bit/interlaced flavors and corrupt
    streams.  DEFLATE is stdlib zlib, so PNG decodes without native libs."""
    if len(payload) < 8 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    color_type = None
    idat = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if bit_depth != 8 or color_type not in (2, 6):
                raise ValueError(
                    f"only 8-bit RGB/RGBA supported (bit depth {bit_depth}, "
                    f"color type {color_type})"
                )
            if comp != 0 or filt != 0 or interlace != 0:
                raise ValueError("unsupported compression/filter/interlace method")
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if width is None or not idat:
        raise ValueError("missing IHDR or IDAT chunk")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT stream: {e}") from e
    bpp = 4 if color_type == 6 else 3
    stride = width * bpp
    if len(raw) < height * (stride + 1):
        raise ValueError("truncated PNG scanline data")
    rows: list[list[tuple[int, int, int]]] = []
    prev = bytearray(stride)
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b_ = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b_ - c
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        rows.append(
            [
                (line[x * bpp], line[x * bpp + 1], line[x * bpp + 2])
                for x in range(width)
            ]
        )
        prev = line
    return width, height, rows


def encode_png(
    rows: list[list[tuple[int, int, int]]], filter_type: int = 0
) -> bytes:
    """Inverse of :func:`decode_png` (8-bit RGB, non-interlaced) — test-
    fixture writer.  ``filter_type`` selects the per-scanline filter
    (0=None default; 1=Sub/2=Up exercised by the unfilter pytest)."""
    h, w = len(rows), len(rows[0])

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = bytearray()
    prev = bytes(w * 3)
    for y in range(h):
        line = b"".join(bytes(px) for px in rows[y])
        raw.append(filter_type)
        if filter_type == 0:
            raw += line
        elif filter_type == 1:  # Sub
            raw += bytes(
                (line[i] - (line[i - 3] if i >= 3 else 0)) & 0xFF
                for i in range(len(line))
            )
        elif filter_type == 2:  # Up
            raw += bytes((line[i] - prev[i]) & 0xFF for i in range(len(line)))
        else:
            raise ValueError(f"encode supports filter 0/1/2, not {filter_type}")
        prev = line
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """16-bit PCM RIFF/WAVE → (sample_rate, n_channels, samples) with
    samples as interleaved signed ints.  Walks the chunk list (so extra
    chunks like LIST/fact are skipped); raises ValueError for non-PCM or
    non-16-bit encodings."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt != 1:
                raise ValueError(f"only PCM supported (format tag {fmt})")
            if bits != 16:
                raise ValueError(f"only 16-bit samples supported (got {bits})")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    samples = list(struct.unpack(f"<{len(data) // 2}h", data[: (len(data) // 2) * 2]))
    return rate, channels, samples


def encode_wav(samples: list[int], rate: int = 16000, channels: int = 1) -> bytes:
    """Inverse of :func:`decode_wav` (16-bit PCM) — test-fixture writer."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.StringType(), True),  # JSON sidecar
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministically synthesize a media table from documents (payload =
    utf-8 bytes of the text; stands in for crawled image bytes)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/png").alias("mime"),
        F.col("text").cast("binary").alias("payload"),
        F.to_json(F.struct(F.col("n_chars").alias("orig_len"))).alias("meta"),
    )


def _fake_decode(payload: bytes | None, dim: int) -> tuple[int, int, int, list[float]]:
    """Deterministic stand-in decode: dimensions + features from the
    content digest.  Pure function of bytes -> reproducible tests."""
    if payload is None:
        return 0, 0, 0, [0.0] * dim
    d = hashlib.sha256(payload).digest()
    width = 64 + d[0]
    height = 64 + d[1]
    feats = [((d[i % 32] / 255.0) * 2.0 - 1.0) for i in range(dim)]
    return len(payload), width, height, feats


def decode_image_any(
    payload: bytes,
) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Magic-byte dispatch over the real-decode image tier: BMP
    (:func:`decode_bmp`), PNG (:func:`decode_png`) or GIF87a/89a
    (functions/gif.py, first composited frame) → (w, h, rows).  Raises
    ValueError for anything else."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from ..functions.gif import decode_gif

        return decode_gif(payload)
    raise ValueError("not a BMP, PNG, or GIF payload")


def _bmp_features(payload: bytes, dim: int) -> tuple[int, int, int, list[float]]:
    """Real decode + feature-extract for BMP/PNG/GIF payloads: features[0:3]
    are the channel means in [0,1]; the remaining dim-3 slots are a
    normalized luminance histogram.  Pure pixel arithmetic — pinned by a
    pytest with hand-computed values."""
    w, h, rows = decode_image_any(payload)
    n = w * h
    sums = [0, 0, 0]
    n_bins = max(dim - 3, 1)
    hist = [0] * n_bins
    for row in rows:
        for r, g, b in row:
            sums[0] += r
            sums[1] += g
            sums[2] += b
            lum = (r * 299 + g * 587 + b * 114) // 1000  # integer Rec.601
            hist[min(lum * n_bins // 256, n_bins - 1)] += 1
    feats = [s / (255.0 * n) for s in sums] + [c / n for c in hist]
    return len(payload), w, h, feats[:dim]


def decode_images(media: DataFrame, dim: int = 16, fake: bool = True) -> DataFrame:
    """mapInPandas decode/feature-extract.  Batch shape: the function
    receives an ITERATOR of pandas DataFrames (one per Arrow batch) and
    yields result batches — constant memory regardless of partition size.

    ``fake=False`` really decodes uncompressed 24-bit BMP payloads
    (stdlib ``struct``, :func:`decode_bmp`), 8-bit RGB/RGBA
    non-interlaced PNG (stdlib ``zlib``, :func:`decode_png`) and GIF
    (functions/gif.py), and raises ``NotImplementedError`` for
    unrecognized formats."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fake:
                rows = [_fake_decode(p, dim) for p in pdf["payload"]]
            else:
                rows = []
                for p in pdf["payload"]:
                    if p is None:
                        rows.append((0, 0, 0, [0.0] * dim))
                        continue
                    try:
                        rows.append(_bmp_features(bytes(p), dim))
                    except ValueError as e:
                        raise NotImplementedError(
                            "real decode supports uncompressed 24-bit BMP, "
                            "8-bit RGB/RGBA PNG, and GIF "
                            "(stdlib+numpy); other "
                            "formats need PIL/libvips — "
                            f"payload rejected: {e}"
                        ) from e
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "n_bytes": [r[0] for r in rows],
                    "width": [r[1] for r in rows],
                    "height": [r[2] for r in rows],
                    "features": [r[3] for r in rows],
                }
            )

    return media.mapInPandas(fn, IMAGE_FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def resize_images(
    media: DataFrame, width: int = 32, height: int = 32, fake: bool = True
) -> DataFrame:
    """mapInPandas image resize.  ``fake=False`` really resizes
    uncompressed 24-bit BMP and 8-bit RGB/RGBA PNG payloads —
    :func:`decode_image_any` → nearest-neighbor resample → re-encode as
    PNG for a PNG source and as BMP otherwise, all stdlib+numpy — and
    raises ``NotImplementedError`` for other formats.  The fake path
    emits a deterministic pseudo-thumbnail (content digest tiled to
    width·height bytes) so batch shape, schema, and payload-size
    discipline are exercised on arbitrary payloads: output payloads are
    bounded by the target dimensions regardless of input size — the
    property that matters for shuffle planning downstream."""

    def _resize_bmp(p: bytes) -> bytes:
        is_png = p[:8] == _PNG_SIG
        w0, h0, rows = decode_image_any(p)
        out_rows = [
            [rows[y * h0 // height][x * w0 // width] for x in range(width)]
            for y in range(height)
        ]
        if is_png:
            return encode_png(out_rows)
        return encode_bmp(out_rows)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf["payload"]:
                if p is None:
                    out.append(None)
                elif fake:
                    d = hashlib.sha256(p).digest()
                    need = width * height
                    out.append((d * (need // len(d) + 1))[:need])
                else:
                    try:
                        out.append(_resize_bmp(bytes(p)))
                    except ValueError as e:
                        raise NotImplementedError(
                            "real resize supports uncompressed 24-bit BMP "
                            "and 8-bit RGB/RGBA PNG (stdlib+numpy); other "
                            "formats need PIL/libvips — "
                            f"payload rejected: {e}"
                        ) from e
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "width": [width] * len(pdf),
                    "height": [height] * len(pdf),
                    "payload": out,
                }
            )

    return media.where(F.col("kind") == "image").mapInPandas(fn, RESIZED_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("mfcc", T.ArrayType(T.FloatType()), True),
    ]
)


def _wav_features(payload: bytes, n_mfcc: int) -> tuple[int, int, list[float]]:
    """Real decode + feature-extract for 16-bit PCM WAV: duration from
    the actual sample rate, features = RMS energy per time stratum
    (n_mfcc equal slices of the mono mix, normalized to [0,1]).  These
    are honest sample-derived band energies — true cepstral MFCCs need
    librosa's mel/DCT stack, which this container does not ship."""
    rate, channels, samples = decode_wav(payload)
    n_frames = len(samples) // max(channels, 1)
    duration_ms = n_frames * 1000 // rate if rate else 0
    mono = [
        sum(samples[i * channels : (i + 1) * channels]) / max(channels, 1)
        for i in range(n_frames)
    ]
    feats = []
    for k in range(n_mfcc):
        lo = k * n_frames // n_mfcc
        hi = max((k + 1) * n_frames // n_mfcc, lo + 1)
        seg = mono[lo:hi] or [0.0]
        feats.append((sum(s * s for s in seg) / len(seg)) ** 0.5 / 32768.0)
    return len(payload), duration_ms, feats


def _flac_features(payload: bytes, n_mfcc: int) -> tuple[int, int, list[float]]:
    """Real decode + feature-extract for FLAC (functions/flac.py — the
    full RFC 9639 decoder: fixed/LPC prediction, rice partitions, stereo
    decorrelation, CRC-8/CRC-16/MD5 verified): same per-stratum RMS band
    energies as :func:`_wav_features`, normalized by the stream's own
    full scale (2^(bps-1))."""
    from ..functions.flac import decode_flac

    rate, channels, bps, samples = decode_flac(payload)
    n_frames = len(samples) // max(channels, 1)
    duration_ms = n_frames * 1000 // rate if rate else 0
    mono = [
        sum(samples[i * channels : (i + 1) * channels]) / max(channels, 1)
        for i in range(n_frames)
    ]
    full = float(1 << (bps - 1))
    feats = []
    for k in range(n_mfcc):
        lo = k * n_frames // n_mfcc
        hi = max((k + 1) * n_frames // n_mfcc, lo + 1)
        seg = mono[lo:hi] or [0.0]
        feats.append((sum(s * s for s in seg) / len(seg)) ** 0.5 / full)
    return len(payload), duration_ms, feats


def decode_audio(
    media: DataFrame, n_mfcc: int = 13, bytes_per_ms: int = 16, fake: bool = True
) -> DataFrame:
    """mapInPandas audio decode/feature plumbing (the audio member of the
    image/audio/video trio).  ``fake=False`` really decodes 16-bit PCM
    WAV payloads (stdlib ``struct``, :func:`decode_wav`) AND FLAC
    streams (functions/flac.py, the full RFC 9639 decoder) — duration
    from the actual sample rate, per-stratum RMS band energies as
    features — and raises ``NotImplementedError`` for lossy codecs
    (MP3/AAC need soundfile/librosa).  The fake path derives duration from
    payload size and a deterministic digest-based vector, exercising
    schema, Arrow batch shape and the array<float> handoff to the
    similarity operators on arbitrary payloads."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf["payload"]:
                if p is None:
                    rows.append((0, 0, [0.0] * n_mfcc))
                    continue
                if fake:
                    d = hashlib.sha256(p).digest()
                    rows.append(
                        (
                            len(p),
                            len(p) // bytes_per_ms,
                            [((d[i % 32] / 255.0) * 2.0 - 1.0) for i in range(n_mfcc)],
                        )
                    )
                else:
                    try:
                        pb = bytes(p)
                        if pb[:4] == b"fLaC":
                            rows.append(_flac_features(pb, n_mfcc))
                        else:
                            rows.append(_wav_features(pb, n_mfcc))
                    except ValueError as e:
                        raise NotImplementedError(
                            "real decode supports 16-bit PCM WAV and "
                            "FLAC (stdlib); lossy codecs need "
                            f"soundfile/librosa — payload rejected: {e}"
                        ) from e
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "n_bytes": [r[0] for r in rows],
                    "duration_ms": [r[1] for r in rows],
                    "mfcc": [r[2] for r in rows],
                }
            )

    return media.where(F.col("kind") == "audio").mapInPandas(fn, AUDIO_FEATURES_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame
    index (the decode itself is the same stub).  Emits (media_id,
    frame_idx, payload) — the explode pattern a real ffmpeg-backed UDF
    would follow."""
    n_frames = F.greatest(
        (F.length(F.col("payload")) / 1000).cast("int"), F.lit(1)
    )
    return (
        media.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
            ).alias("frame_idx"),
            "payload",
        )
    )


# ---------------------------------------------------------------------------
# Real video tier: Y4M (YUV4MPEG2) — the uncompressed video container
# that, like BMP and 16-bit WAV, is parseable with the stdlib alone.
# ---------------------------------------------------------------------------


def decode_y4m(payload: bytes) -> tuple[int, int, str, list[bytes]]:
    """YUV4MPEG2 → (width, height, colorspace, y_planes) with one raw
    luma plane (w·h bytes) per frame.  Supports C420* (chroma planes
    w/2 · h/2) and C444 (full-size chroma); chroma is skipped — frame
    sampling and luma statistics only need Y.  Raises ValueError for
    non-Y4M bytes or unsupported colorspaces."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("missing stream-header newline")
    width = height = 0
    cs = "C420jpeg"  # spec default when omitted
    for tok in payload[9:nl].split():
        t = tok.decode("ascii", "replace")
        if t.startswith("W"):
            width = int(t[1:])
        elif t.startswith("H"):
            height = int(t[1:])
        elif t.startswith("C"):
            cs = t
    if width <= 0 or height <= 0:
        raise ValueError(f"bad dimensions {width}x{height}")
    if cs.startswith("C420"):
        chroma = 2 * ((width // 2) * (height // 2))
    elif cs == "C444":
        chroma = 2 * width * height
    else:
        raise ValueError(f"unsupported colorspace {cs}")
    y_size = width * height
    frames: list[bytes] = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError(f"bad FRAME header at byte {pos}")
        start = fnl + 1
        end = start + y_size + chroma
        if end > len(payload):
            raise ValueError("truncated frame payload")
        frames.append(payload[start : start + y_size])
        pos = end
    return width, height, cs, frames


def encode_y4m(y_planes: list[bytes], width: int, height: int) -> bytes:
    """Inverse of :func:`decode_y4m` (C444; chroma filled with the
    neutral 128) — test-fixture writer."""
    head = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C444\n".encode()
    chroma = b"\x80" * (2 * width * height)
    body = b"".join(b"FRAME\n" + y + chroma for y in y_planes)
    return head + body


VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("y_mean_x1000", T.LongType(), True),
        T.StructField("y_plane", T.BinaryType(), True),
    ]
)


def decode_video_frames(
    media: DataFrame, every_n: int = 10, fake: bool = True
) -> DataFrame:
    """mapInPandas frame sampling with decode: every ``every_n``-th frame
    becomes one output row carrying the raw luma plane and its integer
    mean (×1000, floor).  ``fake=False`` really parses Y4M payloads
    (:func:`decode_y4m`, stdlib) and animated GIF (functions/gif.py —
    a REAL compressed codec: composited frames → integer Rec.601 luma,
    the same ×1000 floor as :func:`_bmp_features`), and raises for
    other codecs (ffmpeg territory); the fake path synthesizes
    digest-based frames so the explode shape is exercised on arbitrary
    payloads.  Output payload volume is bounded by (frames/every_n)·w·h
    regardless of input container overhead — the property shuffle
    planning needs."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    continue
                if fake:
                    d = hashlib.sha256(p).digest()
                    n_frames = max(len(p) // 1000, 1)
                    for i in range(0, n_frames, every_n):
                        y = bytes(d[(i + j) % 32] for j in range(16))
                        out.append(
                            (mid, i, 4, 4, sum(y) * 1000 // len(y), y)
                        )
                    continue
                try:
                    pb = bytes(p)
                    if pb[:6] in (b"GIF87a", b"GIF89a"):
                        from ..functions.gif import decode_gif_frames

                        w, h, gframes = decode_gif_frames(pb)
                        frames = [
                            bytes(
                                (r * 299 + g * 587 + b * 114) // 1000
                                for row in rgb
                                for r, g, b in row
                            )
                            for _delay, rgb in gframes
                        ]
                    else:
                        w, h, _cs, frames = decode_y4m(pb)
                except ValueError as e:
                    raise NotImplementedError(
                        "real decode supports uncompressed Y4M and "
                        "animated GIF (stdlib); other codecs need "
                        f"ffmpeg — {e}"
                    ) from e
                for i in range(0, len(frames), every_n):
                    y = frames[i]
                    out.append(
                        (mid, i, w, h, sum(y) * 1000 // len(y), y)
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "frame_idx", "width", "height",
                    "y_mean_x1000", "y_plane",
                ],
            )

    return media.where(F.col("kind") == "video").mapInPandas(
        fn, VIDEO_FRAMES_SCHEMA
    )
