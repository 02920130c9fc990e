"""Multimodal columns: audio as opaque binary payloads.

The Spark-side plumbing (schema, Arrow batch shapes, mapInPandas
iterator contract) is real and tested.  Decode has two honest tiers:

* ``fake=False`` REALLY decodes the formats that are parseable with the
  stdlib alone — 16-bit PCM WAV (:func:`decode_wav`) and FLAC
  (functions/flac.py) — sample values pytest-pinned, and raises
  ``NotImplementedError`` for anything else (lossy audio codecs need
  soundfile/librosa, which this container does not ship).
* ``decode_audio(..., fake=True)`` substitutes a deterministic
  content-hash "decode" so the pipeline shape is exercised end to end on
  arbitrary payloads.

Design notes for 100 TB of media:
* binary payloads stay columnar (parquet binary) — never collect, never
  base64 through the driver,
* decode runs in mapInPandas with small Arrow batches
  (spark.sql.execution.arrow.maxRecordsPerBatch) so a batch of clips
  bounds executor memory,
* feature vectors come back as array<float> ready for the similarity
  operators (cosine_topk / rhp_ann_topk).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


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
    """mapInPandas audio decode/feature plumbing over the ``kind =
    'audio'`` rows of a media table (media_id, kind, mime, payload,
    meta).  ``fake=False`` really decodes 16-bit PCM WAV payloads (stdlib ``struct``, :func:`decode_wav`) AND FLAC
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
