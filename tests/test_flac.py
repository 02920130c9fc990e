"""FLAC codec (functions/flac.py): decoder-vs-own-encoder roundtrips
over every subframe type / stereo decorrelation / rice partition order,
pinned CRC test vectors, a fully hand-assembled bitstream (independent
of the encoder), wasted-bits and escape-partition paths, the format's
three integrity checks, and the Spark wiring (decode_audio mapInPandas).
No FLAC library exists on this host, so these self-fixtures are the
differential."""

from __future__ import annotations

import random
import struct

import pytest
from pyspark.sql import Row

from agenticknowledgegraphconstructionsystem_spark.functions.flac import (
    _BitWriter,
    crc8,
    crc16,
    decode_flac,
    encode_flac,
)


def _mono(n=700, seed=7, scale=30000):
    rng = random.Random(seed)
    return [rng.randint(-scale, scale) for _ in range(n)]


def _stereo(n=512, seed=9):
    rng = random.Random(seed)
    l = [rng.randint(-20000, 20000) for _ in range(n)]
    r = [v + rng.randint(-100, 100) for v in l]
    return l, r


def test_crc_pinned_vectors():
    """Spec polynomials against the standard check input: CRC-8 (0x07,
    init 0) and CRC-16/BUYPASS (0x8005, init 0, no reflect)."""
    assert crc8(b"123456789") == 0xF4
    assert crc16(b"123456789") == 0xFEE8


@pytest.mark.parametrize(
    "mode",
    ["verbatim", ("fixed", 0), ("fixed", 1), ("fixed", 2), ("fixed", 3),
     ("fixed", 4), ("lpc", [2, -1], 1, 12)],
)
def test_mono_roundtrip_every_subframe_type(mode):
    mono = _mono()
    rate, ch, bps, got = decode_flac(encode_flac([mono], mode=mode))
    assert (rate, ch, bps) == (16000, 1, 16) and got == mono


@pytest.mark.parametrize("stereo", ["independent", "left_side", "right_side", "mid_side"])
def test_stereo_roundtrip_every_decorrelation(stereo):
    l, r = _stereo()
    inter = [v for pair in zip(l, r) for v in pair]
    payload = encode_flac([l, r], stereo=stereo, mode=("fixed", 1))
    assert decode_flac(payload) == (16000, 2, 16, inter)


def test_rice_partitions_and_multi_frame():
    mono = _mono(1024)
    payload = encode_flac(
        [mono], mode=("fixed", 2), block_size=256, partition_order=2
    )
    assert decode_flac(payload)[3] == mono


@pytest.mark.parametrize("bps", [8, 16, 24])
def test_bit_depths(bps):
    scale = (1 << (bps - 1)) - 1
    mono = _mono(300, seed=bps, scale=scale)
    assert decode_flac(encode_flac([mono], bps=bps)) == (16000, 1, bps, mono)


def test_constant_subframe_and_uncommon_rate():
    """11025 Hz has no rate code → the 16-bit end-of-header field."""
    payload = encode_flac([[42] * 192], mode="constant", rate=11025,
                          block_size=192)
    assert decode_flac(payload) == (11025, 1, 16, [42] * 192)


def test_lpc_with_identity_coefficient_equals_fixed1():
    """An order-1 LPC with coef 1, shift 0 predicts s[i-1] — exactly the
    fixed-order-1 predictor; both must reconstruct the same samples."""
    mono = _mono(256, seed=3)
    a = decode_flac(encode_flac([mono], mode=("lpc", [1], 0, 4)))
    b = decode_flac(encode_flac([mono], mode=("fixed", 1)))
    assert a == b and a[3] == mono


def test_hand_assembled_bitstream():
    """A minimal stream assembled byte-by-byte WITHOUT the encoder:
    4-sample 8-bit mono verbatim frame, 8-bit blocksize field, rate code
    5 (16 kHz), zero MD5 (verification skipped per spec)."""
    si = bytearray()
    si += struct.pack(">HH", 4, 4)          # min/max blocksize
    si += (0).to_bytes(3, "big") * 2        # min/max framesize
    # rate 16000 (20 bits) | channels-1=0 (3) | bps-1=7 (5) | total=4 (36)
    si += bytes([16000 >> 12, (16000 >> 4) & 0xFF,
                 ((16000 & 0xF) << 4) | (0 << 1) | (7 >> 4),
                 ((7 & 0xF) << 4) | 0, 0, 0, 0, 4])
    si += b"\x00" * 16                      # md5 = unset
    assert len(si) == 34
    hdr = bytes([0xFF, 0xF8, 0x65, 0x02, 0x00, 0x03])
    frame = hdr + bytes([crc8(hdr)])
    # subframe: pad 0 | type 000001 (verbatim) | wasted 0 → 0x02, then
    # the four signed 8-bit samples
    frame += bytes([0x02, 0x01, 0xFE, 0x03, 0x00])
    frame += struct.pack(">H", crc16(frame))
    payload = b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + bytes(si) + frame
    assert decode_flac(payload) == (16000, 1, 8, [1, -2, 3, 0])


def test_wasted_bits_and_escape_partition():
    """Hand-written subframes for the two paths the fixture encoder
    never emits: a wasted-bits verbatim subframe and an escaped raw
    residual partition."""
    # frame header: 16 kHz, 8-bit blocksize field (blocksize 4), 8 bps
    hdr = bytes([0xFF, 0xF8, 0x65, 0x02, 0x00, 0x03])
    w = _BitWriter()
    for b in hdr + bytes([crc8(hdr)]):
        w.write(b, 8)
    # verbatim, wasted flag set, unary 1 → wasted = 1; samples 7 bits
    w.write(0, 1); w.write(1, 6); w.write(1, 1); w.write(1, 1)
    for v in (1, -2, 3, 0):
        w.write(v, 7)
    w.align()
    f = w.bytes()
    payload1 = _wrap_stream(f + struct.pack(">H", crc16(f)))
    assert decode_flac(payload1)[3] == [2, -4, 6, 0]

    w = _BitWriter()
    for b in hdr + bytes([crc8(hdr)]):
        w.write(b, 8)
    # fixed order 0 → residual = samples; RICE method, porder 0, param
    # 0xF = escape, 5-bit raw size 8, raw signed residuals
    w.write(0, 1); w.write(8, 6); w.write(0, 1)
    w.write(0, 2); w.write(0, 4); w.write(0xF, 4); w.write(8, 5)
    for v in (1, -2, 3, 0):
        w.write(v, 8)
    w.align()
    f = w.bytes()
    payload2 = _wrap_stream(f + struct.pack(">H", crc16(f)))
    assert decode_flac(payload2)[3] == [1, -2, 3, 0]


def _wrap_stream(frame: bytes) -> bytes:
    si = bytearray()
    si += struct.pack(">HH", 4, 4)
    si += (0).to_bytes(3, "big") * 2
    si += bytes([16000 >> 12, (16000 >> 4) & 0xFF,
                 ((16000 & 0xF) << 4) | (0 << 1) | (7 >> 4),
                 ((7 & 0xF) << 4) | 0, 0, 0, 0, 4])
    si += b"\x00" * 16
    return b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + bytes(si) + frame


def test_integrity_checks_raise():
    mono = _mono(300)
    good = encode_flac([mono])
    # flip a payload bit → frame CRC-16
    bad = bytearray(good); bad[60] ^= 0x40
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(bad))
    # tamper the STREAMINFO MD5 (frames untouched, CRCs still pass)
    bad = bytearray(good); bad[30] ^= 0x01
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(bytes(bad))
    with pytest.raises(ValueError, match="fLaC"):
        decode_flac(b"not a flac stream")


def test_decode_audio_real_flac_through_mapinpandas(spark):
    """The Spark wiring: a mixed WAV+FLAC batch through the real-decode
    path; the FLAC half must yield the same band energies as its WAV
    twin (identical samples, full-scale normalization)."""
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    samples = [0] * 4000 + [16384, -16384] * 2000
    media = spark.createDataFrame(
        [
            Row(media_id=1, kind="audio", mime="audio/wav",
                payload=encode_wav(samples, rate=8000), meta="{}"),
            Row(media_id=2, kind="audio", mime="audio/flac",
                payload=encode_flac([samples], rate=8000, mode=("fixed", 1)),
                meta="{}"),
        ]
    )
    got = {r["media_id"]: r for r in
           decode_audio(media, n_mfcc=4, fake=False).collect()}
    assert got[2]["duration_ms"] == got[1]["duration_ms"] == 1000
    for a, b in zip(got[1]["mfcc"], got[2]["mfcc"]):
        assert abs(a - b) < 1e-6
    # and the FLAC payload is smaller than its PCM twin (it compressed)
    assert got[2]["n_bytes"] < got[1]["n_bytes"]
