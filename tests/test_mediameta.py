"""Header-only media metadata probes (functions/mediameta.py) + the
media_metadata catalog operator (operators/multimodal.py).  Fixtures are
built by the sibling writers (write_mp3 / build_mp4 / encode_*) with
hand-computable expected values."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from agenticknowledgegraphconstructionsystem_spark.functions.gif import encode_gif
from agenticknowledgegraphconstructionsystem_spark.functions.jpeg import encode_jpeg
from agenticknowledgegraphconstructionsystem_spark.functions.mediameta import (
    build_mp4,
    parse_mp4,
    probe_image_dims,
    scan_mp3,
    write_mp3,
)
from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
    encode_bmp,
    encode_png,
    encode_wav,
    encode_y4m,
)


def test_probe_image_dims_all_formats(unsupported_image_headers):
    rows = [[(10, 20, 30)] * 5 for _ in range(3)]
    assert probe_image_dims(encode_bmp(rows)) == ("bmp", 5, 3)
    assert probe_image_dims(encode_png(rows)) == ("png", 5, 3)
    rows8 = [[(10, 20, 30)] * 16 for _ in range(8)]
    assert probe_image_dims(encode_jpeg(rows8)) == ("jpeg", 16, 8)
    # progressive JPEG still yields dims (SOF2 carries them) even though
    # full decode honestly refuses
    b = bytearray(encode_jpeg(rows8))
    i = b.index(bytes([0xFF, 0xC0]))
    b[i + 1] = 0xC2
    assert probe_image_dims(bytes(b)) == ("jpeg", 16, 8)
    # GIF dims come straight from the logical screen descriptor
    gif = encode_gif((5, 3), [{"rows": [[0] * 5] * 3}],
                     global_palette=[(1, 2, 3), (4, 5, 6)])
    assert probe_image_dims(gif) == ("gif", 5, 3)
    # TIFF and WebP headers are not probed: unrecognized like any other bytes
    for payload in unsupported_image_headers:
        with pytest.raises(ValueError, match="unrecognized image payload"):
            probe_image_dims(payload)
    with pytest.raises(ValueError):
        probe_image_dims(b"II*\x00\xff\xff\xff\xff broken IFD")
    with pytest.raises(ValueError):
        probe_image_dims(b"\x00\x01 not an image at all")


def test_scan_mp3_cbr_vbr_and_id3():
    # 38 CBR frames at 128 kbps / 44100 Hz → 38*1152/44100 s = 992 ms
    dur, kbps, rate, n = scan_mp3(write_mp3([128] * 38))
    assert (dur, kbps, rate, n) == (992, 128, 44100, 38)
    # ID3v2 tag skipped
    dur2, kbps2, rate2, n2 = scan_mp3(write_mp3([128] * 38, id3_bytes=500))
    assert (dur2, kbps2, rate2, n2) == (992, 128, 44100, 38)
    # VBR: byte-true mean bitrate between the extremes
    _d, kbps3, _r, n3 = scan_mp3(write_mp3([64] * 10 + [320] * 10))
    assert n3 == 20 and 64 < kbps3 < 320 and kbps3 == 192
    # 48 kHz path
    _d, _k, rate4, _n = scan_mp3(write_mp3([96] * 4, sample_rate=48000))
    assert rate4 == 48000
    with pytest.raises(ValueError):
        scan_mp3(b"\x00\x01\x02 not audio")


def test_parse_mp4_tracks_and_dims():
    payload = build_mp4(
        duration_ms=90_500,
        tracks=[
            {"handler": "vide", "codec": "avc1", "width": 1920, "height": 1080},
            {"handler": "soun", "codec": "mp4a"},
        ],
    )
    dur, tracks = parse_mp4(payload)
    assert dur == 90_500
    assert [t["handler"] for t in tracks] == ["vide", "soun"]
    assert tracks[0]["codec"] == "avc1"
    assert (tracks[0]["width"], tracks[0]["height"]) == (1920, 1080)
    assert tracks[1]["codec"] == "mp4a" and tracks[1]["width"] == 0
    with pytest.raises(ValueError):
        parse_mp4(b"\x00\x00\x00\x08free")


def test_media_metadata_catalog_through_mapinpandas(spark):
    """One catalog pass over a mixed-media table: every format resolves
    its header metadata, unknown bytes degrade to 'unknown' (never an
    executor exception), NULL payloads → 'missing'."""
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        media_metadata,
    )

    rows8 = [[(9, 8, 7)] * 16 for _ in range(8)]
    fixtures = {
        1: ("image", encode_jpeg(rows8)),
        2: ("image", encode_png(rows8)),
        3: ("audio", write_mp3([128] * 38)),
        4: ("audio", encode_wav([0] * 32000, rate=16000)),
        5: ("video", build_mp4(12_000, [{"handler": "vide", "codec": "avc1",
                                         "width": 640, "height": 360}])),
        6: ("video", encode_y4m([bytes(16)] * 7, 4, 4)),
        7: ("image", b"GIF89a..whatever.."),
        8: ("image", None),
    }
    media = spark.createDataFrame(
        [(k, kind, "application/octet-stream", p, "{}")
         for k, (kind, p) in fixtures.items()],
        schema="media_id long, kind string, mime string, payload binary, meta string",
    )
    got = {r["media_id"]: r for r in media_metadata(media).collect()}
    assert got[1]["format"] == "jpeg" and (got[1]["width"], got[1]["height"]) == (16, 8)
    assert got[2]["format"] == "png" and got[2]["n_bytes"] == len(fixtures[2][1])
    assert got[3]["format"] == "mp3" and got[3]["duration_ms"] == 992
    assert got[3]["bitrate_kbps"] == 128 and got[3]["sample_rate"] == 44100
    assert got[4]["format"] == "wav" and got[4]["duration_ms"] == 2000
    assert got[4]["sample_rate"] == 16000 and got[4]["codecs"] == "pcm_s16le"
    assert got[5]["format"] == "mp4" and got[5]["duration_ms"] == 12_000
    assert (got[5]["width"], got[5]["height"]) == (640, 360)
    assert got[5]["codecs"] == "avc1" and got[5]["n_tracks"] == 1
    assert got[6]["format"] == "y4m" and (got[6]["width"], got[6]["height"]) == (4, 4)
    assert got[6]["n_tracks"] == 7  # frame count rides the track slot
    assert got[7]["format"] == "unknown" and got[7]["width"] is None
    assert got[8]["format"] == "missing" and got[8]["n_bytes"] is None


def test_scan_ogg_vorbis_and_opus():
    from agenticknowledgegraphconstructionsystem_spark.functions.mediameta import (
        build_ogg,
        scan_ogg,
    )

    assert scan_ogg(build_ogg("vorbis", 2, 44100, n_samples=88200)) == (
        "vorbis", 2, 44100, 2000
    )
    # Opus granules tick at 48 kHz minus pre-skip, whatever the input rate
    assert scan_ogg(build_ogg("opus", 1, 16000, n_samples=24000)) == (
        "opus", 1, 16000, 500
    )
    with pytest.raises(ValueError, match="OggS"):
        scan_ogg(b"not ogg")
    with pytest.raises(ValueError, match="Vorbis/Opus"):
        scan_ogg(b"OggS\x00\x02" + b"\x00" * 20 + b"\x01\x03xxx")


def test_media_metadata_probes_ogg(spark):
    from agenticknowledgegraphconstructionsystem_spark.functions.mediameta import (
        build_ogg,
    )
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        media_metadata,
    )

    media = spark.createDataFrame(
        [Row(media_id=9, kind="audio", mime="audio/ogg",
             payload=build_ogg("opus", 2, 48000, n_samples=96000), meta="{}")]
    )
    got = media_metadata(media).collect()[0]
    assert (got["format"], got["codecs"], got["n_tracks"]) == ("ogg", "opus", 2)
    assert got["duration_ms"] == 2000 and got["sample_rate"] == 48000
