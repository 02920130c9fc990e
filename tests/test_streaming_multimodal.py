"""Multimodal plumbing tests, and the checkpointed streaming drain behind
the kg_stream_mentions gate."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
    decode_images,
    frame_sample,
    media_from_documents,
)


def test_decode_images_plumbing(spark, tmp_path):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"payload {i}", n_chars=9) for i in range(10)]
    )
    media = media_from_documents(docs)
    feats = decode_images(media, dim=16).collect()
    assert len(feats) == 10
    by_id = {r["media_id"]: r for r in feats}
    assert all(len(r["features"]) == 16 for r in feats)
    assert by_id[0]["n_bytes"] == len(b"payload 0")
    # deterministic: second run identical
    feats2 = decode_images(media, dim=16).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_decode_images_real_path_raises(spark, unsupported_image_headers):
    import pytest

    docs = spark.createDataFrame([Row(doc_id=0, text="x", n_chars=1)])
    with pytest.raises(Exception, match="NotImplementedError|real image decode"):
        decode_images(media_from_documents(docs), fake=False).collect()
    # TIFF, WebP and image/jpeg fall through decode_image_any's dispatch
    # unrecognized
    for payload in unsupported_image_headers:
        media = spark.createDataFrame(
            [Row(media_id=1, kind="image", mime="image/x", payload=payload, meta="{}")]
        )
        with pytest.raises(Exception, match="NotImplementedError"):
            decode_images(media, fake=False).collect()


def test_frame_sample(spark):
    media = spark.createDataFrame(
        [
            Row(media_id=1, kind="video", mime="video/mp4", payload=b"x" * 25000, meta="{}"),
            Row(media_id=2, kind="image", mime="image/png", payload=b"y", meta="{}"),
        ]
    )
    got = [(r["media_id"], r["frame_idx"]) for r in frame_sample(media, every_n=10).collect()]
    assert got == [(1, 0), (1, 10), (1, 20)]  # 25 frames, every 10th; image excluded


# -- real stdlib decode tier (round-4: BMP pixels / WAV samples) --------------


def test_bmp_roundtrip_and_pixel_values():
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    # 2x2: red, green / blue, white — hand-checkable
    rows = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    payload = encode_bmp(rows)
    w, h, got = decode_bmp(payload)
    assert (w, h) == (2, 2)
    assert got == rows
    # odd width exercises the 4-byte row padding path
    rows3 = [[(1, 2, 3), (4, 5, 6), (7, 8, 9)]]
    assert decode_bmp(encode_bmp(rows3)) == (3, 1, rows3)


def test_wav_roundtrip_and_sample_values():
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    samples = [0, 1000, -1000, 32767, -32768, 12345]
    rate, ch, got = decode_wav(encode_wav(samples, rate=8000))
    assert (rate, ch) == (8000, 1)
    assert got == samples


def test_decode_images_real_bmp_through_mapinpandas(spark):
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        encode_bmp,
    )

    # solid red 4x2 and solid white 2x2
    red = encode_bmp([[(255, 0, 0)] * 4] * 2)
    white = encode_bmp([[(255, 255, 255)] * 2] * 2)
    media = spark.createDataFrame(
        [
            Row(media_id=1, kind="image", mime="image/bmp", payload=red, meta="{}"),
            Row(media_id=2, kind="image", mime="image/bmp", payload=white, meta="{}"),
        ]
    )
    got = {r["media_id"]: r for r in decode_images(media, dim=8, fake=False).collect()}
    assert (got[1]["width"], got[1]["height"]) == (4, 2)
    f1 = got[1]["features"]
    assert abs(f1[0] - 1.0) < 1e-6 and abs(f1[1]) < 1e-6 and abs(f1[2]) < 1e-6
    # red's Rec.601 luminance = 76 -> bin 76*5//256 = 1 of 5 histogram bins
    assert abs(f1[3 + 1] - 1.0) < 1e-6
    f2 = got[2]["features"]
    assert all(abs(x - 1.0) < 1e-6 for x in f2[:3])
    assert abs(f2[3 + 4] - 1.0) < 1e-6  # white: top luminance bin


def test_png_roundtrip_filters_and_rejections():
    """decode_png: roundtrip through encode_png filters 0/1/2; RGBA (color
    type 6) decodes with alpha dropped; Paeth (filter 4) decoded against
    an independently hand-filtered stream; non-PNG / interlaced raise."""
    import struct
    import zlib as _z

    import pytest

    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png,
        encode_png,
    )

    rows = [[(255, 0, 0), (0, 255, 0), (17, 34, 51)],
            [(0, 0, 255), (255, 255, 255), (1, 2, 3)]]
    for ft in (0, 1, 2):
        assert decode_png(encode_png(rows, filter_type=ft)) == (3, 2, rows)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", _z.crc32(t + d))

    # RGBA + Paeth, hand-filtered (reference implementation of spec §9.4)
    raw = bytearray()
    prev = bytes(3 * 4)
    rgba = [[px + (200,) for px in r] for r in rows]
    for y in range(2):
        line = b"".join(bytes(px) for px in rgba[y])
        enc = bytearray([4])
        for i in range(len(line)):
            a = line[i - 4] if i >= 4 else 0
            b_ = prev[i]
            c = prev[i - 4] if i >= 4 else 0
            p = a + b_ - c
            pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
            enc.append((line[i] - pred) & 0xFF)
        raw += enc
        prev = line
    png = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", _z.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png) == (3, 2, rows)  # alpha dropped, pixels exact

    with pytest.raises(ValueError):
        decode_png(b"GIF89a not a png")
    interlaced = _PNG_SIG + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)
    )
    with pytest.raises(ValueError):
        decode_png(interlaced)
    with pytest.raises(ValueError):  # corrupt deflate stream
        decode_png(
            _PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", b"\x00bad")
            + chunk(b"IEND", b"")
        )


def test_decode_and_resize_real_png_through_mapinpandas(spark):
    """The driver-facing PNG path: mixed BMP+PNG media decode to identical
    features for identical pixels, and resize re-encodes PNG→PNG."""
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png,
        encode_bmp,
        encode_png,
        resize_images,
    )

    red_rows = [[(255, 0, 0)] * 4] * 2
    media = spark.createDataFrame(
        [
            Row(media_id=1, kind="image", mime="image/bmp",
                payload=encode_bmp(red_rows), meta="{}"),
            Row(media_id=2, kind="image", mime="image/png",
                payload=encode_png(red_rows), meta="{}"),
        ]
    )
    got = {r["media_id"]: r for r in decode_images(media, dim=8, fake=False).collect()}
    assert (got[2]["width"], got[2]["height"]) == (4, 2)
    # same pixels → bit-identical features regardless of container
    assert list(got[1]["features"]) == list(got[2]["features"])

    split = [[(255, 0, 0)] * 2 + [(0, 0, 255)] * 2 for _ in range(4)]
    media_png = spark.createDataFrame(
        [Row(media_id=3, kind="image", mime="image/png",
             payload=encode_png(split), meta="{}")]
    )
    out = resize_images(media_png, width=2, height=2, fake=False).collect()[0]
    payload = bytes(out["payload"])
    assert payload[:8] == _PNG_SIG  # PNG stays PNG
    assert decode_png(payload) == (
        2, 2, [[(255, 0, 0), (0, 0, 255)], [(255, 0, 0), (0, 0, 255)]]
    )


def test_decode_audio_real_wav_through_mapinpandas(spark):
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    # 1 s at 8 kHz: first half silent, second half full-scale square wave
    samples = [0] * 4000 + [16384, -16384] * 2000
    media = spark.createDataFrame(
        [Row(media_id=7, kind="audio", mime="audio/wav",
             payload=encode_wav(samples, rate=8000), meta="{}")]
    )
    got = decode_audio(media, n_mfcc=4, fake=False).collect()[0]
    assert got["duration_ms"] == 1000
    m = got["mfcc"]
    assert m[0] < 1e-9 and m[1] < 1e-9          # silent strata
    assert abs(m[2] - 0.5) < 1e-6 and abs(m[3] - 0.5) < 1e-6  # |16384|/32768


def test_resize_images_real_bmp_nearest_neighbor(spark):
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
        resize_images,
    )

    # left half red, right half blue, 4x4 -> 2x2 keeps the split
    src = encode_bmp(
        [[(255, 0, 0)] * 2 + [(0, 0, 255)] * 2 for _ in range(4)]
    )
    media = spark.createDataFrame(
        [Row(media_id=1, kind="image", mime="image/bmp", payload=src, meta="{}")]
    )
    out = resize_images(media, width=2, height=2, fake=False).collect()[0]
    w, h, rows = decode_bmp(bytes(out["payload"]))
    assert (w, h) == (2, 2)
    assert rows == [[(255, 0, 0), (0, 0, 255)], [(255, 0, 0), (0, 0, 255)]]


def test_bmp_wav_roundtrip_property():
    """Hypothesis: encode/decode are exact inverses for arbitrary pixel
    grids and sample vectors (24-bit BMP incl. padded odd widths; 16-bit
    PCM full range)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    px = st.tuples(
        st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)
    )

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 7),
        st.integers(1, 5),
        st.data(),
    )
    def bmp_case(w, h, data):
        rows = [[data.draw(px) for _ in range(w)] for _ in range(h)]
        assert decode_bmp(encode_bmp(rows)) == (w, h, rows)

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(st.integers(-32768, 32767), min_size=1, max_size=200),
        st.sampled_from([8000, 16000, 44100]),
    )
    def wav_case(samples, rate):
        r, ch, got = decode_wav(encode_wav(samples, rate=rate))
        assert (r, ch, got) == (rate, 1, samples)

    bmp_case()
    wav_case()


def test_y4m_roundtrip_and_frame_sampling(spark):
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        decode_video_frames,
        decode_y4m,
        encode_y4m,
    )

    # 5 frames of 2x2 solid luma 0, 50, 100, 150, 200
    planes = [bytes([v] * 4) for v in (0, 50, 100, 150, 200)]
    payload = encode_y4m(planes, 2, 2)
    assert decode_y4m(payload) == (2, 2, "C444", planes)

    media = spark.createDataFrame(
        [Row(media_id=3, kind="video", mime="video/x-yuv4mpeg",
             payload=payload, meta="{}"),
         Row(media_id=4, kind="image", mime="image/bmp", payload=b"BMxx", meta="{}")]
    )
    got = sorted(
        (r["frame_idx"], r["y_mean_x1000"], bytes(r["y_plane"]))
        for r in decode_video_frames(media, every_n=2, fake=False).collect()
    )
    # frames 0, 2, 4 sampled; mean*1000 exact; non-video rows excluded
    assert got == [
        (0, 0, planes[0]),
        (2, 100_000, planes[2]),
        (4, 200_000, planes[4]),
    ]


def test_decode_video_frames_rejects_compressed(spark):
    import pytest as _pytest

    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        decode_video_frames,
    )

    media = spark.createDataFrame(
        [Row(media_id=1, kind="video", mime="video/mp4",
             payload=b"\x00\x00\x00 ftypmp42", meta="{}")]
    )
    with _pytest.raises(Exception, match="NotImplementedError|Y4M"):
        decode_video_frames(media, fake=False).collect()


def test_checkpointed_drain_is_exactly_once_incremental(spark, tmp_path):
    """Two availableNow drains over a growing input directory with ONE
    checkpoint: the second drain processes only the newly-landed files,
    and the union of sink output equals the batch run over all input —
    no duplicates, no gaps (source offsets + sink commit log)."""
    from agenticknowledgegraphconstructionsystem_spark.gate import drain_to_parquet
    from agenticknowledgegraphconstructionsystem_spark.operators.mentions import (
        detect_mentions_native,
    )
    from agenticknowledgegraphconstructionsystem_spark.sources.pages import (
        PAGES_SCHEMA,
        synthetic_pages_rows,
    )

    rows = synthetic_pages_rows(40)
    for r in rows:  # pre-extracted text path for the stream
        r["text"] = r["html"].decode("utf-8", "replace")
    all_pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    b1 = all_pages.where("url < 'https://example.org/paper/00025'")
    b2 = all_pages.where("url >= 'https://example.org/paper/00025'")
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    b1.write.mode("append").parquet(in_dir)

    def stream():
        return detect_mentions_native(
            spark.readStream.schema(PAGES_SCHEMA)
            .parquet(in_dir)
            .select("url", F.col("text").alias("extracted_text"))
        )

    drain_to_parquet(stream(), out_dir, ck_dir)
    n1 = spark.read.parquet(out_dir).count()

    b2.write.mode("append").parquet(in_dir)
    drain_to_parquet(stream(), out_dir, ck_dir)
    got = spark.read.parquet(out_dir)
    assert got.count() > n1

    batch = detect_mentions_native(
        all_pages.select(
            "url", F.col("text").alias("extracted_text")
        )
    )
    key = lambda df: sorted(
        (r["url"], r["name"], r["pos"]) for r in df.collect()
    )
    assert key(got) == key(batch)
