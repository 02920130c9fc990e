"""Audio plumbing tests, and the checkpointed streaming drain behind
the kg_stream_mentions gate."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F


def test_wav_roundtrip_and_sample_values():
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    samples = [0, 1000, -1000, 32767, -32768, 12345]
    rate, ch, got = decode_wav(encode_wav(samples, rate=8000))
    assert (rate, ch) == (8000, 1)
    assert got == samples


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


def test_bmp_wav_roundtrip_property():
    """Hypothesis: WAV encode/decode are exact inverses for arbitrary
    sample vectors (16-bit PCM full range)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(st.integers(-32768, 32767), min_size=1, max_size=200),
        st.sampled_from([8000, 16000, 44100]),
    )
    def wav_case(samples, rate):
        r, ch, got = decode_wav(encode_wav(samples, rate=rate))
        assert (r, ch, got) == (rate, 1, samples)

    wav_case()


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
