"""S7/S8 — byte-identical extraction (the north-star per-row invariant)."""

from __future__ import annotations

from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark import semantics as S
from agenticknowledgegraphconstructionsystem_spark.operators.extract import extract_docs
from agenticknowledgegraphconstructionsystem_spark.session import _scan_nulls
from agenticknowledgegraphconstructionsystem_spark.sources.pages import (
    PAGES_SCHEMA,
    synthetic_pages,
    synthetic_pages_rows,
)


def test_extract_byte_identical(spark):
    rows = synthetic_pages_rows(64)
    got = {
        r["url"]: r["extracted_text"]
        for r in extract_docs(synthetic_pages(spark, 64)).collect()
    }
    for r in rows:
        exp = r["text"] if r["text"] is not None else S.extract_text_from_html(r["html"])
        assert got[r["url"]] == exp, r["url"]


def test_extract_marker_join_strip_semantics():
    # extract_and_populate.py:51-65: markers, "" join, single outer strip
    html = b"<html><body><section>first</section><section>second</section></body></html>"
    assert S.extract_text_from_html(html) == "--- Page 1 ---\nfirst\n--- Page 2 ---\nsecond"
    assert S.extract_text_from_html(b"<html></html>") is None  # empty -> None
    assert S.extract_text_from_html(None) is None


def test_extract_stats(spark):
    rows = synthetic_pages_rows(32)
    df = extract_docs(spark.createDataFrame(rows, PAGES_SCHEMA))
    for r in df.collect():
        st = S.extraction_stats(r["extracted_text"])
        assert r["n_chars"] == st["char_count"]
        assert r["n_words"] == st["word_count"]
        assert r["n_pages"] == st["page_markers"]


# -- WARC ingestion (round 4) -------------------------------------------------


def test_parse_warc_roundtrip_and_gzip():
    import gzip

    from agenticknowledgegraphconstructionsystem_spark.sources.warc import (
        parse_warc,
        write_warc,
    )

    recs = [
        ("https://example.org/a", "2025-01-01T00:00:00Z", b"<html>alpha</html>"),
        ("https://example.org/b", "2025-01-02T12:30:00Z", b"<html>beta</html>"),
    ]
    raw = write_warc(recs)
    assert parse_warc(raw) == recs
    # gzip transport (Common Crawl stores gzip members; one member
    # covering the stream exercises the same decompress path)
    gz = gzip.compress(raw)
    assert parse_warc(gz) == recs


def test_read_warc_pages_feeds_the_pipeline(spark, tmp_path):
    """WARC file -> pages -> extract_docs: the first-mile ingestion path
    produces byte-identical extracted text to feeding the html directly."""
    from agenticknowledgegraphconstructionsystem_spark.operators.extract import (
        extract_docs,
    )
    from agenticknowledgegraphconstructionsystem_spark.sources.pages import (
        PAGES_SCHEMA,
        synthetic_pages_rows,
    )
    from agenticknowledgegraphconstructionsystem_spark.sources.warc import (
        read_warc_pages,
        write_warc,
    )

    rows = synthetic_pages_rows(12)
    recs = [
        (r["url"], "2025-01-01T00:00:00Z", r["html"])
        for r in rows
        if r["html"] is not None
    ]
    warc_dir = tmp_path / "warc"
    warc_dir.mkdir()
    (warc_dir / "crawl-00000.warc").write_bytes(write_warc(recs[: len(recs) // 2]))
    (warc_dir / "crawl-00001.warc").write_bytes(write_warc(recs[len(recs) // 2 :]))

    pages = read_warc_pages(spark, str(warc_dir))
    got = {
        r["url"]: r["extracted_text"]
        for r in extract_docs(pages).collect()
    }
    direct = spark.createDataFrame(
        [dict(r, text=None) for r in rows if r["html"] is not None], PAGES_SCHEMA
    )
    want = {
        r["url"]: r["extracted_text"]
        for r in extract_docs(direct).collect()
    }
    assert got == want and len(got) == len(recs)
    # warc_ts survived the parse
    assert pages.where("warc_ts IS NULL").count() == 0


def test_read_wet_pages_pre_extracted_fast_path(spark, tmp_path):
    """WET file (Common Crawl's conversion records = already-extracted
    text) → pages with text FILLED → extract_docs keeps it VERBATIM via
    the P1 content fallback (no html parse, no marker assembly) and a
    mixed WARC+WET dir only surfaces each record type through its own
    reader."""
    from agenticknowledgegraphconstructionsystem_spark.operators.extract import (
        extract_docs,
    )
    from agenticknowledgegraphconstructionsystem_spark.sources.warc import (
        parse_wet,
        read_wet_pages,
        write_warc,
        write_wet,
    )

    recs = [
        ("https://example.org/wet/1", "2025-01-01T00:00:00Z", "alpha beta\ngamma"),
        ("https://example.org/wet/2", "2025-01-02T00:00:00Z", "déjà vu ünïcode"),
    ]
    assert parse_wet(write_wet(recs)) == recs

    wet_dir = tmp_path / "wet"
    wet_dir.mkdir()
    (wet_dir / "crawl-00000.warc.wet").write_bytes(write_wet(recs))
    # a response record in the same bytes is IGNORED by the WET reader
    mixed = write_wet(recs[:1]) + write_warc(
        [("https://example.org/html/1", "2025-01-03T00:00:00Z", b"<p>x</p>")]
    )
    (wet_dir / "crawl-00001.warc.wet").write_bytes(mixed)

    pages = read_wet_pages(spark, str(wet_dir))
    collected = pages.collect()
    # 2 conversion records in file 0 + 1 in file 1; the response record
    # is invisible to the WET reader
    assert len(collected) == 3
    rows = {r["url"]: r for r in collected}
    assert set(rows) == {r[0] for r in recs}
    docs = {r["url"]: r for r in extract_docs(pages).collect()}
    assert docs["https://example.org/wet/2"]["extracted_text"] == "déjà vu ünïcode"
    assert docs["https://example.org/wet/1"]["extracted_text"] == "alpha beta\ngamma"
    assert all(r["html"] is None for r in rows.values())


def test_warc_malformed_contracts():
    """parse_warc's documented contract: ValueError (never zlib.error) on
    corrupt input; missing/bad WARC-Date → the non-null sentinel epoch so
    the PAGES_SCHEMA nullable=False declaration stays truthful."""
    import pytest

    from agenticknowledgegraphconstructionsystem_spark.sources.warc import (
        WARC_TS_SENTINEL,
        _parse_warc_date,
        parse_warc,
    )

    # corrupt gzip bytes must surface as ValueError, not zlib.error
    with pytest.raises(ValueError):
        parse_warc(b"\x1f\x8b" + b"\x00" * 32)
    with pytest.raises(ValueError):
        parse_warc(b"NOT A WARC RECORD\r\n\r\n")

    assert _parse_warc_date("not-a-date") == WARC_TS_SENTINEL
    assert _parse_warc_date("") == WARC_TS_SENTINEL
    assert _parse_warc_date("2025-01-02T12:30:00Z").year == 2025


# -- footer rule: the html UDF is planned only when `text` may be NULL --------


def _text_pages(spark, tmp_path, null_urls=()):
    """Parquet pages whose ``text`` is the reference extraction of their
    html (rows whose body extracts to None are left out), NULL for
    ``null_urls``; → (pages DataFrame, {url: reference text})."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows, ref = [], {}
    for r in synthetic_pages_rows(24):
        text = S.extract_text_from_html(r["html"])
        if text is None:
            continue
        ref[r["url"]] = text
        rows.append(dict(r, text=None if r["url"] in null_urls else text))
    path = str(tmp_path / f"pages-{len(null_urls)}.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    return spark.read.parquet(path), ref


def _plans_udf(df) -> bool:
    return "ArrowEvalPython" in df._jdf.queryExecution().executedPlan().toString()


def test_extract_null_free_text_plans_no_udf(spark, tmp_path):
    pages, ref = _text_pages(spark, tmp_path)
    assert _scan_nulls(pages, "text") == 0
    docs = extract_docs(pages)
    assert not _plans_udf(docs)
    got = {r["url"]: r["extracted_text"] for r in docs.collect()}
    assert got == ref
    # row-only nodes and semi/anti/inner joins keep the proof
    other = pages.select("url").where(F.col("url") > "https://example.org/paper/00003")
    for derived in (
        pages.where(F.col("lang") == "en").orderBy("url").limit(10),
        pages.join(other, "url", "left_anti"),
        pages.join(other, "url", "left_semi"),
        other.join(pages.repartition(3), "url"),
    ):
        assert _scan_nulls(derived, "text") == 0
        assert not _plans_udf(extract_docs(derived))


def test_extract_one_null_text_plans_udf_byte_identical(spark, tmp_path):
    url = "https://example.org/paper/00002"
    pages, ref = _text_pages(spark, tmp_path, null_urls={url})
    assert _scan_nulls(pages, "text") == 1
    docs = extract_docs(pages)
    assert _plans_udf(docs)
    got = {r["url"]: r["extracted_text"] for r in docs.collect()}
    assert got == ref


def test_extract_derived_text_keeps_udf(spark, tmp_path):
    """A ``text`` the plan derives, or one read from no parquet file, is
    never proven NULL-free, however NULL-free the files below it are."""
    pages, ref = _text_pages(spark, tmp_path)
    # the gate's html-path shape: NULL-free file, text replaced by NULL
    nulled = pages.withColumn("text", F.lit(None).cast("string"))
    extra = spark.createDataFrame([("https://example.org/extra",)], "url string")
    for derived in (
        nulled,
        pages.unionByName(pages),
        extra.join(pages, "url", "left"),
        spark.createDataFrame(pages.collect(), pages.schema),
    ):
        assert _scan_nulls(derived, "text") is None
        assert _plans_udf(extract_docs(derived))
    got = {r["url"]: r["extracted_text"] for r in extract_docs(nulled).collect()}
    assert got == ref
