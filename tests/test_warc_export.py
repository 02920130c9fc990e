"""WARC export (sources/warc.write_warc_shards): roundtrip through the
repo's own ingestion path, seekable per-record gzip members (the index
contract a CDX server needs), and byte-level run determinism."""

from __future__ import annotations

import glob
import gzip
import hashlib
import os

from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.sources.pages import (
    synthetic_pages,
)
from agenticknowledgegraphconstructionsystem_spark.sources.warc import (
    WARC_INDEX_SCHEMA,
    parse_warc,
    read_warc_pages,
    write_warc_shards,
)


def _export(spark, pages, out):
    idx = write_warc_shards(pages, out, n_shards=4).collect()
    return sorted(map(tuple, idx))


def test_warc_shards_roundtrip(spark, tmp_path):
    pages = synthetic_pages(spark, 30)
    out = str(tmp_path / "warc")
    idx = _export(spark, pages, out)
    assert len(idx) == pages.count()
    back = read_warc_pages(spark, f"{out}/*.warc.gz")
    got = {
        r["url"]: (bytes(r["html"]), r["warc_ts"]) for r in back.collect()
    }
    want = {
        r["url"]: (bytes(r["html"]), r["warc_ts"]) for r in pages.collect()
    }
    assert got == want


def test_warc_index_offsets_are_seekable(spark, tmp_path):
    """The Common Crawl contract: seek(offset), read(length), gunzip →
    exactly one record whose url and payload digest match the index."""
    pages = synthetic_pages(spark, 20)
    out = str(tmp_path / "warc")
    idx = _export(spark, pages, out)
    for url, ts, digest, fname, offset, length in idx[::7]:
        with open(os.path.join(out, fname), "rb") as f:
            f.seek(offset)
            member = f.read(length)
        recs = parse_warc(gzip.decompress(member))
        assert len(recs) == 1
        rurl, _rdate, payload = recs[0]
        assert rurl == url
        assert hashlib.sha256(payload).hexdigest() == digest
        assert len(ts) == 14 and ts.isdigit()
    # offsets tile each shard exactly: sum of member lengths == file size
    by_file: dict[str, int] = {}
    for _u, _t, _d, fname, _o, length in idx:
        by_file[fname] = by_file.get(fname, 0) + length
    for fname, total in by_file.items():
        assert os.path.getsize(os.path.join(out, fname)) == total


def test_warc_export_deterministic(spark, tmp_path):
    pages = synthetic_pages(spark, 25)
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    idx1 = _export(spark, pages, out1)
    idx2 = _export(spark, pages, out2)
    assert idx1 == idx2
    for f1 in sorted(glob.glob(f"{out1}/*.warc.gz")):
        f2 = os.path.join(out2, os.path.basename(f1))
        assert open(f1, "rb").read() == open(f2, "rb").read()


def test_warc_export_feeds_cdx(spark, tmp_path):
    """Composition: the export index joined back to its payloads feeds
    cdx_records; every capture gets its SURT key and the record digest
    equals the index digest, so the index's (filename, offset, length)
    locate each CDX record."""
    from agenticknowledgegraphconstructionsystem_spark.operators.cdx import (
        cdx_records,
    )

    pages = synthetic_pages(spark, 15)
    out = str(tmp_path / "warc")
    idx = spark.createDataFrame(
        write_warc_shards(pages, out, n_shards=2).collect(), WARC_INDEX_SCHEMA
    )
    recs = cdx_records(idx.join(pages.select("url", "html"), "url"), ts_col="ts")
    rows = recs.join(
        idx.select("url", F.col("digest").alias("idx_digest")), "url"
    ).collect()
    assert len(rows) == 15
    assert all(r["surt"].endswith(r["url"].rsplit("/", 1)[-1]) for r in rows)
    assert all(r["digest"] == r["idx_digest"] for r in rows)
    assert {len(r["ts"]) for r in rows} == {14}


def test_wet_shards_roundtrip(spark, tmp_path):
    """WET conversion-record export reads back through read_wet_pages
    with text FILLED (the P1 fallback contract) and seekable members."""
    from agenticknowledgegraphconstructionsystem_spark.sources.warc import (
        parse_wet,
        read_wet_pages,
        write_wet_shards,
    )

    docs = synthetic_pages(spark, 20).select(
        "url", "warc_ts",
        F.concat(F.lit("text of "), F.col("url")).alias("text"),
    )
    out = str(tmp_path / "wet")
    idx = sorted(map(tuple, write_wet_shards(docs, out, n_shards=3).collect()))
    assert len(idx) == 20
    back = read_wet_pages(spark, f"{out}/*.warc.gz")
    got = {r["url"]: r["text"] for r in back.collect()}
    assert got == {r["url"]: r["text"] for r in docs.collect()}
    url, _ts, digest, fname, offset, length = idx[0]
    with open(os.path.join(out, fname), "rb") as f:
        f.seek(offset)
        recs = parse_wet(gzip.decompress(f.read(length)))
    assert recs[0][0] == url
    assert hashlib.sha256(recs[0][2].encode()).hexdigest() == digest


def test_pipeline_export_stages(spark, tmp_path):
    """Pipeline(export_dir=...) commits both publication indexes through
    StageStore; the shard files land under warc/ and wet/, WET text is
    the FINAL extracted text, and resume skips the rewrite."""
    from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import (
        Pipeline,
    )
    from agenticknowledgegraphconstructionsystem_spark.sources.warc import (
        read_wet_pages,
    )

    pages = synthetic_pages(spark, 25)
    exp = str(tmp_path / "pub")
    p = Pipeline(spark, str(tmp_path / "st"), run_id="e1", export_dir=exp)
    r = p.run(pages)
    assert {"export_warc", "export_wet"} <= set(p._recomputed)
    assert r["export_warc"].count() == 25
    assert glob.glob(f"{exp}/warc/*.warc.gz") and glob.glob(f"{exp}/wet/*.warc.gz")
    # WET shards carry the extracted text of the FINAL docs
    wet = {r2["url"]: r2["text"] for r2 in
           read_wet_pages(spark, f"{exp}/wet/*.warc.gz").collect()}
    docs = {r2["url"]: (r2["extracted_text"] or "")
            for r2 in r["docs"].collect()}
    assert wet == docs and len(wet) == 25
    # resume: nothing recomputes, indexes read back committed
    p2 = Pipeline(spark, str(tmp_path / "st"), run_id="e2", export_dir=exp)
    r2 = p2.run(pages)
    assert p2._recomputed == []
    assert r2["export_wet"].count() == 25
