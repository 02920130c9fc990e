"""Per-partition lineage contract (plans/pipeline.py): lineage rows come
from the parquet footers of the write that committed the stage, so they
agree with the manifest and with the data, cost no Spark job of their
own, and a stage that raises leaves one ``failed`` row and no commit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.operators.extract import extract_docs
from agenticknowledgegraphconstructionsystem_spark.operators.mentions import (
    clean_mentions,
    detect_mentions_native,
)
from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import Pipeline
from agenticknowledgegraphconstructionsystem_spark.sources.pages import synthetic_pages


def _lineage(p, stage, run_id=None):
    rows = [r for r in p.lineage().collect() if r["stage"] == stage]
    return [r for r in rows if run_id is None or r["run_id"] == run_id]


def _assert_contract(p, stage, df):
    """Lineage output_rows sum to the manifest's rows, which equal the
    committed row count; partition ids are distinct per commit."""
    rows = _lineage(p, stage)
    n = p.store.manifest(stage)["rows"]
    assert sum(r["output_rows"] for r in rows) == n == df.count()
    assert all(r["status"] == "success" and r["output_rows"] > 0 for r in rows)
    for run_id in {r["run_id"] for r in rows}:
        ids = [r["partition_id"] for r in rows if r["run_id"] == run_id]
        assert len(ids) == len(set(ids)), (stage, run_id, ids)


def test_lineage_rows_match_manifest_and_count(spark, tmp_path):
    pages = synthetic_pages(spark, 30)
    p = Pipeline(spark, str(tmp_path / "kg"), run_id="r1", assemble_ctx=64,
                 assemble_shards=2)
    # plain stage, several write tasks
    plain = p._stage(
        "plain", lambda: spark.range(0, 50, numPartitions=3).toDF("k")
    )
    _assert_contract(p, "plain", plain)
    assert len(_lineage(p, "plain")) == 3

    # Hive-partitioned assembly stage: a task's files in every shard= dir
    # count toward that task's one row
    docs = p._stage("extract", lambda: extract_docs(pages))
    asm = p._stage("assembly", lambda: p._assemble(docs), partition_by=["shard"])
    assert p.store.manifest("assembly")["partition_by"] == ["shard"]
    _assert_contract(p, "assembly", asm)

    # empty frame: zero-row files are skipped, so no lineage row at all
    empty = p._stage("empty", lambda: spark.range(0).toDF("k"))
    assert p.store.manifest("empty")["rows"] == 0
    _assert_contract(p, "empty", empty)
    assert _lineage(p, "empty") == []


def test_lineage_rows_after_append(spark, tmp_path):
    """ingest_increment commits, then appends, extract and the delta
    mentions; each table's lineage rows add up to the enlarged table."""
    pages = synthetic_pages(spark, 30)
    out = str(tmp_path / "kg")
    p1 = Pipeline(spark, out, run_id="r1")
    p1.ingest_increment(pages.where("url < 'https://example.org/paper/00020'"))
    p1._stage(
        "mentions",
        lambda: clean_mentions(detect_mentions_native(p1.store.read("extract"))),
    )
    base_rows = p1.store.manifest("mentions")["rows"]

    p2 = Pipeline(spark, out, run_id="r2")
    assert p2.ingest_increment(pages).count() == 10
    m = p2.store.manifest("mentions")
    assert m["kind"] == "append" and m["rows"] > base_rows
    _assert_contract(p2, "mentions", p2.store.read("mentions"))
    _assert_contract(p2, "extract", p2.store.read("extract"))
    assert {r["input_rows"] for r in _lineage(p2, "extract")} == {20, 10}
    delta = _lineage(p2, "mentions", "r2")
    assert {r["input_rows"] for r in delta} == {10}
    assert sum(r["output_rows"] for r in delta) == m["rows"] - base_rows


@pytest.mark.parametrize("where", ["build", "write"])
def test_failed_stage_writes_one_failed_row(spark, tmp_path, where):
    """A stage that raises logs exactly one failed row, commits nothing,
    and a rerun commits it."""
    out = str(tmp_path / "kg")

    def broken():
        if where == "build":
            raise RuntimeError("injected build failure")
        return spark.range(3).select(F.raise_error(F.lit("injected write failure")))

    p = Pipeline(spark, out, run_id="bad")
    with pytest.raises(Exception, match="injected"):
        p._stage("t", broken)
    rows = _lineage(p, "t", "bad")
    assert [(r["status"], r["partition_id"], r["output_rows"]) for r in rows] == [
        ("failed", -1, 0)
    ]
    assert not p.store.is_committed("t")
    assert p._recomputed == []

    p2 = Pipeline(spark, out, run_id="good")
    p2._stage("t", lambda: spark.range(3).toDF("k"))
    assert p2.store.is_committed("t") and p2.store.manifest("t")["rows"] == 3
    assert {r["status"] for r in _lineage(p2, "t", "good")} == {"success"}


def test_stage_submits_no_more_jobs_than_its_write(spark, tmp_path):
    """Committing a stage (write, manifest, lineage) runs no Spark job
    beyond the ones a bare parquet write of the same frame runs."""
    sc = spark.sparkContext
    df = spark.range(0, 2000, numPartitions=4).groupBy(
        (F.col("id") % 7).alias("g")
    ).agg(F.count("*").alias("n"))

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    bare = jobs("bare-write", lambda: df.write.parquet(str(tmp_path / "bare")))
    p = Pipeline(spark, str(tmp_path / "kg"), run_id="r1")
    staged = jobs("stage-commit", lambda: p._stage("t", lambda: df))
    assert bare >= 1
    assert staged <= bare, (staged, bare)
    assert p.store.manifest("t")["rows"] == 7
