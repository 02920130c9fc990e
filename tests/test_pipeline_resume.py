"""M5 — kill-and-resume semantics (SURVEY §5 item 3): delete stage-k+
commits, rerun, assert identical final triples and no recomputation of
committed stages."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from agenticknowledgegraphconstructionsystem_spark.plans import pipeline
from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import Pipeline
from agenticknowledgegraphconstructionsystem_spark.sources.pages import synthetic_pages


def _triples(res):
    return {(r["subj"], r["pred"], r["obj"]) for r in res["triples"].collect()}


@pytest.mark.slow
def test_resume_after_kill(spark, tmp_path):
    pages = synthetic_pages(spark, 60)
    p1 = Pipeline(spark, str(tmp_path / "kg"), run_id="r1")
    t_full = _triples(p1.run(pages))
    assert len(p1._recomputed) == len(
        ["extract", "mentions", "canonical_map", "entities", "edges",
         "relationships", "triples", "findings", "validated_edges"]
    )

    # simulate a crash after 'mentions': later stages lose their commits
    p2 = Pipeline(spark, str(tmp_path / "kg"), run_id="r2")
    for stage in ("canonical_map", "entities", "edges", "relationships",
                  "triples", "findings", "validated_edges"):
        p2.store.uncommit(stage)
    t_resumed = _triples(p2.run(pages))

    assert t_resumed == t_full
    # committed stages were NOT recomputed
    assert "extract" not in p2._recomputed
    assert "mentions" not in p2._recomputed
    assert "relationships" in p2._recomputed

    # lineage: the resumed run logged only the recomputed stages
    lin = p1.lineage().collect()
    by_run_stage = {(r["run_id"], r["stage"]) for r in lin}
    assert ("r1", "extract") in by_run_stage
    assert ("r2", "extract") not in by_run_stage
    assert ("r2", "relationships") in by_run_stage
    # per-partition rows carry counts + status
    assert all(r["status"] == "success" and r["output_rows"] > 0 for r in lin)


@pytest.mark.slow
def test_export_report(spark, tmp_path):
    import json

    pages = synthetic_pages(spark, 60)
    p = Pipeline(spark, str(tmp_path / "kg3"), run_id="rep")
    p.run(pages)
    report = p.export_report(str(tmp_path / "validation-results.json"))
    with open(tmp_path / "validation-results.json") as f:
        on_disk = json.load(f)
    assert on_disk == report
    assert report["totals"]["entities"] > 0
    # totals come from the commits' recorded row counts, and equal a count
    assert report["totals"]["entities"] == p._results["entities"].count()
    assert report["totals"]["relationships"] == p._results["relationships"].count()
    assert report["totals"]["problematic_items"] == len(report["items"])
    assert all(i["issues"] for i in report["items"])  # only problematic items
    # deterministic: exporting again yields identical bytes
    report2 = p.export_report(str(tmp_path / "v2.json"))
    assert report == report2
    # driver-safety guard: past max_items the detail goes distributed
    guarded = p.export_report(str(tmp_path / "v3.json"), max_items=1)
    assert guarded["items"] is None and guarded["items_path"].endswith(".items")
    assert guarded["totals"]["problematic_items"] == report["totals"]["problematic_items"]
    import glob as _glob

    assert _glob.glob(guarded["items_path"] + "/part-*")
    # S6 CSV summary sink
    p.export_summary_csv(str(tmp_path / "summary_csv"))
    import glob

    csvs = glob.glob(str(tmp_path / "summary_csv" / "*.csv"))
    assert len(csvs) == 1
    lines = open(csvs[0]).read().splitlines()
    assert lines[0] == "name,concept_type,mention_count,max_relevance_pct"
    assert len(lines) > 1


@pytest.mark.slow
def test_noop_rerun_recomputes_nothing(spark, tmp_path):
    pages = synthetic_pages(spark, 40)
    Pipeline(spark, str(tmp_path / "kg2"), run_id="a").run(pages)
    p = Pipeline(spark, str(tmp_path / "kg2"), run_id="b")
    res = p.run(pages)
    assert p._recomputed == []
    assert res["triples"].count() > 0


def test_full_resume_plans_nothing_and_submits_no_job(spark, tmp_path, monkeypatch):
    """A re-run over a store holding every stage builds no stage input
    (the builders, the mention re-pointing included, are patched to raise)
    and submits no Spark job."""
    pages = synthetic_pages(spark, 20)
    out = str(tmp_path / "kg")
    Pipeline(spark, out, run_id="a").run(pages)

    def refuse(*_args, **_kwargs):
        raise AssertionError("a resumed run built a stage input")

    for name in (
        "build_entities",
        "upsert_relationship_edges",
        "canonicalize",
        "repoint_mentions",
        "dedup_repointed_mentions",
    ):
        monkeypatch.setattr(pipeline, name, refuse)
    sc = spark.sparkContext
    sc.setJobGroup("full-resume", "re-run over a fully committed store")
    try:
        p = Pipeline(spark, out, run_id="b")
        res = p.run(pages)
    finally:
        sc._jsc.clearJobGroup()
    assert p._recomputed == []
    assert sc.statusTracker().getJobIdsForGroup("full-resume") == []
    assert set(res) >= {"entities", "triples", "validated_edges"}


def test_session_call_site_capture_off(spark):
    """get_spark turns off PySpark's per-Column call-site capture; an
    analysis error still names the missing column."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(1).select("no_such_column")


def test_incremental_job_over_null_free_pages_builds_no_udf(spark, tmp_path, monkeypatch):
    """Parquet pages whose footers count no NULL ``text``: a committed
    base, then ingest_increment of the delta and a run, never build the
    html-extraction UDF (patched to raise), so no Python worker starts."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from agenticknowledgegraphconstructionsystem_spark import semantics as S
    from agenticknowledgegraphconstructionsystem_spark.operators import extract
    from agenticknowledgegraphconstructionsystem_spark.sources.pages import (
        synthetic_pages_rows,
    )

    rows = [
        dict(r, text=S.extract_text_from_html(r["html"]))
        for r in synthetic_pages_rows(30)
    ]
    rows = [r for r in rows if r["text"] is not None]
    path = str(tmp_path / "pages.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    pages = spark.read.parquet(path)

    def refuse(*_args, **_kwargs):
        raise AssertionError("the html-extraction UDF was built")

    monkeypatch.setattr(extract, "extract_text_udf", refuse)
    cut = "https://example.org/paper/00020"
    base_pages = pages.where(F.col("url") < cut)
    out = str(tmp_path / "kg")
    Pipeline(spark, out, run_id="base").ingest_increment(base_pages)
    p = Pipeline(spark, out, run_id="delta")
    assert p.ingest_increment(pages).count() == sum(r["url"] >= cut for r in rows)
    res = p.run(pages)
    assert p.store.manifest("extract")["rows"] == len(rows)
    assert res["triples"].count() > 0
