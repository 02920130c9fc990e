"""CDX capture-index tier (operators/cdx.py): SURT rule edge cases,
DuckDB twins over captures synthesized identically in both engines
(the gate_cdx members), and the plan shape (records = pure projection,
zero exchanges)."""

from __future__ import annotations

import duckdb
from pyspark.sql import Row
from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.gate_cdx import (
    CDX_SUITE_MEMBERS,
    cdx_pages,
)
from agenticknowledgegraphconstructionsystem_spark.operators.cdx import (
    cdx_latest,
    cdx_records,
    host_capture_stats,
)

SF_DIR = "/root/testdata/sf0.001"


def _duck(sql):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def _member_sql(name):
    return next(sql for g, _fn, sql, _cols in CDX_SUITE_MEMBERS if g == name)


def test_surt_rules(spark):
    cases = {
        # www strips, host reverses, default port + tracking params gone,
        # query params sort
        "HTTPS://WWW.News.Example.ORG:443/a/b?z=2&a=1&utm_x=9": (
            "org,example,news)/a/b?a=1&z=2"
        ),
        # empty path → '/', no query → no '?'
        "http://Example.com": "com,example)/",
        # non-default port stays on the host label
        "http://h.example.net:8080/x": "net,example,h:8080)/x",
        # single-label host reverses to itself
        "https://localhost/x": "localhost)/x",
        # non-http(s) and scheme-less captures drop from the index
        "ftp://x.org/f": None,
        "no-scheme": None,
    }
    pages = spark.createDataFrame(
        [Row(url=u, ts14="20250301000000", html=b"<p>x</p>") for u in cases]
    )
    got = {r["url"]: r["surt"] for r in cdx_records(pages).collect()}
    assert got == {u: want for u, want in cases.items() if want is not None}


def test_cdx_records_match_duckdb_twin(spark):
    pages = cdx_pages(spark, SF_DIR)
    got = sorted(tuple(r) for r in cdx_records(pages).collect())
    assert got == _duck(_member_sql("cdx_records"))
    # every record keyed, digests are sha256 hex of the real corpus text
    assert len(got) == pages.count()
    assert all(
        s.startswith("example,s") and len(d) == 64 and len(t) == 14
        for s, t, _u, d in got
    )


def test_cdx_latest_match_duckdb_twin(spark):
    pages = cdx_pages(spark, SF_DIR)
    got = sorted(tuple(r) for r in cdx_latest(pages).collect())
    assert got == _duck(_member_sql("cdx_latest"))
    # genuinely a lookup: fewer rows than captures, one per surt, and
    # each kept ts is the max over that surt's captures
    recs = cdx_records(pages).collect()
    assert len(got) < len(recs)
    by_surt = {}
    for r in recs:
        by_surt.setdefault(r["surt"], []).append(r["ts"])
    assert all(t == max(by_surt[s]) for s, t, _u, _d in got)
    assert len(got) == len(by_surt)


def test_host_captures_match_duckdb_twin(spark):
    got = sorted(
        tuple(r) for r in host_capture_stats(cdx_pages(spark, SF_DIR)).collect()
    )
    assert got == _duck(_member_sql("host_captures"))
    assert len(got) == 3 and all(n >= u for _d, n, u, _f, _l in got)


def test_cdx_records_plan_zero_exchanges(spark):
    """The OPERATOR adds zero exchanges: the only Exchange in the plan is
    the deliberate scan-spread repartition the gate's _docs inserts for
    single-row-group inputs (session.spread_scan, shuffleOrigin
    REPARTITION_BY_NUM) — none is planner-forced (ENSURE_REQUIREMENTS)."""
    plan = cdx_records(cdx_pages(spark, SF_DIR))._jdf.queryExecution().executedPlan().toString()
    assert "ENSURE_REQUIREMENTS" not in plan
    assert plan.count("Exchange") == plan.count("REPARTITION_BY_NUM")


def test_pipeline_crawl_index_stages(spark, tmp_path):
    """Pipeline(crawl_index=True) commits the frontier + cdx stages over
    the RAW pages, with lineage + resume, matching the standalone
    operators exactly (warc_ts → 14-digit CDX timestamp)."""
    from agenticknowledgegraphconstructionsystem_spark.operators.sitemaps import (
        discovered_urls,
    )
    from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import (
        Pipeline,
    )
    from agenticknowledgegraphconstructionsystem_spark.sources.pages import (
        synthetic_pages,
    )

    base = synthetic_pages(spark, 30)
    pages = base.withColumn(
        "html",
        F.concat(
            F.col("html").cast("string"),
            F.lit('<a href="https://hub.example.com/h?utm_s=1">hub</a>'),
        ).cast("binary"),
    )
    p = Pipeline(spark, str(tmp_path / "ci"), run_id="c1", crawl_index=True)
    r = p.run(pages)
    assert {"frontier", "cdx"} <= set(p._recomputed)
    got_fr = sorted(map(tuple, r["frontier"].collect()))
    want_fr = sorted(map(tuple, discovered_urls(pages).collect()))
    assert got_fr == want_fr and len(got_fr) > 0
    # the hub target is discovered, normalized, and NOT yet crawled
    by_url = {t[0]: t[1:] for t in got_fr}
    assert by_url["https://hub.example.com/h"][3] == 0
    got_cdx = sorted(map(tuple, r["cdx"].collect()))
    assert len(got_cdx) == pages.count()
    assert all(
        len(t) == 14 and t.isdigit() and len(d) == 64
        for _s, t, _u, d in got_cdx
    )
    assert p.lineage().where("stage = 'cdx'").count() >= 1

    # full resume: nothing recomputes
    p2 = Pipeline(spark, str(tmp_path / "ci"), run_id="c2", crawl_index=True)
    p2.run(pages)
    assert p2._recomputed == []
