"""The curate Pipeline stage (plans/pipeline.py:_curate_docs): plant a
boilerplate-spam page, a benchmark-contaminated page, and a PII-laden
page into the synthetic corpus; assert the curated pipeline drops the
right docs, masks PII before mention detection, resumes like every other
stage, and matches the un-curated pipeline on the clean remainder."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import Pipeline
from agenticknowledgegraphconstructionsystem_spark.sources.pages import (
    PAGES_SCHEMA,
    synthetic_pages_rows,
)

N_DOCS = 40

_SPAM = ("click here to subscribe to our newsletter and win big today now " * 40)
_EVAL = (
    "which of the following best describes the seminal table scan approach "
    "introduced by the spark system in large scale stream processing work"
)


def _corpus(spark):
    rows = synthetic_pages_rows(N_DOCS)
    rows.append(
        {
            "url": "https://example.org/spam/00001",
            "warc_ts": rows[0]["warc_ts"],
            "html": None,
            "text": _SPAM,
            "lang": "en",
        }
    )
    rows.append(
        {
            "url": "https://example.org/leak/00001",
            "warc_ts": rows[0]["warc_ts"],
            "html": None,
            "text": "intro words " + _EVAL + " closing words",
            "lang": "en",
        }
    )
    rows.append(
        {
            "url": "https://example.org/pii/00001",
            "warc_ts": rows[0]["warc_ts"],
            "html": None,
            "text": "the spark system author is reachable at a.b@example.com "
            "or 555-123-4567 for questions about the table scan approach",
            "lang": "en",
        }
    )
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def _bench(spark):
    return spark.createDataFrame([Row(bench_id=1, text=_EVAL)])


@pytest.mark.slow  # round-6 fast-gate rebalance: family keeps a fast representative
def test_curate_stage_drops_and_redacts(spark, tmp_path):
    pages = _corpus(spark)
    p = Pipeline(
        spark,
        str(tmp_path / "kg"),
        curate=True,
        decontam_benchmark=_bench(spark),
    )
    res = p.run(pages)
    urls = {r["url"] for r in res["docs"].select("url").collect()}
    assert "https://example.org/spam/00001" not in urls  # Gopher repetition
    assert "https://example.org/leak/00001" not in urls  # decontamination
    assert "https://example.org/pii/00001" in urls  # kept, but masked
    red = res["docs"].where(F.col("url") == "https://example.org/pii/00001")
    text = red.collect()[0]["extracted_text"]
    assert "<EMAIL>" in text and "<PHONE>" in text
    assert "a.b@example.com" not in text and "555-123-4567" not in text
    # masked text is what mention detection saw: no mention row carries PII
    leaked = p.canonical_mentions().where(F.col("context").contains("a.b@example.com"))
    assert leaked.count() == 0
    assert "curate" in p._recomputed
    # lineage rows landed for the stage
    lin = p.lineage().where(F.col("stage") == "curate")
    assert lin.count() > 0

    # resume: a second run over the same store recomputes nothing
    p2 = Pipeline(
        spark,
        str(tmp_path / "kg"),
        curate=True,
        decontam_benchmark=_bench(spark),
    )
    p2.run(pages)
    assert p2._recomputed == []


@pytest.mark.slow  # round-6 fast-gate rebalance: family keeps a fast representative
def test_curate_clean_corpus_is_a_noop_vs_uncurated(spark, tmp_path):
    """On the synthetic corpus alone (no planted spam/PII/leaks) curation
    keeps every doc and the downstream triple set is identical to the
    un-curated pipeline — the stage only ever removes what it should."""
    pages = spark.createDataFrame(synthetic_pages_rows(N_DOCS), PAGES_SCHEMA)
    cur = Pipeline(spark, str(tmp_path / "a"), curate=True).run(pages)
    base = Pipeline(spark, str(tmp_path / "b")).run(pages)
    assert cur["docs"].count() == base["docs"].count()
    t_cur = sorted(map(tuple, cur["triples"].collect()))
    t_base = sorted(map(tuple, base["triples"].collect()))
    assert t_cur == t_base


_FOOTER = "subscribe to our newsletter for updates"


def test_strip_boilerplate_inside_curate(spark, tmp_path):
    """strip_boilerplate=True removes a footer line shared by many docs
    BEFORE the doc-level filters, recomputes the S8 stats, and leaves
    unique content byte-identical."""
    rows = synthetic_pages_rows(N_DOCS)
    # plant the footer via the P1 text-wins path on 8 docs (>= min_docs);
    # the rest keep their html-extracted bodies untouched
    for i, r in enumerate(rows[:8]):
        r["text"] = f"unique content line {i} about the spark system\n{_FOOTER}"
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    p = Pipeline(spark, str(tmp_path / "kg"), strip_boilerplate=True)
    res = p.run(pages)
    docs = res["docs"].collect()
    assert any(r["extracted_text"] is not None for r in docs)
    for r in docs:
        t = r["extracted_text"]
        if t is None:
            assert r["n_chars"] == 0
            continue
        assert _FOOTER not in t
        assert not t.endswith("\n")  # footer line AND its newline are gone
        assert r["n_chars"] == len(t)  # stats recomputed after the strip

    # independent python reference: uncurated texts with every line that
    # recurs in >= 5 distinct docs removed (this also strips the shared
    # "--- Page N ---" marker lines — genuinely cross-doc boilerplate)
    from collections import Counter

    base = Pipeline(spark, str(tmp_path / "base")).run(pages)
    texts = {r["url"]: r["extracted_text"] for r in base["docs"].collect()}
    cnt = Counter()
    for t in texts.values():
        if t is not None:
            for ln in {l.strip() for l in t.split("\n")} - {""}:
                cnt[ln] += 1
    boiler = {ln for ln, c in cnt.items() if c >= 5}
    assert _FOOTER in boiler

    def ref_strip(t):
        if t is None:
            return None
        return "\n".join(l for l in t.split("\n") if l.strip() not in boiler)

    got = {r["url"]: r["extracted_text"] for r in docs}
    want = {u: ref_strip(t) for u, t in texts.items()}
    assert got == want
