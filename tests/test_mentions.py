"""D1 — mention detection: native Columns == Python oracle;
P7/P8 cleaning semantics."""

from __future__ import annotations

from pyspark.sql import Row

from agenticknowledgegraphconstructionsystem_spark import semantics as S
from agenticknowledgegraphconstructionsystem_spark.operators.extract import extract_docs
from agenticknowledgegraphconstructionsystem_spark.operators.mentions import (
    clean_mentions,
    detect_mentions_native,
)
from agenticknowledgegraphconstructionsystem_spark.sources.pages import synthetic_pages


def _key(r):
    return (r["url"], r["name"], r["concept_type"], r["relevance_pct"], r["pos"], r["context"])


def test_native_equals_oracle(spark):
    docs = extract_docs(synthetic_pages(spark, 96))
    nat = sorted(map(_key, detect_mentions_native(docs).collect()))
    exp = []
    for r in docs.collect():
        for m in S.detect_mentions(r["extracted_text"]):
            exp.append((r["url"], m.name, m.concept_type, m.relevance_pct, m.pos, m.context))
    assert nat == sorted(exp)


def test_relevance_rubric_boundaries():
    # pos==1 -> 100; early quarter -> 80; first half -> 60; else 45
    assert S.relevance_pct(1, 100, 1) == 100
    assert S.relevance_pct(25, 100, 1) == 80
    assert S.relevance_pct(26, 100, 1) == 60
    assert S.relevance_pct(50, 100, 1) == 60
    assert S.relevance_pct(51, 100, 1) == 45
    # occurrence bonus: +5 per extra occurrence, capped at +20, clamped 100
    assert S.relevance_pct(51, 100, 3) == 55
    assert S.relevance_pct(51, 100, 99) == 65
    assert S.relevance_pct(1, 100, 99) == 100


def test_clean_mentions_clamps_and_normalizes(spark):
    dirty = spark.createDataFrame(
        [
            Row(url="u", name="  NeRF  ", concept_type="METHOD", relevance_pct=150, pos=1, context="c"),
            Row(url="u", name="x" * 300, concept_type="bogus", relevance_pct=-5, pos=1, context="c" * 600),
            Row(url="u", name="   ", concept_type="metric", relevance_pct=50, pos=1, context="c"),
            Row(url="u", name=None, concept_type="metric", relevance_pct=50, pos=1, context="c"),
        ]
    )
    got = {r["name"]: r for r in clean_mentions(dirty).collect()}
    assert set(got) == {"NeRF", "x" * 255}  # trimmed, capped, blanks/nulls dropped
    assert got["NeRF"]["concept_type"] == "method"  # normalized enum
    assert got["NeRF"]["relevance_pct"] == 100  # clamped high
    assert got["x" * 255]["relevance_pct"] == 0  # clamped low
    assert got["x" * 255]["concept_type"] == "concept"  # fallback type
    assert len(got["x" * 255]["context"]) == 500  # store cap
