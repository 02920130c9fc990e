"""D5/D6 — validation rules E1-E4 / R1-R5 on constructed dirt
(validation-agent.ts:38-176, 185-389)."""

from __future__ import annotations

from pyspark.sql import Row

from agenticknowledgegraphconstructionsystem_spark import semantics as S
from agenticknowledgegraphconstructionsystem_spark.operators.validation import (
    apply_validated_flags,
    entity_findings,
    relationship_findings,
)


def _ent(name, mention_count=2, max_rel=80, min_rel=50):
    return Row(
        name=name,
        concept_type="method",
        mention_count=mention_count,
        sum_relevance_pct=100,
        max_relevance_pct=max_rel,
        min_relevance_pct=min_rel,
        entity_id=1,
        first_context="c",
    )


def test_entity_rules(spark):
    ents = spark.createDataFrame(
        [
            _ent("method"),                      # E1 generic -> error
            _ent("x"),                           # E2 too short -> error
            _ent("y" * 120),                     # E2 too long -> warning
            _ent("neg", min_rel=-5),             # E3 invalid range -> error
            _ent("perfect", mention_count=1, max_rel=100),  # E3 suspicious -> warning
            _ent("clean"),
        ]
    )
    edges = spark.createDataFrame(
        # mention_count(2) < link_count(3) for 'clean' -> E4 warning
        [Row(url=f"u{i}", entity_id=1, name="clean", concept_type="method",
             relevance_pct=50, context="c") for i in range(3)]
    )
    got = {(r["item_key"], r["rule"], r["severity"])
           for r in entity_findings(ents, edges).collect()}
    assert ("method", "no_generic_terms", "error") in got
    assert ("x", "name_too_short", "error") in got
    assert ("y" * 120, "name_too_long", "warning") in got
    assert ("neg", "invalid_relevance_score", "error") in got
    assert ("perfect", "suspicious_perfect_score", "warning") in got
    assert ("clean", "mention_count_mismatch", "warning") in got
    assert len(got) == 6


def _rel(src, dst, rtype, conf, expl):
    return Row(source_url=src, target_url=dst, rel_type=rtype,
               confidence_pct=conf, explanation=expl, n_shared=1, hi=1, med=0,
               lo=0, kw_found=False)


def test_relationship_rules(spark):
    rels = spark.createDataFrame(
        [
            _rel("a", "a", "cites", 80, "cites and mentions the work properly"),   # R1
            _rel("a", "b", "cites", 150, "cite mention reference related work ok"),  # R2 invalid
            _rel("a", "c", "cites", 40, "cites and mentions the work properly"),   # R2 low
            _rel("a", "d", "cites", 20, "cites and mentions the work properly"),   # R2 low+very_low
            _rel("a", "e", "improves_on", 80, "this completely lacks the magic words"),  # R3
            _rel("a", "f", None, 80, "x" * 30),                                    # R4 high
            _rel("a", "g", None, 30, "x" * 30),                                    # R4 low (info) + R2 low + very_low... conf 30 -> low only
            _rel("a", "h", "cites", 80, "cites it"),                               # R5 short
            _rel("a", "i", "cites", 80, "Not explicitly stated in abstract"),      # R5 placeholder (+ mismatch)
            _rel("a", "j", "cites", 80, "cites and mentions the work properly"),   # clean
        ]
    )
    got = {(r["item_key"], r["rule"]) for r in relationship_findings(rels).collect()}
    assert ("a->a->cites", "self_reference") in got
    assert ("a->b->cites", "invalid_confidence") in got
    assert ("a->c->cites", "low_confidence") in got
    assert ("a->d->cites", "low_confidence") in got and ("a->d->cites", "very_low_confidence") in got
    assert ("a->e->improves_on", "type_explanation_mismatch") in got
    assert ("a->f->null", "null_type_high_confidence") in got
    assert ("a->g->null", "null_type_low_confidence") in got
    assert ("a->g->null", "low_confidence") in got
    assert ("a->h->cites", "explanation_too_short") in got
    assert ("a->i->cites", "explanation_missing") in got
    assert not any(k.startswith("a->j") for k, _ in got)


def test_validated_flag(spark):
    rels = spark.createDataFrame(
        [
            _rel("a", "j", "cites", 80, "cites and mentions the work properly"),  # clean -> validated
            _rel("a", "c", "cites", 40, "cites and mentions the work properly"),  # low conf -> not
            _rel("a", "e", "improves_on", 80, "lacks the magic words"),           # warning -> not
        ]
    )
    rf = relationship_findings(rels)
    out = apply_validated_flags(rels, rf).collect()
    flags = {r["target_url"]: r["validated"] for r in out}
    assert flags == {"j": True, "c": False, "e": False}
    # the Spark flag is the Python spec: valid and not flagged for review
    for r in out:
        iss = S.relationship_findings(
            r["source_url"], r["target_url"], r["rel_type"],
            r["confidence_pct"], r["explanation"],
        )
        spec = S.is_valid(iss) and not S.should_flag_for_review(
            r["confidence_pct"], iss
        )
        assert r["validated"] == spec, (r["target_url"], iss)
