"""Stage 6 — rule-based validation (reference Agent #3, validation-agent.ts).

The reference loops per concept with N+1 DB round-trips
(run-validation.ts:30-71); here each rule is one Column predicate and the
findings table materializes in a single pass — no loops, no UDFs.

Findings schema (FIXTURES.md §3 golden_findings):
    item_kind ('entity'|'relationship'), item_key, rule, severity
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import semantics as S


def _findings(df: DataFrame, kind: str, key_col, rules: list[tuple]) -> DataFrame:
    """rules: [(rule_name, severity, condition_col)] → exploded findings."""
    arr = F.array(
        *[
            F.when(
                cond,
                F.struct(F.lit(rule).alias("rule"), F.lit(sev).alias("severity")),
            )
            for rule, sev, cond in rules
        ]
    )
    return df.select(
        F.lit(kind).alias("item_kind"),
        key_col.cast("string").alias("item_key"),
        F.explode(F.filter(arr, lambda x: x.isNotNull())).alias("f"),
    ).select("item_kind", "item_key", F.col("f.rule").alias("rule"), F.col("f.severity").alias("severity"))


def entity_findings(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """Rules E1-E4 (validation-agent.ts:38-176). link_count comes from the
    doc-concept edge table (J6 restated as one aggregation + join)."""
    links = edges.groupBy("name").agg(F.count("*").cast("long").alias("link_count"))
    e = entities.join(links, "name", "left").fillna(0, subset=["link_count"])
    nm = F.trim(F.col("name"))
    rules = [
        ("no_generic_terms", "error", F.lower(nm).isin(*S.GENERIC_TERMS)),
        ("name_too_short", "error", F.length(nm) < S.NAME_MIN_LEN),
        ("name_too_long", "warning", F.length(nm) > S.NAME_WARN_LEN),
        (
            "invalid_relevance_score",
            "error",
            (F.col("min_relevance_pct") < 0) | (F.col("max_relevance_pct") > 100),
        ),
        (
            "suspicious_perfect_score",
            "warning",
            (F.col("max_relevance_pct") == 100) & (F.col("mention_count") == 1),
        ),
        (
            "mention_count_mismatch",
            "warning",
            F.col("mention_count") < F.col("link_count"),
        ),
    ]
    return _findings(e, "entity", F.col("name"), rules)


def relationship_findings(rels: DataFrame) -> DataFrame:
    """Rules R1-R5 (validation-agent.ts:185-389) over the discovered
    relationships (typed and null-typed alike — the reference validates
    whatever landed in the table)."""
    conf = F.col("confidence_pct")
    expl = F.trim(F.col("explanation"))
    expl_lower = F.lower(F.col("explanation"))
    kw_mismatch = F.lit(True)
    for t in S.RELATIONSHIP_TYPES:
        hit = F.lit(False)
        for kw in S.TYPE_KEYWORDS[t]:
            hit = hit | F.contains(expl_lower, F.lit(kw))
        kw_mismatch = F.when(F.col("rel_type") == t, ~hit).otherwise(kw_mismatch)
    rules = [
        ("self_reference", "error", F.col("source_url") == F.col("target_url")),
        ("invalid_confidence", "error", (conf < 0) | (conf > 100)),
        (
            "low_confidence",
            "warning",
            (conf >= 0) & (conf < S.LOW_CONFIDENCE_PCT),
        ),
        (
            "very_low_confidence",
            "warning",
            (conf >= 0) & (conf < S.VERY_LOW_CONFIDENCE_PCT),
        ),
        (
            "type_explanation_mismatch",
            "warning",
            F.col("rel_type").isNotNull() & kw_mismatch,
        ),
        (
            "null_type_high_confidence",
            "warning",
            F.col("rel_type").isNull() & (conf > 50),
        ),
        (
            "null_type_low_confidence",
            "info",
            F.col("rel_type").isNull() & (conf <= 50),
        ),
        ("explanation_too_short", "warning", F.length(expl) < S.EXPLANATION_MIN_LEN),
        (
            "explanation_missing",
            "warning",
            (expl == "") | (F.lower(expl) == S.PLACEHOLDER_EXPLANATION),
        ),
    ]
    key = F.concat_ws("->", "source_url", "target_url", F.coalesce("rel_type", F.lit("null")))
    return _findings(rels, "relationship", key, rules)


def apply_validated_flags(edges: DataFrame, rel_findings: DataFrame) -> DataFrame:
    """run-validation.ts:94-96: validated = is_valid ∧ ¬should_flag_for_review,
    where is_valid = no error finding and flag = conf < 0.5 ∨ any warning
    (validation-agent.ts:205-208). Join-update in one pass (MERGE analog)."""
    key = F.concat_ws(
        "->", "source_url", "target_url", F.coalesce("rel_type", F.lit("null"))
    )
    per_item = rel_findings.groupBy("item_key").agg(
        F.max((F.col("severity") == "error").cast("int")).alias("has_error"),
        F.max((F.col("severity") == "warning").cast("int")).alias("has_warning"),
    )
    joined = edges.withColumn("item_key", key).join(
        F.broadcast(per_item), "item_key", "left"
    )
    validated = (
        F.coalesce(F.col("has_error"), F.lit(0)).cast("boolean") == False  # noqa: E712
    ) & (
        F.coalesce(F.col("has_warning"), F.lit(0)).cast("boolean") == False  # noqa: E712
    ) & (
        F.col("confidence_pct") >= S.FLAG_CONFIDENCE_PCT
    )
    return joined.withColumn("validated", validated).drop(
        "item_key", "has_error", "has_warning"
    )


def validation_summary_lazy(
    ent_findings: DataFrame,
    rel_findings: DataFrame,
    entities: DataFrame,
    rels: DataFrame,
) -> DataFrame:
    """A11 rollup (validation-agent.ts:398-439) as one aggregation per
    kind, with IN-PLAN totals: the entity/relationship row counts come
    from two 1-row aggregates unioned inside the same plan instead of
    driver-side ``.count()`` actions — one action end-to-end, no extra
    driver round-trips."""
    totals = (
        entities.agg(F.count("*").cast("long").alias("total"))
        .select(F.lit("entity").alias("item_kind"), "total")
        .unionByName(
            rels.agg(F.count("*").cast("long").alias("total")).select(
                F.lit("relationship").alias("item_kind"), "total"
            )
        )
    )
    counts = (
        ent_findings.unionByName(rel_findings)
        .groupBy("item_kind")
        .agg(
            F.countDistinct(
                F.when(F.col("severity") == "error", F.col("item_key"))
            ).alias("invalid_items"),
            F.sum((F.col("severity") == "error").cast("int")).alias("errors"),
            F.sum((F.col("severity") == "warning").cast("int")).alias("warnings"),
        )
    )
    return (
        totals.join(counts, "item_kind", "left")
        .fillna(0)
        .select(
            "item_kind",
            "total",
            (F.col("total") - F.col("invalid_items")).alias("valid"),
            F.col("invalid_items").alias("invalid"),
            "errors",
            "warnings",
        )
    )
