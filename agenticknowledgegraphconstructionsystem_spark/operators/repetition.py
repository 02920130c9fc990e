"""Gopher-style repetition quality filters (Rae et al. 2021, table A1):
the within-document repetition signals a web-scale training-data pipeline
drops boilerplate/spam on, complementing the cross-document dedup family
(operators/dedup.py) and the composite quality score (textstats.py).

The reference has no training-data tier (its pipeline ends at KG tables,
db_init.py); this belongs to the brief's first-class text-analysis set.

Metrics per document, all exact integer floor-percents (thresholds in
semantics.py so the keep/drop verdict is reproducible cross-engine):

* ``dup_line_pct`` — occurrences of repeated (trimmed, non-empty) lines
  over all lines.
* ``dup_line_char_pct`` — characters inside repeated lines over all
  line characters.
* ``top2_char_pct`` — characters covered by the single most frequent
  word 2-gram (count × gram length, joining space included) over the
  document's characters; ties break (count DESC, gram ASC).
* ``dup5_char_pct`` — characters covered by all word 5-grams occurring
  more than once (count × gram length, overlap NOT discounted — the
  simple upper-bound variant; capped at 100) over the document's
  characters.
* ``repetition_ok`` — every metric at or under its semantics.py cap.

Scale shape: three independent branches, each explode → one
map-side-combinable groupBy on (doc, unit) → per-doc re-aggregation (the
top-gram branch compiles its per-doc top-1 to WindowGroupLimit, no full
sort); assembly is equi-joins on the document key.  Everything is linear
in corpus size — per-gram counting is relational, never a per-doc
O(G²) higher-order-function scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import semantics as S


def word_ngram_occurrences(
    docs: DataFrame, key: str, text_col: str, n: int
) -> DataFrame:
    """→ (key, gram) word n-grams WITH duplicates (the multiset —
    unlike dedup.word_ngram_shingles, which is the distinct set), built
    natively: split → sequence → slice → array_join.  Documents shorter
    than ``n`` words contribute their single joined short-gram; empty
    grams (blank text) are excluded."""
    # word array bound to a column before the slice lambda (HOF-binding
    # lesson, PLANS.md round 5): an expression inside the lambda would
    # re-run split+lower+filter per span position; the size() reference
    # in the upper projection keeps CollapseProject from re-inlining.
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    bound = docs.where(F.col(text_col).isNotNull()).select(
        F.col(key), words.alias("_ws")
    )
    ws = F.col("_ws")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ws) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(ws, i, n), " "),
    )
    return (
        bound.select(F.col(key), F.explode(grams).alias("gram"))
        .where(F.col("gram") != "")
    )


def _pct(num: Column, den: Column) -> Column:
    """floor(100·num/den) as BIGINT, 0 on an empty denominator — floor()
    (not cast) so Spark and DuckDB agree; operands stay far under 2^53 so
    the double division is exact."""
    return (
        F.when(den > 0, F.floor(num * 100 / den)).otherwise(F.lit(0)).cast("long")
    )


def repetition_report(
    docs: DataFrame, key: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (key, n_lines, dup_line_pct, dup_line_char_pct, top2_char_pct,
    dup5_char_pct, repetition_ok) for EVERY input row (NULL/empty text →
    all-zero metrics, ok=true)."""
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    base = docs.select(F.col(key), F.length(t).cast("long").alias("n_chars"))

    lines = (
        docs.select(
            F.col(key),
            F.explode(F.transform(F.split(t, "\n"), F.trim)).alias("line"),
        )
        .where(F.col("line") != "")
        .groupBy(key, "line")
        .agg(F.count("*").alias("cnt"))
        .select(key, "cnt", (F.col("cnt") * F.length("line")).alias("chars"))
    )
    line_agg = lines.groupBy(key).agg(
        F.sum("cnt").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("dup_lines"),
        F.sum("chars").cast("long").alias("line_chars"),
        F.sum(F.when(F.col("cnt") > 1, F.col("chars")).otherwise(0))
        .cast("long")
        .alias("dup_line_chars"),
    )

    # two independent gram branches, NOT a fused n-tagged pass: fusing
    # both families into one explode of (n, gram) structs over a
    # concatenated array was A/B'd attributably ~1.5× SLOWER at sf0.1
    # (interleaved min-of-6: 7.6 s vs 11.5 s) — the struct rows, the
    # concat materialization and the wider (key, n, gram) shuffle cost
    # more than the second narrow scan they save
    g2 = word_ngram_occurrences(docs, key, text_col, 2).groupBy(key, "gram").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy(key).orderBy(F.desc("cnt"), F.asc("gram"))
    top2 = (
        g2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(key, (F.col("cnt") * F.length("gram")).cast("long").alias("top2_chars"))
    )

    dup5 = (
        word_ngram_occurrences(docs, key, text_col, 5)
        .groupBy(key, "gram")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
        .groupBy(key)
        .agg(
            F.sum(F.col("cnt") * F.length("gram")).cast("long").alias("dup5_chars")
        )
    )

    joined = (
        base.join(line_agg, key, "left")
        .join(top2, key, "left")
        .join(dup5, key, "left")
    )
    dup_line_pct = _pct(
        F.coalesce(F.col("dup_lines"), F.lit(0)), F.coalesce(F.col("n_lines"), F.lit(0))
    )
    dup_line_char_pct = _pct(
        F.coalesce(F.col("dup_line_chars"), F.lit(0)),
        F.coalesce(F.col("line_chars"), F.lit(0)),
    )
    top2_char_pct = _pct(F.coalesce(F.col("top2_chars"), F.lit(0)), F.col("n_chars"))
    dup5_char_pct = F.least(
        F.lit(100).cast("long"),
        _pct(F.coalesce(F.col("dup5_chars"), F.lit(0)), F.col("n_chars")),
    )
    return joined.select(
        key,
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
        dup_line_pct.alias("dup_line_pct"),
        dup_line_char_pct.alias("dup_line_char_pct"),
        top2_char_pct.alias("top2_char_pct"),
        dup5_char_pct.alias("dup5_char_pct"),
        (
            (dup_line_pct <= S.DUP_LINE_MAX_PCT)
            & (dup_line_char_pct <= S.DUP_LINE_CHAR_MAX_PCT)
            & (top2_char_pct <= S.TOP2_CHAR_MAX_PCT)
            & (dup5_char_pct <= S.DUP5_CHAR_MAX_PCT)
        ).alias("repetition_ok"),
    )


