"""Benchmark decontamination: flag training documents that overlap an
evaluation set on long word n-grams (the GPT-3 appendix-C / Llama
pretraining discipline — 13-gram collision against the eval corpus).

The reference has no training-data tier at all (its pipeline ends at KG
tables, db_init.py); this operator belongs to the dedup family the brief
lists as first-class for a 100 TB training-data pipeline, next to
exact/MinHash/SimHash dedup (operators/dedup.py).

Scale shape: eval benchmarks are tiny next to the corpus (MBs vs TBs) —
the benchmark's distinct gram-hash set broadcasts, so the probe join is
map-side with ZERO shuffle; the only exchange is the per-doc aggregation
on the document key, which partial-aggregates map-side (count/sum of
ints).  Gram hashing reuses the engine-portable char-fold ``poly_hash``
(functions/hashing.py) so a DuckDB twin can verify hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import poly_hash_col
from .dedup import word_ngram_shingles

#: GPT-3 appendix C uses 13-gram collision; kept as the default here
DECONTAM_NGRAM = 13


def benchmark_gram_hashes(
    benchmark: DataFrame, text_col: str = "text", n: int = DECONTAM_NGRAM
) -> DataFrame:
    """Eval corpus → 1-column (gram_h) DISTINCT poly-hashed word n-grams.
    Distinct BEFORE the broadcast keeps the in-memory set minimal; empty
    grams (blank text) are excluded — engines disagree on hashing ''."""
    key = benchmark.columns[0]
    sh = word_ngram_shingles(benchmark, key=key, text_col=text_col, n=n)
    return (
        sh.where(F.col("shingle") != "")
        .select(poly_hash_col(F.col("shingle")).alias("gram_h"))
        .distinct()
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    n: int = DECONTAM_NGRAM,
    min_overlap: int = 1,
    bench_text_col: str = "text",
) -> DataFrame:
    """→ (key, n_grams, n_contaminated, contam_pct, contaminated) per
    document with at least one n-gram (docs shorter than ``n`` words
    contribute their single short-gram, matching word_ngram_shingles).

    n_grams / n_contaminated count DISTINCT grams (set semantics — a
    benchmark sentence repeated in the doc counts once); contam_pct is
    the integer floor percent of contaminated grams; ``contaminated`` is
    the drop verdict at ``min_overlap`` distinct colliding grams.

    Plan: docs → distinct gram hashes → LEFT join the broadcast
    benchmark set (marker column) → one map-side-combinable groupBy(key).
    """
    grams = (
        word_ngram_shingles(docs, key=key, text_col=text_col, n=n)
        .where(F.col("shingle") != "")
        .select(F.col(key), poly_hash_col(F.col("shingle")).alias("gram_h"))
    )
    bench = F.broadcast(
        benchmark_gram_hashes(benchmark, text_col=bench_text_col, n=n).withColumn(
            "hit", F.lit(1)
        )
    )
    probed = grams.join(bench, "gram_h", "left")
    return (
        probed.groupBy(key)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .select(
            key,
            "n_grams",
            "n_contaminated",
            F.floor(F.col("n_contaminated") * 100 / F.col("n_grams"))
            .cast("long")
            .alias("contam_pct"),
            (F.col("n_contaminated") >= min_overlap).alias("contaminated"),
        )
    )


