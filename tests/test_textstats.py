"""Text-analysis operators: language ID, quality metrics, token counts,
fingerprint."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.operators.textstats import (
    detect_language,
    fingerprint,
    quality_columns,
    token_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_language_id(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="the cat and the dog is of to the house"),
            Row(doc_id=1, text="der Hund und die Katze ist nicht hier und der Rest"),
            Row(doc_id=2, text="le chat et la maison les arbres est grand"),
            Row(doc_id=3, text="el perro y la casa de los gatos que viven"),
            Row(doc_id=4, text="xyz qqq zzz"),
            Row(doc_id=5, text=None),
        ]
    )
    got = {
        r["doc_id"]: r["detected_lang"]
        for r in docs.select(
            "doc_id", detect_language(F.col("text")).alias("detected_lang")
        ).collect()
    }
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und", 5: "und"}


def test_quality_metrics(spark):
    docs = spark.createDataFrame([Row(doc_id=0, text="The quick brown fox. It runs!")])
    cols = quality_columns(F.col("text"))
    r = docs.select(*[c.alias(n) for n, c in cols.items()]).collect()[0]
    assert r["n_chars"] == 29
    assert r["n_words"] == 6
    assert r["n_alpha"] == 22  # letters only
    assert r["n_punct"] == 2   # '.' and '!'
    assert r["mean_word_len_x100"] == 366  # floor(22*100/6)
    assert 0 <= r["quality_pct"] <= 100


def test_token_counts(spark):
    docs = spark.createDataFrame([Row(doc_id=0, text="Hello world42, it's x-ray time")])
    r = docs.select(*[c.alias(n) for n, c in token_counts(F.col("text")).items()]).collect()[0]
    assert r["ws_tokens"] == 5
    # bpe-ish: hello|world|42|,|it|'|s|x|-|ray|time
    assert r["bpe_tokens"] == 11


def test_fingerprint_whitespace_invariant(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="hello   world\n\tagain"),
            Row(doc_id=1, text=" hello world again "),
            Row(doc_id=2, text="hello world againn"),
        ]
    )
    got = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).collect()}
    assert got[0] == got[1]
    assert got[0] != got[2]


def test_corpus_stats_ties_to_ungrouped_totals(spark):
    from pyspark.sql import functions as F

    from agenticknowledgegraphconstructionsystem_spark.operators.textstats import (
        corpus_stats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cs = corpus_stats(docs)
    tot = cs.agg(
        F.sum("n_docs").alias("d"),
        F.sum("sum_chars").alias("c"),
        F.sum("n_quality_ok").alias("q"),
    ).collect()[0]
    assert tot["d"] == docs.count()
    assert tot["c"] == docs.agg(F.sum(F.coalesce(F.length("text"), F.lit(0)))).collect()[0][0]
    assert 0 <= tot["q"] <= tot["d"]
    # one row per (source, lang) present in the corpus
    assert cs.count() == docs.select("source", "lang").distinct().count()


def test_top_vocabulary_cut_and_ties(spark):
    """The v-cut keeps exactly v terms ordered (count DESC, term ASC),
    document frequency counts docs not occurrences, and ties break
    lexicographically — on a planted corpus where the gate's synthetic
    vocabulary (31 terms < v) can't exercise the truncation."""
    import pytest
    from pyspark.sql import Row

    from agenticknowledgegraphconstructionsystem_spark.operators.textstats import (
        top_vocabulary,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="aa aa aa bb bb cc dd"),
            Row(doc_id=2, text="aa bb cc cc ee"),
            Row(doc_id=3, text=None),
        ]
    )
    got = [tuple(r) for r in top_vocabulary(docs, v=3).collect()]
    # aa: 4 occ / 2 docs; bb: 3/2; cc: 3/2 (bb before cc lexicographically)
    assert got == [("aa", 4, 2, 1), ("bb", 3, 2, 2), ("cc", 3, 2, 3)]
    full = {r["term"]: r for r in top_vocabulary(docs, v=100).collect()}
    assert set(full) == {"aa", "bb", "cc", "dd", "ee"}
    assert sum(r["n_occurrences"] for r in full.values()) == 12
    with pytest.raises(ValueError):
        top_vocabulary(docs, v=0)


def test_token_familiarity_hand_values(spark):
    """Hand-computed ppm math: N=4 text docs; df(the)=3, df(cat)=df(ran)=2,
    singletons elsewhere; gibberish doc scores lowest, NULL → zeros."""
    from pyspark.sql import Row

    from agenticknowledgegraphconstructionsystem_spark.operators.textstats import (
        token_familiarity,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat"),
            Row(doc_id=2, text="the dog ran"),
            Row(doc_id=3, text="the cat ran"),
            Row(doc_id=4, text="zxqv qqq"),
            Row(doc_id=5, text=None),
        ],
        schema="doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["familiarity_ppm"])
        for r in token_familiarity(docs).collect()
    }
    assert got == {
        1: (3, 500000),   # (750000+500000+250000) div 3
        2: (3, 500000),
        3: (3, 583333),   # 1750000 div 3 — floor via integral div
        4: (2, 250000),   # gibberish: both tokens df=1
        5: (0, 0),
    }


def test_token_familiarity_matches_duckdb_twin(spark):
    import duckdb

    from agenticknowledgegraphconstructionsystem_spark.gate_curation import (
        O_FAMILIARITY,
        q_familiarity,
    )

    got = sorted(tuple(r) for r in q_familiarity(spark, SF_DIR).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(O_FAMILIARITY).fetchall())
    con.close()
    assert got == want


def test_token_familiarity_copy_monotonicity(spark):
    """Directional property under corpus growth: adding a verbatim copy
    raises the familiarity of docs sharing its tokens (their dfs grow)
    and lowers docs sharing none (only the N denominator grows); copies
    score identically."""
    from pyspark.sql import Row

    from agenticknowledgegraphconstructionsystem_spark.operators.textstats import (
        token_familiarity,
    )

    base_rows = [
        Row(doc_id=1, text="alpha beta gamma"),
        Row(doc_id=2, text="alpha delta epsilon"),
        Row(doc_id=3, text="zeta eta theta"),
    ]
    base = spark.createDataFrame(base_rows, schema="doc_id bigint, text string")
    grown = spark.createDataFrame(
        base_rows + [Row(doc_id=4, text="alpha beta gamma")],
        schema="doc_id bigint, text string",
    )
    f_base = {r["doc_id"]: r["familiarity_ppm"] for r in token_familiarity(base).collect()}
    f_grown = {r["doc_id"]: r["familiarity_ppm"] for r in token_familiarity(grown).collect()}
    assert f_grown[1] > f_base[1]      # its tokens doubled in df
    assert f_grown[3] < f_base[3]      # denominator grew, its dfs didn't
    assert f_grown[4] == f_grown[1]    # verbatim copies score identically
