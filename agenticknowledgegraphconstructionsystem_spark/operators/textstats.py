"""Text analysis for a training-data pipeline: language ID, quality
scoring, token counting, document fingerprinting.

Every function is pure Column expressions with exact integer/string
outputs, so each has a bit-identical DuckDB oracle (gate_textdata.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import semantics as S

#: tiny per-language marker-token lists (n-gram heuristic); counts of
#: ' tok ' occurrences in ' '||lower(text)||' ' decide the language.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "ist", "nicht"),
    "en": ("the", "and", "is", "of", "to"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "et", "est"),
}

#: BPE-ish token regex: letter runs | digit runs | single non-space symbol
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _occurrences(hay: Column, needle: str) -> Column:
    n = len(needle)
    return ((F.length(hay) - F.length(F.replace(hay, F.lit(needle), F.lit("")))) / n).cast(
        "long"
    )


def lang_scores(text: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), F.lower(F.coalesce(text, F.lit(""))), F.lit(" "))
    return {
        lang: sum(
            (_occurrences(padded, f" {tok} ") for tok in toks), F.lit(0).cast("long")
        )
        for lang, toks in LANG_MARKERS.items()
    }


def detect_language(text: Column) -> Column:
    """argmax over marker-token counts; ties break alphabetically (langs
    iterated in sorted order, strict > replaces). 'und' (undetermined)
    when all scores are 0."""
    scores = lang_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang in sorted(scores):  # alphabetical; strict > keeps earliest tie
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def quality_columns(text: Column) -> dict[str, Column]:
    """Deterministic integer quality metrics:
    n_chars, n_words, n_alpha, n_punct, stop_hits, mean_word_len_x100,
    and quality_pct — a 0-100 composite.
    """
    t = F.coalesce(text, F.lit(""))
    lower = F.lower(t)
    n_chars = F.length(t).cast("long")
    words = F.filter(F.split(lower, r"\s+"), lambda x: x != "")
    n_words = F.size(words).cast("long")
    n_alpha = F.length(F.regexp_replace(lower, "[^a-z]", "")).cast("long")
    n_punct = F.length(F.regexp_replace(lower, "[^.,;:!?]", "")).cast("long")
    padded = F.concat(F.lit(" "), lower, F.lit(" "))
    stop_hits = sum(
        (_occurrences(padded, f" {tok} ") for tok in LANG_MARKERS["en"]),
        F.lit(0).cast("long"),
    )
    # explicit floor(): Spark's cast(double->long) truncates while DuckDB's
    # rounds — floor() agrees everywhere
    mean_word_len_x100 = F.when(
        n_words > 0, F.floor(n_alpha * 100 / n_words).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    # composite: alpha density (0-50) + word-length sanity (0-30) + length (0-20)
    alpha_component = F.when(
        n_chars > 0, F.floor(n_alpha * 50 / n_chars).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    wl = mean_word_len_x100
    wl_component = (
        F.when((wl >= 300) & (wl <= 800), F.lit(30))
        .when((wl >= 200) & (wl < 300), F.lit(15))
        .otherwise(F.lit(0))
        .cast("long")
    )
    len_component = F.least(F.lit(20).cast("long"), F.floor(n_chars / 50).cast("long"))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "n_alpha": n_alpha,
        "n_punct": n_punct,
        "stop_hits": stop_hits,
        "mean_word_len_x100": mean_word_len_x100,
        "quality_pct": alpha_component + wl_component + len_component,
    }


def token_counts(text: Column) -> dict[str, Column]:
    lower = F.lower(F.coalesce(text, F.lit("")))
    ws = F.size(F.filter(F.split(lower, r"\s+"), lambda x: x != "")).cast("long")
    bpe = F.size(F.regexp_extract_all(lower, F.lit(TOKEN_REGEX), 0)).cast("long")
    return {"ws_tokens": ws, "bpe_tokens": bpe}


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of whitespace-normalized lowercase text
    (md5 exists in Spark and DuckDB → oracle-checkable).  A rolling-hash
    variant for shift-tolerant matching would be a pandas UDF extension."""
    norm = F.trim(F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))), r"\s+", " "))
    return F.md5(norm)


def winnow_fingerprints(
    docs: "DataFrame",
    key: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> "DataFrame":
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): hash every char k-gram with the portable
    poly hash, then keep the minimum hash of every w-window.  Guarantees:
    any shared substring of length >= k + w - 1 between two documents
    yields at least one shared fingerprint, and the density of selected
    fingerprints is ~2/(w+1) — a shift-tolerant, size-bounded signature
    set (the rolling-hash upgrade the plain md5 :func:`fingerprint`
    docstring promises).

    → (key, fp) distinct rows, fp BIGINT.  Documents shorter than k chars
    contribute their whole text as the single gram; empty/NULL texts are
    excluded (no content to fingerprint).

    The per-document work is the vectorized int64 numpy kernel
    (functions.hashing.winnow_fp_udf); the cross-engine specification is
    the td_winnow_fp DuckDB twin (gate_textdata._o_winnow_fp), and parity
    with it is pytest-pinned.
    """
    from ..functions.hashing import winnow_fp_udf

    t = F.lower(F.col(text_col))
    fp_udf = winnow_fp_udf(k, w)
    # NO .distinct(): the kernel already emits np.unique(sel) per
    # document, so (key, fp) rows are distinct as long as ``key`` is
    # unique in ``docs`` (the documents-table contract every caller
    # holds); a distinct would be a full exchange of the fingerprint
    # table doing nothing.
    return docs.where(F.col(text_col).isNotNull() & (F.length(t) > 0)).select(
        F.col(key), F.explode(fp_udf(t)).alias("fp")
    )


def tfidf_top_terms(
    docs: "DataFrame",
    key: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> "DataFrame":
    """Per-document keyword extraction: top-k terms by tf-idf with a
    LINEAR idf (score = tf * N / df) — log-free so the score is a ratio
    of exact integers and the DuckDB comparison is bit-exact (both
    engines IEEE-divide the same int64 pair; the quotient is never within
    an ulp of an integer boundary for corpus-scale N and df, so the
    floor is stable).  Tokenization is the repo-standard whitespace split
    (lowercase, non-empty — same as token_counts.ws_tokens).

    → (key, term, rank, score_e6), rank 1..k ordered by
    (score DESC, term ASC) — fully deterministic.

    Scale shape: explode → one shuffle to (doc, term) tf pairs; df is a
    map-side-combinable re-aggregation of the tf table (one row per
    (doc, term), so hot stop-terms cost rows proportional to df, never
    tf); the tf↔df equi-join shuffles on the term hash (balanced by
    construction); the final per-doc top-k compiles to WindowGroupLimit
    (rank pushdown — no full sort of the scored table).
    """
    toks = docs.where(F.col(text_col).isNotNull()).select(
        F.col(key),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
            )
        ).alias("term"),
    )
    tf = toks.groupBy(key, "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.where(F.col(text_col).isNotNull()).agg(
        F.count("*").alias("n_docs")
    )
    from pyspark.sql import Window

    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(key),
            "term",
            F.floor(
                F.col("tf") * F.col("n_docs") * F.lit(1_000_000) / F.col("df")
            ).cast("long").alias("score_e6"),
        )
    )
    w = Window.partitionBy(key).orderBy(F.desc("score_e6"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(key, "term", F.col("rank").cast("long").alias("rank"), "score_e6")
    )


def corpus_stats(
    docs: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Corpus composition report — the curation dashboard a training-data
    pipeline runs before and after filtering: per group (domain ×
    language by default) the document count, total characters, total
    whitespace tokens, and how many documents clear the curation quality
    bar (quality_pct >= semantics.QUALITY_OK_PCT; same integer formula
    the td_quality gate pins).

    One pass: every metric is a pure Column over the scan projection
    followed by a single map-side-combinable aggregation — no joins, no
    second scan.  → (group_cols..., n_docs, sum_chars, sum_ws_tokens,
    n_quality_ok).  Gate: td_corpus_stats."""
    q = quality_columns(F.col(text_col))["quality_pct"]
    tok = token_counts(F.col(text_col))["ws_tokens"]
    return (
        docs.select(
            *group_cols,
            F.coalesce(F.length(text_col), F.lit(0)).alias("_nc"),
            tok.alias("_tok"),
            q.alias("_q"),
        )
        .groupBy(*group_cols)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_nc").cast("long").alias("sum_chars"),
            F.sum("_tok").cast("long").alias("sum_ws_tokens"),
            F.sum((F.col("_q") >= S.QUALITY_OK_PCT).cast("int"))
            .cast("long")
            .alias("n_quality_ok"),
        )
    )


def top_vocabulary(
    docs: "DataFrame",
    v: int = 1000,
    key: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Tokenizer-training prep: the corpus's top-``v`` whitespace tokens
    → (term, n_occurrences, n_docs, rank), rank 1..v ordered by
    (occurrences DESC, term ASC) — fully deterministic.

    Scale shape: explode → one map-side-combinable groupBy on
    (key, term) (occurrence AND document frequency from the same pass) →
    term re-aggregation → distributed top-v (``orderBy().limit(v)``
    compiles to TakeOrderedAndProject — each task keeps v candidates, no
    global sort).  Only the v survivors pass through the single-partition
    rank window, so its state is bounded by v regardless of corpus size.
    """
    from pyspark.sql import Window

    if v < 1:
        raise ValueError("v must be >= 1")
    toks = docs.where(F.col(text_col).isNotNull()).select(
        F.col(key),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
        ).alias("term"),
    )
    per_doc = toks.groupBy(key, "term").agg(F.count("*").alias("tf"))
    counts = per_doc.groupBy("term").agg(
        F.sum("tf").cast("long").alias("n_occurrences"),
        F.count("*").cast("long").alias("n_docs"),
    )
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("term")).limit(v)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("term"))
    return top.select(
        "term",
        "n_occurrences",
        "n_docs",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def token_familiarity(
    docs: "DataFrame", key: str = "doc_id", text_col: str = "text"
) -> "DataFrame":
    """CCNet-style LM-quality proxy with integer-exact cross-engine
    arithmetic → (key, n_tokens, familiarity_ppm) for EVERY input row.

    CCNet ranks crawl docs by LM perplexity; float log-probs diverge in
    the last ulp across engines, so this scores each document by the mean
    corpus document-frequency of its tokens instead, in parts-per-million
    of the corpus: term_ppm(t) = df(t)·10⁶ div N (N = docs with non-NULL
    text), familiarity_ppm = Σ tf·term_ppm div Σ tf.  Gibberish / OCR
    noise / wrong-language text scores low (its tokens appear almost
    nowhere else); natural prose scores high.  All arithmetic is int64
    integral division (`div` / DuckDB `//`) — df·10⁶ ≤ N·10⁶ and
    Σ tf·term_ppm ≤ n_tokens·10⁶ both stay in range at 10^12 docs.
    NULL-text rows → (0, 0).

    Scale shape: one explode → map-side-combinable (key, term) tf
    aggregation (≤ 1 row per doc-term pair reaches the shuffle) → term
    df re-aggregation; the corpus count joins in-plan as a broadcast
    1-row aggregate (no eager driver action); the tf⋈df join shuffles on
    the term hash — the per-term row count is bounded by df(t), so
    stopword-grade terms are the AQE skew-join case, the same hot-key
    class the df caps bound elsewhere (dedup.py, graph.py).
    """
    base = docs.where(F.col(text_col).isNotNull())
    toks = base.select(
        F.col(key),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
        ).alias("term"),
    )
    pdt = toks.groupBy(key, "term").agg(F.count("*").cast("long").alias("tf"))
    dfs = pdt.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n1 = base.agg(F.count("*").cast("long").alias("n_corpus"))
    ppm = dfs.crossJoin(F.broadcast(n1)).select(
        "term", F.expr("df * 1000000 div n_corpus").alias("term_ppm")
    )
    agg = (
        pdt.join(ppm, "term")
        .groupBy(key)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.expr("sum(tf * term_ppm) div sum(tf)")
            .cast("long")
            .alias("familiarity_ppm"),
        )
    )
    return (
        docs.select(key)
        .join(agg, key, "left")
        .select(
            key,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("familiarity_ppm", F.lit(0))
            .cast("long")
            .alias("familiarity_ppm"),
        )
    )
