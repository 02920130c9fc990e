"""Stage 1 — text extraction (reference S7/S8, extract_and_populate.py:36-87).

The per-row invariant (BASELINE.json input_hint): extracted text is
**byte-identical per url** to the reference extractor semantics.  To make
that unbreakable, the executor-side pandas UDF calls the *same* pure
function (:func:`semantics.extract_text_from_html`) that the pytest oracle
uses — one implementation, imported on driver and executors alike (ship via
``spark-submit --py-files`` on a real cluster).

Content fallback mirrors P1 (entity-extraction-agent.ts:37): a pre-extracted
``text`` column wins.  The html parse is planned only when the parquet
footers behind ``text`` cannot prove it NULL-free (see :func:`extract_docs`);
when they can, no Python worker starts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..semantics import extract_text_from_html
from ..session import _scan_nulls


def _extract_any(payload) -> str | None:
    """S7 dispatch on the payload magic: crawled ``%PDF-`` bodies go
    through the stdlib PDF extractor (functions/pdf.py — the reference's
    literal PyMuPDF first mile), everything else through the HTML
    extractor.  Both share semantics.assemble_page_texts, so the
    ``--- Page N ---`` assembly is byte-identical across containers."""
    if payload is not None and bytes(payload[:5]) == b"%PDF-":
        from ..functions.pdf import extract_pdf_text

        return extract_pdf_text(bytes(payload))
    return extract_text_from_html(payload)


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched S7. Pure function of the input bytes — deterministic."""
    return html.map(_extract_any)


def word_count_col(text: Column) -> Column:
    """len(text.split()) semantics (extract_and_populate.py:85) — count of
    non-empty whitespace-separated tokens, JVM-side."""
    return F.size(F.filter(F.split(F.coalesce(text, F.lit("")), r"\s+"), lambda x: x != ""))


def with_stats(docs: DataFrame) -> DataFrame:
    """(Re)compute the S8 stats columns (n_chars, n_words, n_pages) from
    ``extracted_text`` — used by :func:`extract_docs` and by any stage
    that rewrites extracted_text afterwards (the curate stage's
    boilerplate-line strip), so the stats never go stale."""
    return docs.select(
        *[c for c in docs.columns if c not in ("n_chars", "n_words", "n_pages")],
        F.coalesce(F.length("extracted_text"), F.lit(0)).alias("n_chars"),
        word_count_col(F.col("extracted_text")).alias("n_words"),
        F.when(F.col("extracted_text").isNull(), F.lit(0))
        .otherwise(
            F.size(F.split(F.col("extracted_text"), "--- Page", -1)) - 1
        )
        .alias("n_pages"),
    )


def extract_docs(pages: DataFrame) -> DataFrame:
    """pages → docs(url, warc_ts, lang, extracted_text, n_chars, n_words, n_pages).

    Footer rule: when ``pages.text`` is an unmodified parquet scan column
    whose footer statistics count zero NULLs (:func:`session._scan_nulls`,
    no Spark job), ``extracted_text`` is ``text`` and no UDF is planned.
    Otherwise (any NULL, missing statistics, non-parquet input, or a
    ``text`` the plan derives) it is ``text`` when present, else the html
    parse.  The two plans agree on every NULL-free input.

    The when() guard alone does NOT keep the UDF off rows whose ``text``
    is present: Spark extracts the UDF into an ArrowEvalPython node below
    the projection, so every row's html body is sent through Arrow and
    parsed, and the guard only picks which value is kept.  Splitting the
    input into a NULL-text branch (through the UDF) and a text branch (a
    union) was tried: Spark 4.1.2 still launches a Python worker for the
    branch's tasks when it holds no rows.
    """
    text = F.col("text")
    if _scan_nulls(pages, "text") != 0:
        text = F.when(text.isNotNull(), text).otherwise(
            extract_text_udf(F.col("html"))
        )
    return with_stats(
        pages.select(
            "url",
            "warc_ts",
            "lang",
            text.alias("extracted_text"),
        )
    )
