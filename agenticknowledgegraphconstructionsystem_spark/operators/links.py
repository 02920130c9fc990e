"""Hyperlink extraction and the page/host link graph — the
Common-Crawl first mile that turns raw page html into the edge list a
web-scale KG build ranks and crawls with (the reference's analogue is
the citation graph it fetches per paper, fetch_citing_papers.py — here
the edges come out of the corpus itself, no external API).

Pipeline shape::

    pages(url, html, ...) ── extract_anchors ──► (url, href, anchor_text)
        ── resolve_href ──► dst_url (normalized absolute, or NULL=drop)
        ── link_edges ────► distinct (src, dst) page edges
        ── host_graph ────► (src_domain, dst_domain, n_links)

Every stage is pure Column work from the ``semantics`` regex constants
(ANCHOR_TAG_RE / HREF_ATTR_RE / ANCHOR_TEXT_RE / LINK_SCHEMES — the
Java-regex ∩ RE2 subset), so the DuckDB twins in gate_links.py and
tests/test_links.py run the identical patterns.  No UDFs anywhere.

Extraction rule, not a parser: an anchor counts iff it matches
ANCHOR_TAG_RE whole (quoted href, no nested markup in the inner text);
href resolution handles absolute http(s), protocol-relative and
root-relative forms and DROPS everything else (mailto:, javascript:,
fragments, relative paths — semantics.py states why).  Deterministic
and engine-portable beats exhaustively lenient for a corpus-scale edge
list.

Scale shape (100 TB): anchor extraction is regexp_extract_all + explode
— a generate inside the scan stage, zero exchanges; resolution and
normalization are pure projections; ``link_edges`` is ONE shuffle
(distinct on the edge pair); ``host_graph`` re-aggregates the already
distinct edges with a map-side partial agg.  Nothing is quadratic in
pages; the edge list is linear in the anchor count.  The host graph
feeds graph.pagerank_fixed_point unchanged (composition pinned in
tests/test_links.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import semantics as S
from .urls import normalize_url, registered_domain, url_parts


def extract_anchors(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """One row per matched <a ...>text</a> element: (url_col, href,
    anchor_text).  ``html_col`` may be binary (WARC payload) or string —
    cast to string up front.  Generate-only: no exchange."""
    html = F.col(html_col).cast("string")
    anchor = F.explode(
        F.regexp_extract_all(html, F.lit(S.ANCHOR_TAG_RE), F.lit(0))
    ).alias("_anchor")
    return (
        pages.select(F.col(url_col), anchor)
        .select(
            url_col,
            F.regexp_extract("_anchor", S.HREF_ATTR_RE, 1).alias("href"),
            F.trim(
                F.regexp_extract("_anchor", S.ANCHOR_TEXT_RE, 1)
            ).alias("anchor_text"),
        )
    )


def resolve_href(src_url: Column, href: Column) -> Column:
    """href → normalized absolute URL per the semantics.LINK_SCHEMES
    resolution rule, or NULL when the href form is dropped.  Pure
    Column expression (whole-stage codegen)."""
    sp = url_parts(src_url)
    hscheme = F.lower(url_parts(href)["scheme"])
    candidate = (
        # absolute '<scheme>://...' href: keep iff scheme is http(s)
        F.when(
            hscheme != "",
            F.when(hscheme.isin(*S.LINK_SCHEMES), href).otherwise(F.lit(None)),
        )
        # protocol-relative '//host/...': source page's scheme
        .when(
            href.startswith("//"),
            F.when(
                sp["scheme"] != "",
                F.concat(sp["scheme"], F.lit(":"), href),
            ).otherwise(F.lit(None)),
        )
        # root-relative '/...': source's scheme://authority
        .when(
            href.startswith("/"),
            F.when(
                sp["scheme"] != "",
                F.concat(sp["scheme"], F.lit("://"), sp["authority"], href),
            ).otherwise(F.lit(None)),
        )
        # everything else (mailto:, javascript:, fragments, relative paths)
        .otherwise(F.lit(None))
    )
    return normalize_url(candidate)


def extract_links(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url_col, href, anchor_text, dst_url) — one row per anchor whose
    href resolves; dropped forms are filtered out.  Still generate +
    projection only."""
    anchors = extract_anchors(pages, url_col=url_col, html_col=html_col)
    # keep-filter as the CHEAP nullness equivalent of resolve_href (the
    # cdx/sitemaps lesson — a dst_url IS NOT NULL filter substitutes the
    # whole resolve+normalize chain into the post-Generate Filter):
    # resolve_href is non-NULL exactly for an absolute href whose scheme
    # is kept, or a protocol/root-relative href ('//…' or '/…', both
    # start with '/') on a scheme-bearing source page.
    hscheme = F.lower(url_parts(F.col("href"))["scheme"])
    keep = hscheme.isin(*S.LINK_SCHEMES) | (
        F.col("href").startswith("/")
        & (url_parts(F.col(url_col))["scheme"] != "")
    )
    return anchors.where(keep).withColumn(
        "dst_url", resolve_href(F.col(url_col), F.col("href"))
    )


def link_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Distinct directed page-level edges (src, dst): src is the
    NORMALIZED source url (so re-captures of one page collapse), dst the
    resolved+normalized target; self-loops dropped.  ONE exchange — the
    distinct on the edge pair."""
    links = extract_links(pages, url_col=url_col, html_col=html_col)
    return (
        links.select(
            normalize_url(F.col(url_col)).alias("src"),
            F.col("dst_url").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def anchor_text_profile(
    pages: DataFrame,
    k: int = 3,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(dst_url, anchor_text, n_mentions, rank): the top-``k`` anchor
    texts per resolved link target, by mention count (ties by anchor
    text ASC — fully deterministic).  Anchor text is the classic
    entity-name signal: what the web CALLS a target page, feeding
    entity linking the way the reference feeds surface forms from its
    own extraction (entity-extraction-agent.ts).

    Two exchanges: one map-side-combinable count agg on (dst,
    anchor_text), one WindowGroupLimit rank on dst — bounded per-group
    state, never a full sort."""
    from pyspark.sql import Window

    counts = (
        extract_links(pages, url_col=url_col, html_col=html_col)
        .groupBy("dst_url", "anchor_text")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    w = Window.partitionBy("dst_url").orderBy(
        F.desc("n_mentions"), F.asc("anchor_text")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def host_rollup(edges: DataFrame) -> DataFrame:
    """Distinct page-level (src, dst) edges → (src_domain, dst_domain,
    n_links) at registered-domain granularity.  Same-domain edges are
    dropped, the usual ranking convention (nav/self links dominate
    otherwise).  Map-side partial agg over the already-distinct edge
    list; the output feeds
    graph.pagerank_fixed_point(src='src_domain', dst='dst_domain')
    directly."""
    rolled = edges.select(
        registered_domain(F.col("src")).alias("src_domain"),
        registered_domain(F.col("dst")).alias("dst_domain"),
    ).where(F.col("src_domain") != F.col("dst_domain"))
    return rolled.groupBy("src_domain", "dst_domain").agg(
        F.count(F.lit(1)).alias("n_links")
    )


def host_graph(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """pages → host-level link graph in one call:
    host_rollup(link_edges(pages))."""
    return host_rollup(link_edges(pages, url_col=url_col, html_col=html_col))
