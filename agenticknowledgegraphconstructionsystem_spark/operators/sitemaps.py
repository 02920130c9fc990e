"""Sitemap / feed URL discovery — how a web-scale crawl finds the urls
it hasn't fetched yet, from the corpus it already has: XML sitemaps
(the sitemaps.org protocol: <urlset> entries and <sitemapindex>
children), ``Sitemap:`` directives in robots.txt (RFC 9309 §2.3 —
group-independent lines), and RSS 2.0 / Atom (RFC 4287) feed items.
The reference discovers new documents by calling search/citation APIs
(fetch_papers.py:59-189, fetch_citing_papers.py:85-264); a
Common-Crawl-style pipeline discovers them from sitemaps, feeds, and
the link graph itself — this module is that first mile, composing with
operators/links.py anchors into one deduplicated crawl frontier
(``discovered_urls``).

Extraction rule, not a parser (the ANCHOR_TAG_RE stance): whole
<url>/<sitemap>/<item>/<entry> blocks match via the ``(?s)`` non-greedy
semantics.SITEMAP_* patterns; child elements are plain
``<tag>text</tag>`` with no nested markup.  Discovered candidates are
whitespace-stripped (XML_STRIP_WS_RE — engine trim() only eats spaces,
sitemap <loc> bodies are routinely newline-indented), XML-entity-
unescaped (XML_ENTITIES, ``&amp;`` last), kept iff absolute http(s)
(the sitemaps.org MUST-be-absolute rule; relative/ftp/mailto locs drop
whole), and normalized by urls.normalize_url.  Everything is pure
Column work from semantics constants, so the DuckDB twins in
gate_sitemaps.py run identical semantics.  No UDFs.

Scale shape (100 TB): block extraction is regexp_extract_all + explode
— a generate inside the scan stage, zero exchanges; child pulls and
the keep/normalize rules are pure projections.  ``discovered_urls`` is
ONE shuffle (the groupBy url that merges sources) plus one left join
against the distinct crawled-url set — both key on the normalized url,
both AQE-skew-safe; nothing is quadratic in pages, and the frontier is
linear in the reference count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import semantics as S
from .urls import normalize_url, url_parts


def xml_unescape(text: Column) -> Column:
    """Sequential literal replaces of the five XML entities,
    ``&amp;`` last (semantics.XML_ENTITIES order) so '&amp;lt;'
    correctly yields '&lt;'."""
    out = text
    for ent, ch in S.XML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def _clean(text: Column) -> Column:
    """Strip leading/trailing whitespace (incl. newlines — engine trim
    only eats spaces), then unescape XML entities; '' → NULL."""
    return F.nullif(
        xml_unescape(F.regexp_replace(text, S.XML_STRIP_WS_RE, "")),
        F.lit(""),
    )


def _child(block: Column, pattern: str) -> Column:
    """First <tag>text</tag> child match in an extracted block, cleaned;
    NULL when the element is absent."""
    return _clean(F.regexp_extract(block, pattern, 1))


def abs_http_url(cand: Column) -> Column:
    """Keep-and-normalize rule for discovered candidates: absolute
    http(s) URLs normalize via urls.normalize_url; every other form
    (relative, ftp:, mailto:, NULL) → NULL."""
    scheme = F.lower(url_parts(cand)["scheme"])
    return F.when(scheme.isin(*S.LINK_SCHEMES), normalize_url(cand))


def _abs_http_keep(cand: Column) -> Column:
    """The CHEAP nullness equivalent of ``abs_http_url(cand) IS NOT
    NULL`` — one scheme extraction instead of the full normalize chain
    (NULL cand → NULL scheme → not kept; a kept scheme implies the
    rebuilt URL is non-null, see the cdx scheme-equivalence note).
    Used as the keep-filter so predicate pushdown substitutes THIS into
    the post-Generate Filter, not the whole candidate expression."""
    return F.lower(url_parts(cand)["scheme"]).isin(*S.LINK_SCHEMES)


def _blocks(
    pages: DataFrame,
    kind_re: str,
    block_re: str,
    url_col: str,
    body_col: str,
    out_url: str,
) -> DataFrame:
    """(out_url, _b) — one row per extracted block on pages whose body
    matches ``kind_re``.  Generate-only: no exchange."""
    body = F.col(body_col).cast("string")
    return pages.where(body.rlike(kind_re)).select(
        F.col(url_col).alias(out_url),
        F.explode(
            F.regexp_extract_all(body, F.lit(block_re), F.lit(0))
        ).alias("_b"),
    )


def sitemap_url_entries(
    pages: DataFrame, url_col: str = "url", body_col: str = "html"
) -> DataFrame:
    """<urlset> sitemaps → one row per kept <url> entry:
    (sitemap_url, loc, lastmod, changefreq, priority).  ``loc`` is the
    cleaned+normalized absolute http(s) URL (entries whose loc is
    relative/non-http drop whole); the optional children stay as
    cleaned strings (NULL when absent) — ``priority`` deliberately
    remains text ('0.8') so the value crosses engines exactly."""
    b = _blocks(
        pages, S.SITEMAP_URLSET_KIND_RE, S.SITEMAP_URL_BLOCK_RE,
        url_col, body_col, "sitemap_url",
    )
    return b.where(_abs_http_keep(_child(F.col("_b"), S.XML_LOC_RE))).select(
        "sitemap_url",
        abs_http_url(_child(F.col("_b"), S.XML_LOC_RE)).alias("loc"),
        _child(F.col("_b"), S.XML_LASTMOD_RE).alias("lastmod"),
        _child(F.col("_b"), S.XML_CHANGEFREQ_RE).alias("changefreq"),
        _child(F.col("_b"), S.XML_PRIORITY_RE).alias("priority"),
    )


def sitemap_index_entries(
    pages: DataFrame, url_col: str = "url", body_col: str = "html"
) -> DataFrame:
    """<sitemapindex> files → (sitemap_url, child_url): the child
    sitemaps a crawler must fetch next.  Same clean/keep/normalize rule
    as <urlset> locs."""
    b = _blocks(
        pages, S.SITEMAP_INDEX_KIND_RE, S.SITEMAP_CHILD_BLOCK_RE,
        url_col, body_col, "sitemap_url",
    )
    return b.where(_abs_http_keep(_child(F.col("_b"), S.XML_LOC_RE))).select(
        "sitemap_url",
        abs_http_url(_child(F.col("_b"), S.XML_LOC_RE)).alias("child_url"),
    )


def feed_items(
    pages: DataFrame, url_col: str = "url", body_col: str = "html"
) -> DataFrame:
    """RSS 2.0 <item>s and Atom <entry>s → (feed_url, kind, item_url,
    title, published).  RSS links are element text (<link>…</link>);
    Atom links are the href attribute of the entry's FIRST <link …>
    tag (regexp_extract's first-match rule, identical both engines).
    ``published`` is <pubDate> (RSS) / <updated> (Atom), cleaned text.
    Items whose link is missing or non-http(s) drop whole — this is a
    frontier feeder, not a feed reader.  A body matching both kind
    patterns counts as RSS (documented precedence)."""
    body = F.col(body_col).cast("string")
    rss_b = _blocks(
        pages, S.RSS_KIND_RE, S.RSS_ITEM_BLOCK_RE, url_col, body_col,
        "feed_url",
    )
    rss = rss_b.where(_abs_http_keep(_child(F.col("_b"), S.RSS_LINK_RE))).select(
        "feed_url",
        F.lit("rss").alias("kind"),
        abs_http_url(_child(F.col("_b"), S.RSS_LINK_RE)).alias("item_url"),
        _child(F.col("_b"), S.XML_TITLE_RE).alias("title"),
        _child(F.col("_b"), S.RSS_PUBDATE_RE).alias("published"),
    )
    atom_pages = pages.where(~body.rlike(S.RSS_KIND_RE))
    atom_b = _blocks(
        atom_pages, S.ATOM_KIND_RE, S.ATOM_ENTRY_BLOCK_RE, url_col,
        body_col, "feed_url",
    )
    link_tag = F.regexp_extract(F.col("_b"), S.LINK_TAG_RE, 0)
    atom_raw = F.nullif(
        xml_unescape(F.regexp_extract(link_tag, S.HREF_ATTR_RE, 1)), F.lit("")
    )
    atom = atom_b.where(_abs_http_keep(atom_raw)).select(
        "feed_url",
        F.lit("atom").alias("kind"),
        abs_http_url(atom_raw).alias("item_url"),
        _child(F.col("_b"), S.XML_TITLE_RE).alias("title"),
        _child(F.col("_b"), S.ATOM_UPDATED_RE).alias("published"),
    )
    # the per-branch keep-filters above make every unioned row's
    # item_url non-null by construction — no post-union filter needed
    return rss.unionByName(atom)


def robots_sitemap_urls(robots: DataFrame) -> DataFrame:
    """robots.txt ``Sitemap:`` directives → distinct (domain,
    sitemap_url).  Per RFC 9309 §2.3 the line is group-independent, so
    this reads every line regardless of User-agent groups — the same
    line grammar as operators/robots.py (comment tail stripped,
    case-insensitive field), value kept iff absolute http(s)."""
    lines = robots.select(
        "domain",
        F.explode(F.split(F.col("robots_txt"), "\n")).alias("raw"),
    ).select(
        "domain",
        F.trim(F.regexp_replace(F.col("raw"), S.ROBOTS_COMMENT_RE, "")).alias(
            "line"
        ),
    )
    parsed = lines.select(
        "domain",
        F.lower(F.regexp_extract("line", S.ROBOTS_FIELD_RE, 1)).alias("field"),
        F.trim(F.regexp_extract("line", S.ROBOTS_VALUE_RE, 1)).alias("value"),
    )
    return (
        parsed.where((F.col("field") == "sitemap") & _abs_http_keep(F.col("value")))
        .select("domain", abs_http_url(F.col("value")).alias("sitemap_url"))
        .distinct()
    )


def discovered_urls(
    pages: DataFrame, url_col: str = "url", body_col: str = "html"
) -> DataFrame:
    """The deduplicated crawl frontier a corpus yields about ITSELF:
    every absolute http(s) URL discoverable from page anchors
    (operators/links.py over non-sitemap/non-feed pages), sitemap
    <loc>s (urlset entries + index children), and feed item links —
    one row per normalized url with per-source reference counts and a
    ``crawled`` flag (the url is already a capture in ``pages``).

    Scale shape: ONE pass over pages — the body is scanned once, the
    four kind tests bind to columns, every block family extracts into an
    array in the same projection, and a single Generate explodes the
    concatenated (kind, block) structs (before: four branch subplans
    each re-scanned + re-exchanged the pages input, the measured
    majority of the query wall at 10x gate scale).  Then ONE
    groupBy-url shuffle merges sources; the crawled flag is a left join
    against the distinct normalized capture urls.  ``crawled = 0`` rows
    ARE the frontier."""
    from .links import resolve_href

    body = F.col(body_col).cast("string")
    bound = pages.select(
        F.col(url_col).alias("_src_url"),
        body.alias("_body"),
        body.rlike(S.SITEMAP_URLSET_KIND_RE).alias("_k_urlset"),
        body.rlike(S.SITEMAP_INDEX_KIND_RE).alias("_k_index"),
        body.rlike(S.RSS_KIND_RE).alias("_k_rss"),
        body.rlike(S.ATOM_KIND_RE).alias("_k_atom"),
    )
    b = F.col("_body")
    is_sitemapish = (
        F.col("_k_urlset") | F.col("_k_index") | F.col("_k_rss") | F.col("_k_atom")
    )
    empty = F.array().cast("array<string>")

    def _family(cond, block_re, kind):
        blocks = F.when(cond, F.regexp_extract_all(b, F.lit(block_re), F.lit(0))).otherwise(
            empty
        )
        return F.transform(
            blocks,
            lambda x: F.struct(F.lit(kind).alias("kind"), x.alias("raw")),
        )

    exploded = bound.select(
        "_src_url",
        F.explode(
            F.concat(
                _family(~is_sitemapish, S.ANCHOR_TAG_RE, "anchor"),
                _family(F.col("_k_urlset"), S.SITEMAP_URL_BLOCK_RE, "loc"),
                _family(F.col("_k_index"), S.SITEMAP_CHILD_BLOCK_RE, "child"),
                _family(F.col("_k_rss"), S.RSS_ITEM_BLOCK_RE, "rss"),
                # documented precedence: a body matching both kinds is RSS
                _family(
                    ~F.col("_k_rss") & F.col("_k_atom"), S.ATOM_ENTRY_BLOCK_RE, "atom"
                ),
            )
        ).alias("_e"),
    ).select("_src_url", F.col("_e.kind").alias("_kind"), F.col("_e.raw").alias("_raw"))
    raw = F.col("_raw")
    atom_link_tag = F.regexp_extract(raw, S.LINK_TAG_RE, 0)
    cand = (
        # per-kind candidate url — the exact expressions of the four
        # standalone extractors (extract_links / sitemap_url_entries /
        # sitemap_index_entries / feed_items)
        F.when(
            F.col("_kind") == "anchor",
            resolve_href(F.col("_src_url"), F.regexp_extract(raw, S.HREF_ATTR_RE, 1)),
        )
        .when(F.col("_kind").isin("loc", "child"), abs_http_url(_child(raw, S.XML_LOC_RE)))
        .when(F.col("_kind") == "rss", abs_http_url(_child(raw, S.RSS_LINK_RE)))
        .otherwise(
            abs_http_url(
                F.nullif(
                    xml_unescape(F.regexp_extract(atom_link_tag, S.HREF_ATTR_RE, 1)),
                    F.lit(""),
                )
            )
        )
    )
    src = (
        F.when(F.col("_kind") == "anchor", F.lit("anchor"))
        .when(F.col("_kind").isin("loc", "child"), F.lit("sitemap"))
        .otherwise(F.lit("feed"))
    )
    # keep-filter as the CHEAP nullness-equivalent of ``cand`` per kind
    # (the cdx lesson: a filter on the derived column substitutes the
    # whole candidate CASE into the post-Generate Filter, evaluating it
    # twice per block row).  abs_http_url(c) is NULL iff lower(scheme(c))
    # ∉ LINK_SCHEMES (NULL c → NULL scheme → dropped), and resolve_href
    # is NULL iff its candidate is: an absolute href with a non-kept
    # scheme, or a protocol/root-relative href on a schemeless source,
    # or anything else — i.e. kept iff href's scheme ∈ schemes, or
    # href starts with '/' (covers '//') on a scheme-bearing source.
    href = F.regexp_extract(raw, S.HREF_ATTR_RE, 1)
    hscheme = F.lower(url_parts(href)["scheme"])
    src_scheme = url_parts(F.col("_src_url"))["scheme"]
    anchor_keep = hscheme.isin(*S.LINK_SCHEMES) | (
        href.startswith("/") & (src_scheme != "")
    )

    def _scheme_keep(c):
        return F.lower(url_parts(c)["scheme"]).isin(*S.LINK_SCHEMES)

    keep = (
        F.when(F.col("_kind") == "anchor", anchor_keep)
        .when(F.col("_kind").isin("loc", "child"), _scheme_keep(_child(raw, S.XML_LOC_RE)))
        .when(F.col("_kind") == "rss", _scheme_keep(_child(raw, S.RSS_LINK_RE)))
        .otherwise(
            _scheme_keep(
                F.nullif(
                    xml_unescape(F.regexp_extract(atom_link_tag, S.HREF_ATTR_RE, 1)),
                    F.lit(""),
                )
            )
        )
    )
    refs = exploded.where(keep).select(cand.alias("url"), src.alias("src"))
    merged = refs.groupBy("url").agg(
        F.sum((F.col("src") == "anchor").cast("bigint")).alias("from_anchors"),
        F.sum((F.col("src") == "sitemap").cast("bigint")).alias("from_sitemaps"),
        F.sum((F.col("src") == "feed").cast("bigint")).alias("from_feeds"),
    )
    crawled = (
        pages.select(normalize_url(F.col(url_col)).alias("url"))
        .distinct()
        .withColumn("crawled", F.lit(1).cast("bigint"))
    )
    return merged.join(crawled, "url", "left").select(
        "url",
        "from_anchors",
        "from_sitemaps",
        "from_feeds",
        F.coalesce(F.col("crawled"), F.lit(0).cast("bigint")).alias("crawled"),
    )


def crawl_schedule(
    frontier: DataFrame,
    host_rank: DataFrame,
    robots: DataFrame | None = None,
    per_host_cap: int | None = None,
    agent: str = "*",
) -> DataFrame:
    """The fetch list a polite crawler runs next: ``frontier`` rows
    (operators/sitemaps.discovered_urls output) that are NOT yet
    crawled, joined to the host PageRank signal (``host_rank``:
    (node, pr) over registered domains — plans/pipeline._host_rank's
    committed table), optionally filtered by robots.txt verdicts and
    capped per host.  → (url, domain, host_pr, rank_in_host[,
    crawl_delay_sec when ``robots`` is given — the group-governed
    Crawl-delay, NULL = crawler default politeness]).

    Determinism: within a host, urls rank by reference weight
    (anchors + sitemaps + feeds) DESC then url ASC; hosts order by
    ``host_pr`` at read time.  There is deliberately NO global
    row_number — a total order would funnel the corpus through one
    partition; the global ordering is a range sort at write/serve time
    (repartitionByRange + sortWithinPartitions).

    Scale shape: one broadcast join against the host table (domains ≪
    urls), one optional domain-keyed join for robots verdicts, ONE
    WindowGroupLimit when capped.  Politeness is per host, so the cap
    is also what bounds any one host's fetch burst.

    Reference analogue: the citation-frontier loop
    (fetch_citing_papers.py:85-264) fetches whatever the API returns
    next; this is the same decision made from corpus-derived signals.
    """
    from .robots import crawl_delays, robots_verdicts
    from .urls import registered_domain

    todo = frontier.where(F.col("crawled") == 0).select(
        "url",
        registered_domain(F.col("url")).alias("domain"),
        (
            F.col("from_anchors") + F.col("from_sitemaps") + F.col("from_feeds")
        ).alias("n_refs"),
    )
    delays = None
    if robots is not None:
        verdicts = robots_verdicts(todo, robots, agent=agent)
        todo = todo.join(
            verdicts.where(~F.col("disallowed")).select("url"), "url", "semi"
        )
        delays = crawl_delays(robots, agent=agent)
    ranked = todo.join(
        F.broadcast(
            host_rank.select(
                F.col("node").alias("domain"), F.col("pr").alias("host_pr")
            )
        ),
        "domain",
        "left",
    ).select(
        "url",
        "domain",
        F.coalesce(F.col("host_pr"), F.lit(0)).alias("host_pr"),
        "n_refs",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("domain").orderBy(
        F.desc("n_refs"), F.asc("url")
    )
    ranked = ranked.withColumn("rank_in_host", F.row_number().over(w))
    if per_host_cap is not None:
        ranked = ranked.where(F.col("rank_in_host") <= per_host_cap)
    out = ranked.select("url", "domain", "host_pr", "rank_in_host")
    if delays is not None:
        # domains are few relative to urls — broadcast, like host_rank
        out = out.join(F.broadcast(delays), "domain", "left").select(
            "url", "domain", "host_pr", "rank_in_host", "crawl_delay_sec"
        )
    return out


def recrawl_schedule(entries: DataFrame, as_of: str) -> DataFrame:
    """sitemap_url_entries output → when each mapped page should be
    re-fetched: (loc, lastmod_date, revisit_days, next_fetch, due).
    ``lastmod`` parses as the date prefix of the W3C datetime form
    (try_to_date — invalid dates go NULL identically in both engines,
    Spark runs ANSI); ``changefreq`` maps to days via
    semantics.CHANGEFREQ_REVISIT_DAYS ('never'/unknown → NULL, no
    auto-revisit); ``next_fetch = lastmod + revisit_days`` (exact date
    arithmetic); ``due`` iff next_fetch ≤ ``as_of``.  Pure projection —
    zero exchanges; feeds crawl_schedule's frontier the re-crawl half
    of the fetch list (new urls come from discovered_urls)."""
    lastmod_date = F.try_to_date(F.substring(F.col("lastmod"), 1, 10))
    freq = F.lower(F.col("changefreq"))
    days = F.lit(None).cast("int")
    for value, d in reversed(S.CHANGEFREQ_REVISIT_DAYS):
        days = F.when(freq == value, F.lit(d)).otherwise(days)
    next_fetch = F.date_add(lastmod_date, days)
    return entries.select(
        "loc",
        lastmod_date.alias("lastmod_date"),
        days.cast("bigint").alias("revisit_days"),
        next_fetch.alias("next_fetch"),
        F.when(
            next_fetch.isNotNull() & (next_fetch <= F.lit(as_of).cast("date")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("due"),
    )
