"""Sitemap/feed discovery tier (operators/sitemaps.py): extraction-rule
edge cases on handcrafted XML, DuckDB twins over fixtures synthesized
identically in both engines from the real sf0.001 documents table (the
gate_sitemaps members), and the frontier composition (discovered urls
minus crawled captures = what a crawler fetches next)."""

from __future__ import annotations

import duckdb
from pyspark.sql import Row
from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.gate_sitemaps import (
    SITEMAP_SUITE_MEMBERS,
    feed_pages,
    mixed_pages,
    urlset_pages,
)
from agenticknowledgegraphconstructionsystem_spark.operators.sitemaps import (
    discovered_urls,
    feed_items,
    robots_sitemap_urls,
    sitemap_index_entries,
    sitemap_url_entries,
    xml_unescape,
)

SF_DIR = "/root/testdata/sf0.001"


def _duck(sql):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    return sorted(
        tuple(r) for r in con.execute(sql).fetchall()
    )


def _member_sql(name):
    return next(
        sql for g, _fn, sql, _cols in SITEMAP_SUITE_MEMBERS if g == name
    )


# ---------------------------------------------------------------------------
# extraction-rule edge cases
# ---------------------------------------------------------------------------


def test_xml_unescape_order(spark):
    """&amp; last: '&amp;lt;' must yield '&lt;', not '<'."""
    df = spark.createDataFrame([Row(t="&amp;lt; &lt; &gt; &quot; &apos; &amp;")])
    got = df.select(xml_unescape(F.col("t")).alias("u")).collect()[0]["u"]
    assert got == "&lt; < > \" ' &"


def test_sitemap_url_entries_rules(spark):
    xml = (
        "<urlset>\n"
        " <url>\n  <loc>\n    HTTPS://WWW.Ex.COM:443/a?x=1&amp;utm_source=m\n  </loc>\n"
        "  <lastmod>2025-01-02</lastmod>\n  <changefreq>daily</changefreq>\n"
        "  <priority>0.8</priority>\n </url>\n"
        " <url><loc>/relative</loc></url>\n"
        " <url><loc>ftp://x.org/f</loc></url>\n"
        " <url><loc>http://ex.com/b</loc></url>\n"
        "</urlset>"
    )
    df = spark.createDataFrame([Row(url="https://ex.com/s.xml", html=xml)])
    rows = sorted(
        (r["loc"], r["lastmod"], r["changefreq"], r["priority"])
        for r in sitemap_url_entries(df).collect()
    )
    # newline-indented loc stripped, entity unescaped, tracking param cut,
    # case+port normalized; relative/ftp dropped whole; absent children NULL
    assert rows == [
        ("http://ex.com/b", None, None, None),
        ("https://www.ex.com/a?x=1", "2025-01-02", "daily", "0.8"),
    ]


def test_sitemap_entries_binary_body(spark):
    """WARC payloads carry the body as binary — the operator casts."""
    xml = b"<urlset><url><loc>https://e.org/x</loc></url></urlset>"
    df = spark.createDataFrame(
        [Row(url="https://e.org/s.xml", html=xml)], "url string, html binary"
    )
    assert [r["loc"] for r in sitemap_url_entries(df).collect()] == [
        "https://e.org/x"
    ]


def test_sitemap_index_entries_rules(spark):
    xml = (
        "<sitemapindex><sitemap>\n<loc> https://e.org/m/p1.xml?a=1&amp;b=2 </loc>\n"
        "</sitemap><sitemap><loc>rel.xml</loc></sitemap></sitemapindex>"
    )
    df = spark.createDataFrame([Row(url="https://e.org/i.xml", html=xml)])
    assert [r["child_url"] for r in sitemap_index_entries(df).collect()] == [
        "https://e.org/m/p1.xml?a=1&b=2"
    ]


def test_feed_items_rules(spark):
    rss = (
        "<rss version=\"2.0\"><channel><title>chan</title>"
        "<link>https://e.org/</link>"  # channel-level link: NOT an item
        "<item><title>T1 &amp; more</title><link> https://E.org/p/1 </link>"
        "<pubDate>Mon, 01 Jan 2025</pubDate></item>"
        "<item><title>linkless</title></item>"
        "</channel></rss>"
    )
    atom = (
        '<feed xmlns="http://www.w3.org/2005/Atom"><title>f</title>'
        '<entry><title>A1</title>'
        '<link rel="alternate" href="https://e.org/a/1?utm_x=9"/>'
        "<updated>2025-02-03</updated></entry>"
        '<entry><link href="mailto:skip@x"/><title>skip</title></entry>'
        "</feed>"
    )
    df = spark.createDataFrame(
        [
            Row(url="https://e.org/feed.rss", html=rss),
            Row(url="https://e.org/atom.xml", html=atom),
        ]
    )
    rows = sorted(
        (r["kind"], r["item_url"], r["title"], r["published"])
        for r in feed_items(df).collect()
    )
    assert rows == [
        ("atom", "https://e.org/a/1", "A1", "2025-02-03"),
        ("rss", "https://e.org/p/1", "T1 & more", "Mon, 01 Jan 2025"),
    ]


def test_robots_sitemap_urls_rules(spark):
    df = spark.createDataFrame(
        [
            Row(
                domain="e.org",
                robots_txt=(
                    "User-agent: *\nDisallow: /x\n"
                    "Sitemap: https://e.org/s.xml # main\n"
                    "sitemap: HTTPS://E.ORG:443/t.xml?utm_q=1&v=2\n"
                    "SiteMap: rel/skip.xml"
                ),
            )
        ]
    )
    got = sorted(r["sitemap_url"] for r in robots_sitemap_urls(df).collect())
    # group-independent, comment tail stripped, case-insensitive field,
    # normalized value, relative dropped
    assert got == ["https://e.org/s.xml", "https://e.org/t.xml?v=2"]


# ---------------------------------------------------------------------------
# DuckDB twin parity (the gate members, at sf0.001)
# ---------------------------------------------------------------------------


def test_sitemap_entries_match_duckdb_twin(spark):
    pages = urlset_pages(spark, SF_DIR)
    got = sorted(
        tuple(r)
        for r in sitemap_url_entries(pages)
        .select("sitemap_url", "loc", "lastmod", "changefreq", "priority")
        .collect()
    )
    assert got == _duck(_member_sql("sitemap_entries"))
    # non-vacuous: exactly 2 of 4 entries survive per sitemap document
    assert len(got) == 2 * pages.count()
    assert all(
        "utm_" not in loc and loc.startswith(("http://", "https://"))
        for _s, loc, _l, _c, _p in got
    )


def test_feed_items_match_duckdb_twin(spark):
    pages = feed_pages(spark, SF_DIR)
    got = sorted(
        tuple(r)
        for r in feed_items(pages)
        .select("feed_url", "kind", "item_url", "title", "published")
        .collect()
    )
    assert got == _duck(_member_sql("feed_items"))
    # exactly one kept item per feed document, both kinds present
    assert len(got) == pages.count()
    assert {k for _f, k, _u, _t, _p in got} == {"rss", "atom"}


def test_discovered_matches_duckdb_twin(spark):
    pages = mixed_pages(spark, SF_DIR)
    got = sorted(tuple(r) for r in discovered_urls(pages).collect())
    assert got == _duck(_member_sql("discovered_urls"))
    by_url = {r[0]: r[1:] for r in got}
    # at least one url is referenced by BOTH an anchor and a sitemap loc
    # (the html1 anchor targets the urlset loc shape)
    assert any(a > 0 and s > 0 for a, s, _f, _c in by_url.values())
    # the k=0 anchor chain: page i points at page i+5, which IS a capture
    assert any(a > 0 and c == 1 for a, _s, _f, c in by_url.values())
    # and the frontier is non-empty: discovered-but-not-crawled urls exist
    assert any(c == 0 for _a, _s, _f, c in by_url.values())


def test_frontier_composition(spark):
    """discovered_urls(crawled=0) is exactly the fetch list: disjoint
    from the capture set, non-empty, all absolute http(s)."""
    pages = mixed_pages(spark, SF_DIR)
    frontier = discovered_urls(pages).where(F.col("crawled") == 0)
    from agenticknowledgegraphconstructionsystem_spark.operators.urls import (
        normalize_url,
    )

    captures = {
        r["u"]
        for r in pages.select(normalize_url(F.col("url")).alias("u"))
        .distinct()
        .collect()
    }
    urls = [r["url"] for r in frontier.collect()]
    assert urls and not (set(urls) & captures)
    assert all(u.startswith(("http://", "https://")) for u in urls)


def test_crawl_schedule_composition(spark):
    """frontier + host PageRank + robots → the fetch list: uncrawled
    only, disallowed urls dropped, per-host cap enforced, rank-in-host
    by reference weight then url, host_pr joined (0 for unranked
    hosts)."""
    from agenticknowledgegraphconstructionsystem_spark.operators.sitemaps import (
        crawl_schedule,
    )

    frontier = spark.createDataFrame(
        [
            # url, anchors, sitemaps, feeds, crawled
            Row(url="https://a.example/1", from_anchors=3, from_sitemaps=0,
                from_feeds=0, crawled=0),
            Row(url="https://a.example/2", from_anchors=1, from_sitemaps=1,
                from_feeds=1, crawled=0),
            Row(url="https://a.example/3", from_anchors=1, from_sitemaps=0,
                from_feeds=0, crawled=0),
            Row(url="https://a.example/no/4", from_anchors=9, from_sitemaps=0,
                from_feeds=0, crawled=0),          # robots-disallowed
            Row(url="https://a.example/5", from_anchors=9, from_sitemaps=9,
                from_feeds=9, crawled=1),          # already crawled
            Row(url="https://b.example/x", from_anchors=0, from_sitemaps=1,
                from_feeds=0, crawled=0),          # host w/o rank row
        ]
    )
    host_rank = spark.createDataFrame([Row(node="a.example", pr=7000)])
    robots = spark.createDataFrame(
        [Row(domain="a.example",
             robots_txt="User-agent: *\nDisallow: /no\nCrawl-delay: 4")]
    )
    got = sorted(
        tuple(r)
        for r in crawl_schedule(
            frontier, host_rank, robots=robots, per_host_cap=2
        ).collect()
    )
    assert got == [
        # a.example: /1 (3 refs) beats /2 (3 refs) on url ASC? no — equal
        # refs tie-break by url ASC, so /1 then /2; /3 capped out;
        # /no/4 disallowed; /5 crawled.  With robots given, the
        # group-governed Crawl-delay rides along (NULL = default).
        ("https://a.example/1", "a.example", 7000, 1, 4),
        ("https://a.example/2", "a.example", 7000, 2, 4),
        ("https://b.example/x", "b.example", 0, 1, None),
    ]


def test_crawl_schedule_matches_duckdb_twin(spark):
    """The gate member: frontier × per-domain capture count (the
    deterministic host signal) capped at 3/host, vs the DuckDB twin."""
    from agenticknowledgegraphconstructionsystem_spark.gate_sitemaps import (
        q_crawl_schedule,
    )

    got = sorted(tuple(r) for r in q_crawl_schedule(spark, SF_DIR).collect())
    assert got == _duck(_member_sql("crawl_schedule"))
    # capped, ranked 1..k per host, only uncrawled urls
    per = {}
    for _u, d, _p, rk in got:
        per.setdefault(d, []).append(rk)
    assert per and all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 3
                       for v in per.values())


def test_recrawl_schedule_rules(spark):
    """Cadence table, W3C-datetime prefix parse, invalid-date and
    unknown-cadence NULLs, due boundary (next_fetch == as_of is due)."""
    from agenticknowledgegraphconstructionsystem_spark.operators.sitemaps import (
        recrawl_schedule,
    )

    entries = spark.createDataFrame(
        [
            Row(loc="u1", lastmod="2025-01-01", changefreq="daily"),
            Row(loc="u2", lastmod="2025-01-03T04:05:06Z", changefreq="weekly"),
            Row(loc="u3", lastmod="2025-01-01", changefreq="yearly"),
            Row(loc="u4", lastmod="2025-13-01", changefreq="daily"),
            Row(loc="u5", lastmod="2025-01-01", changefreq="never"),
            Row(loc="u6", lastmod=None, changefreq="hourly"),
            Row(loc="u7", lastmod="2025-01-09", changefreq="daily"),
        ]
    )
    got = {
        r["loc"]: (str(r["next_fetch"]) if r["next_fetch"] else None, r["due"])
        for r in recrawl_schedule(entries, as_of="2025-01-10").collect()
    }
    assert got == {
        "u1": ("2025-01-02", 1),
        "u2": ("2025-01-10", 1),   # boundary: == as_of is due
        "u3": ("2026-01-01", 0),
        "u4": (None, 0),           # invalid date → NULL, never due
        "u5": (None, 0),           # 'never' → no auto-revisit
        "u6": (None, 0),
        "u7": ("2025-01-10", 1),
    }
