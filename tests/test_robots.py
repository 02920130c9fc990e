"""robots.txt tier (operators/robots.py): RFC 9309 group selection,
line grammar, longest-match precedence, and the plan-shape contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.operators.robots import (
    parse_robots,
    robots_verdicts,
)

R_MAIN = """# site robots
User-agent: GoodBot
User-agent: OtherBot
Disallow: /private/
Allow: /private/ok

User-agent: *
Disallow: /tmp/
Allow: /tmp/keep
Disallow: /wild/*/x
Disallow:
Disallow: noslash
Crawl-delay: 5
"""
R_ALL = "User-agent: *\nDisallow: /\nAllow: /public/\n"


def _robots(spark):
    return spark.createDataFrame(
        [("a.example", R_MAIN), ("b.example", R_ALL)],
        "domain string, robots_txt string",
    )


def test_group_selection_exact_beats_star(spark):
    """For GoodBot, a.example's exact group shadows its '*' group
    entirely (Disallow: / must NOT leak in); agent match is
    case-insensitive; multi-agent header runs share rules."""
    got = {
        (r["domain"], r["rule"], r["path_prefix"])
        for r in parse_robots(_robots(spark), agent="goodbot").collect()
    }
    assert got == {
        ("a.example", "disallow", "/private/"),
        ("a.example", "allow", "/private/ok"),
        ("b.example", "disallow", "/"),
        ("b.example", "allow", "/public/"),
    }


def test_star_group_and_dropped_forms(spark):
    """For an unlisted agent the '*' group applies; wildcard, empty and
    no-leading-slash rules (and Crawl-delay) drop."""
    got = {
        (r["rule"], r["path_prefix"])
        for r in parse_robots(_robots(spark), agent="Nobody")
        .where(F.col("domain") == "a.example")
        .collect()
    }
    assert got == {("disallow", "/tmp/"), ("allow", "/tmp/keep")}


def test_verdict_longest_match_and_defaults(spark):
    pages = spark.createDataFrame(
        [
            ("https://www.a.example/tmp/keep/page",),  # allow (longer)
            ("https://a.example/tmp/other",),  # disallow
            ("https://a.example/free",),  # no match → allowed
            ("https://b.example/public/x",),  # allow beats /
            ("https://b.example/secret",),  # disallow /
            ("https://c.example/anything",),  # no robots → allowed
        ],
        "url string",
    )
    got = {
        r["url"]: (r["disallowed"], r["matched_prefix"])
        for r in robots_verdicts(pages, _robots(spark)).collect()
    }
    assert got == {
        "https://www.a.example/tmp/keep/page": (False, "/tmp/keep"),
        "https://a.example/tmp/other": (True, "/tmp/"),
        "https://a.example/free": (False, None),
        "https://b.example/public/x": (False, "/public/"),
        "https://b.example/secret": (True, "/"),
        "https://c.example/anything": (False, None),
    }


def test_equal_length_tie_allow_wins(spark):
    robots = spark.createDataFrame(
        [("t.example", "User-agent: *\nAllow: /x\nDisallow: /x\n")],
        "domain string, robots_txt string",
    )
    pages = spark.createDataFrame([("https://t.example/x/1",)], "url string")
    [r] = robots_verdicts(pages, robots).collect()
    assert (r["disallowed"], r["rule"]) == (False, "allow")


def test_parse_plan_sorts_domains_not_corpus(spark):
    """Scale contract: the parse windows partition by domain (each
    domain's handful of lines), the verdict keeps ONE WindowGroupLimit
    per url and no cartesian product."""
    robots = _robots(spark)
    pages = spark.createDataFrame([("https://a.example/x",)], "url string")
    plan = (
        robots_verdicts(pages, robots)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan

def test_crawl_delays_group_selection(spark):
    """Crawl-delay follows the SAME group selection as Allow/Disallow:
    the exact-agent group shadows '*' (so a *-group delay must not leak
    onto the exact agent — allow/disallow lines keep separating UA
    runs), min of multiple numeric lines wins, non-numeric drops,
    delay-less domains are absent."""
    from agenticknowledgegraphconstructionsystem_spark.operators.robots import (
        crawl_delays,
    )
    from pyspark.sql import Row

    robots = spark.createDataFrame(
        [
            Row(domain="a.example", robots_txt=(
                "User-agent: KGBot\nDisallow: /no\n\n"
                "User-agent: *\nDisallow: /\nCrawl-delay: 10")),
            Row(domain="b.example", robots_txt=(
                "User-agent: *\nDisallow: /x\n"
                "Crawl-delay: 7 # slow\nCrawl-delay: junk\nCrawl-delay: 2")),
            Row(domain="c.example", robots_txt="User-agent: *\nDisallow: /p"),
        ]
    )
    got = sorted(map(tuple, crawl_delays(robots, agent="KGBot").collect()))
    assert got == [("b.example", 2)]
    # for an agent the exact group does NOT govern, the '*' delay applies
    got2 = sorted(map(tuple, crawl_delays(robots, agent="Other").collect()))
    assert got2 == [("a.example", 10), ("b.example", 2)]
