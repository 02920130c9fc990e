"""robots.txt parsing and crawl-permission verdicts — the crawl
protocol file itself (RFC 9309), the gate every polite web-scale corpus
build runs before fetching or keeping a capture (the reference fetches
APIs, not pages, so it never needed one; a Common-Crawl pipeline does).

Pipeline shape::

    robots(domain, robots_txt) ── parse_robots ──► (domain, group rules)
    pages(url) + rules ── robots_verdicts ──► (url, matched_prefix,
                                               rule, disallowed)

Semantics (constants + rationale in ``semantics``): comment tails strip
per line; contiguous ``User-agent`` lines open ONE group whose rules
follow; the most specific group wins per domain (exact agent name beats
``*``, groups for other agents are ignored); rule paths must start with
'/' and wildcard patterns drop whole (the literal-prefix subset —
documented rule, not a parser); the LONGEST matching prefix decides a
url, ``allow`` wins length ties, no match = allowed, empty ``Disallow``
= no restriction.  Everything is pure Column work (split + posexplode +
two windows + one prefix join), so the DuckDB twin in gate_robots.py
runs identical semantics.  No UDFs.

Scale shape (100 TB): parsing is linear in robots lines — the two
windows (run-id scan, governing-group fill) sort each DOMAIN's handful
of lines, never the corpus; the verdict join shuffles pages once on
registered domain (rules per domain are few — the join explodes to
rules-per-domain candidates, then ONE WindowGroupLimit keeps the
longest match per url).  A skewed mega-domain salts like any other hot
key; nothing is quadratic in pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import semantics as S
from .urls import registered_domain, url_parts


def parse_robots(robots: DataFrame, agent: str = "*") -> DataFrame:
    """(domain, robots_txt) → (domain, rule, path_prefix) for the rules
    governing ``agent``: lines split/posexploded, comment tails
    stripped, contiguous User-agent runs numbered (window 1), each rule
    line bound to its governing run (window 2, last UA run at-or-above),
    then the most specific matching group per domain kept (exact agent
    beats '*').  Wildcard/non-'/' paths and empty values drop here."""
    agent_lc = agent.lower()
    lines = robots.select(
        "domain",
        F.posexplode(F.split(F.col("robots_txt"), "\n")).alias("pos", "raw"),
    ).select(
        "domain",
        "pos",
        F.trim(
            F.regexp_replace(F.col("raw"), S.ROBOTS_COMMENT_RE, "")
        ).alias("line"),
    )
    parsed = lines.select(
        "domain",
        "pos",
        F.lower(F.regexp_extract("line", S.ROBOTS_FIELD_RE, 1)).alias("field"),
        F.trim(F.regexp_extract("line", S.ROBOTS_VALUE_RE, 1)).alias("value"),
    ).where(F.col("field").isin("user-agent", "allow", "disallow"))
    w = Window.partitionBy("domain").orderBy("pos")
    is_ua = F.col("field") == "user-agent"
    new_run = is_ua & ~F.coalesce(F.lag(is_ua).over(w), F.lit(False))
    runs = parsed.withColumn("run_id", F.sum(new_run.cast("int")).over(w))
    bound = runs.withColumn(
        "ua_run",
        F.last(F.when(is_ua, F.col("run_id")), ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    groups = (
        bound.where(is_ua)
        .select(
            "domain",
            F.col("run_id").alias("g_run"),
            F.lower(F.col("value")).alias("g_agent"),
        )
        .where(F.col("g_agent").isin(agent_lc, "*"))
        .select(
            "domain",
            "g_run",
            F.when(F.col("g_agent") == agent_lc, F.lit(1))
            .otherwise(F.lit(2))
            .alias("match_rank"),
        )
    )
    best = groups.groupBy("domain").agg(F.min("match_rank").alias("best_rank"))
    chosen = (
        groups.join(best, "domain")
        .where(F.col("match_rank") == F.col("best_rank"))
        .select(F.col("domain").alias("g_domain"), "g_run")
        .distinct()
    )
    rules = (
        bound.where(~is_ua)
        .join(
            chosen,
            (F.col("domain") == F.col("g_domain"))
            & (F.col("ua_run") == F.col("g_run")),
        )
        .select("domain", F.col("field").alias("rule"), "value")
        .where(
            (F.col("value") != "")
            & F.col("value").startswith("/")
            & ~F.col("value").rlike(S.ROBOTS_WILDCARD_RE)
        )
        .select("domain", "rule", F.col("value").alias("path_prefix"))
        .distinct()
    )
    return rules


def robots_verdicts(
    pages: DataFrame,
    robots: DataFrame,
    agent: str = "*",
    url_col: str = "url",
) -> DataFrame:
    """(url, matched_prefix, rule, disallowed): the longest matching
    rule per page url under the RFC 9309 precedence (allow wins length
    ties); pages on domains without rules — or matching none — are
    allowed with NULL match columns."""
    rules = parse_robots(robots, agent=agent)
    urls = pages.select(
        F.col(url_col).alias("url"),
        registered_domain(F.col(url_col)).alias("domain"),
        url_parts(F.col(url_col))["path"].alias("path"),
    )
    matches = urls.join(rules, "domain").where(
        F.col("path").startswith(F.col("path_prefix"))
    )
    w = Window.partitionBy("url").orderBy(
        F.length("path_prefix").desc(),
        # allow < disallow lexically — allow wins equal-length ties
        F.asc("rule"),
    )
    best = (
        matches.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("url", F.col("path_prefix").alias("matched_prefix"), "rule")
    )
    # urls matching no rule (or on rule-less domains) come back allowed
    return urls.select("url").join(best, "url", "left").select(
        "url",
        "matched_prefix",
        "rule",
        F.coalesce(F.col("rule") == "disallow", F.lit(False)).alias(
            "disallowed"
        ),
    )


def crawl_delays(robots: DataFrame, agent: str = "*") -> DataFrame:
    """(domain, crawl_delay_sec): the ``Crawl-delay`` of the group
    governing ``agent`` — the de-facto politeness extension most
    crawlers honor (not in RFC 9309 proper; same group-selection rule
    as Allow/Disallow: exact agent beats '*', contiguous User-agent
    runs share a group).  Non-numeric values drop; multiple delay
    lines in one group keep the MINIMUM (the conservative read).
    Domains without a delay line are absent — left-join and coalesce
    to the crawler's default politeness.  Feeds crawl scheduling next
    to sitemaps.crawl_schedule's per-host cap."""
    agent_lc = agent.lower()
    lines = robots.select(
        "domain",
        F.posexplode(F.split(F.col("robots_txt"), "\n")).alias("pos", "raw"),
    ).select(
        "domain",
        "pos",
        F.trim(
            F.regexp_replace(F.col("raw"), S.ROBOTS_COMMENT_RE, "")
        ).alias("line"),
    )
    parsed = lines.select(
        "domain",
        "pos",
        F.lower(F.regexp_extract("line", S.ROBOTS_FIELD_RE, 1)).alias("field"),
        F.trim(F.regexp_extract("line", S.ROBOTS_VALUE_RE, 1)).alias("value"),
    ).where(
        # allow/disallow lines must SURVIVE run numbering: they separate
        # contiguous User-agent runs (d0's exact and '*' groups would
        # otherwise merge and the '*' delay would leak onto the exact
        # agent — caught by the gate fixture)
        F.col("field").isin("user-agent", "allow", "disallow", "crawl-delay")
    )
    w = Window.partitionBy("domain").orderBy("pos")
    is_ua = F.col("field") == "user-agent"
    new_run = is_ua & ~F.coalesce(F.lag(is_ua).over(w), F.lit(False))
    runs = parsed.withColumn("run_id", F.sum(new_run.cast("int")).over(w))
    bound = runs.withColumn(
        "ua_run",
        F.last(F.when(is_ua, F.col("run_id")), ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    groups = (
        bound.where(is_ua)
        .select(
            "domain",
            F.col("run_id").alias("g_run"),
            F.lower(F.col("value")).alias("g_agent"),
        )
        .where(F.col("g_agent").isin(agent_lc, "*"))
        .select(
            "domain",
            "g_run",
            F.when(F.col("g_agent") == agent_lc, F.lit(1))
            .otherwise(F.lit(2))
            .alias("match_rank"),
        )
    )
    best = groups.groupBy("domain").agg(F.min("match_rank").alias("best_rank"))
    chosen = (
        groups.join(best, "domain")
        .where(F.col("match_rank") == F.col("best_rank"))
        .select(F.col("domain").alias("g_domain"), "g_run")
        .distinct()
    )
    return (
        bound.where(F.col("field") == "crawl-delay")
        .join(
            chosen,
            (F.col("domain") == F.col("g_domain"))
            & (F.col("ua_run") == F.col("g_run")),
        )
        .where(F.col("value").rlike(r"^[0-9]+$"))
        .groupBy("domain")
        .agg(F.min(F.col("value").cast("bigint")).alias("crawl_delay_sec"))
    )
