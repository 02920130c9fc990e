"""CDX capture index over the pages table — the public index format
web archives and Common Crawl publish next to their WARCs (the CDX /
CDXJ server spec; keying follows the Internet Archive's SURT —
Sort-friendly URI Reordering Transform — as implemented by
webarchive-commons and pywb's canonicalizer).  The reference keys its
corpus by arXiv id (fetch_papers.py); a Common-Crawl-style pipeline
keys captures by (SURT, timestamp) so lookups, dedup, and crawl-history
queries are one sorted-range scan.

SURT rule (SQL-expressible subset of pywb's canonicalizer, applied on
top of urls.normalize_url): lowercase scheme/host and default ports are
already normalized away; a leading ``www.`` strips; host labels reverse
comma-joined (``news.example.org`` → ``org,example,news``); then ``)``
+ path + ``?`` + the query params SORTED lexicographically (normalize
already cut tracking params).  Non-http(s) urls yield NULL — CDX
indexes crawled captures only.

Everything is pure Column work from semantics.URL_PARSE_RE, so the
DuckDB twins in gate_cdx.py replay identical semantics.  No UDFs.

Scale shape (100 TB): ``cdx_records`` is a pure projection (digest is
one sha256 per payload inside the scan stage — zero exchanges);
``cdx_latest`` is ONE WindowGroupLimit exchange on surt (bounded
per-group state); ``host_capture_stats`` is one map-side-combinable
agg keyed by registered domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import semantics as S
from .urls import normalize_url, registered_domain, url_parts


def _staged_surt(pages: DataFrame, url_col: str) -> DataFrame:
    """http(s) rows of ``pages`` + a ``surt`` column (the SURT rule of the
    module docstring over ``normalize_url``), evaluated in STAGES through
    bound columns with the non-http drop on the cheap raw-scheme test.

    A single-Column form composes normalize_url inside url_parts
    inside the port/host/query extractors, so the URL_PARSE_RE
    regexp_extract chain is textually duplicated ~40x per row (Catalyst
    inlines a once-referenced alias; a nested Column expression never
    even gets an alias).  Binding each intermediate to a column that the
    next stage references MORE than once keeps CollapseProject from
    re-inlining it (non-cheap expressions are never duplicated across
    projects), so each regex group is extracted once per row — same
    output bytes, ~5x less per-row regex work (the measured
    td_cdx_records wall)."""
    u = F.col(url_col)
    rp = url_parts(u)
    staged = pages.select(
        "*",
        rp["scheme"].alias("_rp_scheme"),
        rp["authority"].alias("_rp_auth"),
        rp["path"].alias("_rp_path"),
        rp["query"].alias("_rp_query"),
    )
    # Drop non-http(s) captures HERE, on the bound raw scheme: ``surt`` is
    # NULL exactly when lower(raw scheme) ∉ LINK_SCHEMES — for a schemeless
    # url nu = url and both extractions agree; otherwise nu is rebuilt as
    # lower(scheme) + '://…' whose URL_PARSE_RE group 1 is that same
    # lowered scheme (the scheme class is closed under lower()).  Filtering
    # on ``surt IS NOT NULL`` downstream instead let PushDownPredicates
    # substitute the ENTIRE nested surt chain into the scan-side Filter —
    # one giant non-JIT-able predicate evaluated per input row (measured:
    # 0.46 s vs 5.2 s for the same query at sf1).  The substituted form of
    # THIS predicate is one regexp_extract + lower + IN.
    staged = staged.where(F.lower(F.col("_rp_scheme")).isin(*S.LINK_SCHEMES))
    # normalize_url over the bound raw parts (same expressions)
    scheme_l = F.lower(F.col("_rp_scheme"))
    host = F.lower(F.col("_rp_auth"))
    host = (
        F.when(scheme_l == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme_l == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    path = F.when(F.col("_rp_path") == "", F.lit("/")).otherwise(F.col("_rp_path"))
    query = F.array_join(
        F.filter(
            F.split(F.col("_rp_query"), "&"),
            lambda x: (x != "") & ~x.rlike(S.TRACKING_PARAM_RE),
        ),
        "&",
    )
    rebuilt = F.concat(
        scheme_l,
        F.lit("://"),
        host,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )
    staged = staged.select(
        "*", F.when(F.col("_rp_scheme") == "", u).otherwise(rebuilt).alias("_nu")
    )
    np_ = url_parts(F.col("_nu"))
    staged = staged.select(
        "*",
        np_["scheme"].alias("_np_scheme"),
        np_["authority"].alias("_np_auth"),
        np_["path"].alias("_np_path"),
        np_["query"].alias("_np_query"),
    )
    port = F.regexp_extract(F.col("_np_auth"), r":([0-9]+)$", 1)
    host2 = F.regexp_replace(
        F.regexp_replace(F.col("_np_auth"), r":[0-9]+$", ""), r"^www\.", ""
    )
    rev = F.array_join(F.reverse(F.split(host2, r"\.")), ",")
    rev = F.when(port == "", rev).otherwise(F.concat(rev, F.lit(":"), port))
    q = F.array_join(
        F.array_sort(F.filter(F.split(F.col("_np_query"), "&"), lambda x: x != "")),
        "&",
    )
    surt = F.concat(
        rev,
        F.lit(")"),
        F.col("_np_path"),
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    surt = F.when(F.lower(F.col("_np_scheme")).isin(*S.LINK_SCHEMES), surt)
    return staged.select(*pages.columns, surt.alias("surt"))


def cdx_records(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts14",
    payload_col: str = "html",
) -> DataFrame:
    """One CDX record per capture: (surt, ts, url, digest).  ``ts_col``
    is the 14-digit capture timestamp (yyyyMMddHHmmss, string — the CDX
    line format); ``digest`` is the sha256 hex of the payload.  Pure
    projection — zero exchanges; non-http(s) captures drop."""
    payload = F.col(payload_col).cast("string")
    # no ``surt IS NOT NULL`` filter here: _staged_surt already dropped
    # every row whose surt would be NULL (see the scheme filter there);
    # re-stating it would push the whole surt chain into the scan filter.
    return _staged_surt(pages, url_col).select(
        "surt",
        F.col(ts_col).cast("string").alias("ts"),
        F.col(url_col).alias("url"),
        F.sha2(payload, 256).alias("digest"),
    )


def cdx_latest(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts14",
    payload_col: str = "html",
) -> DataFrame:
    """Newest capture per SURT key — the lookup a wayback-style
    ``GET /latest`` serves.  Ties broken by url ASC then digest ASC
    (fully deterministic).  ONE WindowGroupLimit exchange."""
    recs = cdx_records(
        pages, url_col=url_col, ts_col=ts_col, payload_col=payload_col
    )
    w = Window.partitionBy("surt").orderBy(
        F.desc("ts"), F.asc("url"), F.asc("digest")
    )
    return (
        recs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("surt", "ts", "url", "digest")
    )


def host_capture_stats(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts14",
) -> DataFrame:
    """Per registered domain: captures, distinct pages (normalized
    urls), first/last capture timestamp — the crawl-history rollup.
    One map-side-combinable agg."""
    base = pages.select(
        registered_domain(F.col(url_col)).alias("domain"),
        normalize_url(F.col(url_col)).alias("norm_url"),
        F.col(ts_col).cast("string").alias("ts"),
    )
    return base.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.countDistinct("norm_url").alias("n_urls"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


