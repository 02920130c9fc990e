"""Driver-window gates for the CDX capture-index tier
(operators/cdx.py): SURT-keyed records, latest-capture lookup, and the
per-host crawl-history rollup — each hash-pinned against a DuckDB twin
that replays the IDENTICAL semantics (normalize → www-strip → label
reversal → query sort, sha256 digests) over captures synthesized
IDENTICALLY in both engines from the documents table (messy urls with
uppercase host, :443, unsorted query params, a tracking param, and a
14-digit timestamp string derived from doc_id; payload = the REAL
corpus text so digests hash real data).

The members ride ``td_url_suite`` (gate_curation.py) so the exported
``queries()`` surface stays at exactly 50; scripts/check_gate.py sweeps
each member individually via CURATION_MICRO_QUERIES.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import semantics as S
from .gate_links import _sql_domain, _sql_norm
from .gate_textdata import _docs

_BIG = "bigint"


def cdx_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Captures with re-crawls: the path repeats every 37 ids per host
    (multiple captures per SURT), query params arrive UNSORTED (b
    before a; the %2 period makes the full url repeat every 222 ids, so
    SURTs genuinely re-crawl), a tracking param must vanish, and the timestamp is a
    deterministic 14-digit string."""
    docs = _docs(spark, sf_dir)
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    ts = F.concat(
        F.lit("202501"),
        F.lpad(s(i % 28 + 1), 2, "0"),
        F.lpad(s(i % 24), 2, "0"),
        F.lpad(s(i % 60), 2, "0"),
        F.lpad(s((i * 7) % 60), 2, "0"),
    )
    url = F.concat(
        F.lit("HTTPS://WWW.S"), s(i % 3),
        F.lit(".EXAMPLE:443/c/"), s(i % 37),
        F.lit("?b=2&a="), s(i % 2),
        F.lit("&utm_source=z"),
    )
    return docs.select(
        url.alias("url"), ts.alias("ts14"), F.col("text").alias("html")
    )


_DUCK_CDX_PAGES = """
p AS (
  SELECT 'HTTPS://WWW.S' || (doc_id % 3) || '.EXAMPLE:443/c/' || (doc_id % 37)
           || '?b=2&a=' || (doc_id % 2) || '&utm_source=z' AS url,
         '202501' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
           || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
           || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
           || lpad(CAST((doc_id * 7) % 60 AS VARCHAR), 2, '0') AS ts14,
         text AS html
  FROM documents
)"""

#: DuckDB restatement of cdx._staged_surt on top of _sql_norm — label
#: reversal via list_reverse, query sort via list_sort (both engines
#: compare strings bytewise on this ASCII fixture).
_DUCK_SURT = f"""
c1 AS (SELECT url, ts14, html, {_sql_norm('url')} AS nu FROM p),
c2 AS (
  SELECT url, ts14, html,
         lower(regexp_extract(nu, '{S.URL_PARSE_RE}', 1)) AS scheme,
         regexp_extract(regexp_extract(nu, '{S.URL_PARSE_RE}', 2), ':([0-9]+)$', 1) AS port,
         regexp_replace(regexp_replace(regexp_extract(nu, '{S.URL_PARSE_RE}', 2), ':[0-9]+$', ''), '^www\\.', '') AS host2,
         regexp_extract(nu, '{S.URL_PARSE_RE}', 3) AS path,
         regexp_extract(nu, '{S.URL_PARSE_RE}', 4) AS q
  FROM c1
),
c3 AS (
  SELECT url, ts14, html, scheme, path,
         array_to_string(list_reverse(string_split(host2, '.')), ',')
           || CASE WHEN port = '' THEN '' ELSE ':' || port END AS rev,
         coalesce(array_to_string(
           list_sort(list_filter(string_split(q, '&'), x -> x <> '')), '&'),
           '') AS qs
  FROM c2
),
recs AS (
  SELECT rev || ')' || path || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS surt,
         ts14 AS ts, url, sha256(html) AS digest
  FROM c3 WHERE scheme IN ('http', 'https')
)"""


def q_cdx_records(spark, sf_dir):
    """cdx.cdx_records: SURT + ts + sha256 digest — pure projection,
    zero exchanges."""
    from .operators.cdx import cdx_records

    return cdx_records(cdx_pages(spark, sf_dir)).select(
        "surt", "ts", "url", "digest"
    )


O_CDX_RECORDS = (
    f"WITH {_DUCK_CDX_PAGES}, {_DUCK_SURT} "
    "SELECT surt, ts, url, digest FROM recs"
)


def q_cdx_latest(spark, sf_dir):
    """cdx.cdx_latest: newest capture per SURT, deterministic ties —
    ONE WindowGroupLimit exchange."""
    from .operators.cdx import cdx_latest

    return cdx_latest(cdx_pages(spark, sf_dir)).select(
        "surt", "ts", "url", "digest"
    )


O_CDX_LATEST = f"""
WITH {_DUCK_CDX_PAGES}, {_DUCK_SURT},
r AS (
  SELECT surt, ts, url, digest,
         row_number() OVER (PARTITION BY surt
                            ORDER BY ts DESC, url ASC, digest ASC) AS rk
  FROM recs
)
SELECT surt, ts, url, digest FROM r WHERE rk = 1"""


def q_host_captures(spark, sf_dir):
    """cdx.host_capture_stats: per-domain crawl history — one
    map-side-combinable agg."""
    from .operators.cdx import host_capture_stats

    return host_capture_stats(cdx_pages(spark, sf_dir)).select(
        "domain",
        F.col("n_captures").cast(_BIG).alias("n_captures"),
        F.col("n_urls").cast(_BIG).alias("n_urls"),
        "first_ts",
        "last_ts",
    )


O_HOST_CAPTURES = f"""
WITH {_DUCK_CDX_PAGES},
b AS (
  SELECT {_sql_domain('url')} AS domain, {_sql_norm('url')} AS norm_url,
         ts14 AS ts
  FROM p
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_captures,
       CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS n_urls,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM b GROUP BY domain"""


#: folded into gate_curation's td_url_suite + CURATION_MICRO_* registries
CDX_SUITE_MEMBERS = [
    ("cdx_records", q_cdx_records, O_CDX_RECORDS,
     ["surt", "ts", "url", "digest"]),
    ("cdx_latest", q_cdx_latest, O_CDX_LATEST,
     ["surt", "ts", "url", "digest"]),
    ("host_captures", q_host_captures, O_HOST_CAPTURES,
     ["domain", "n_captures", "n_urls", "first_ts", "last_ts"]),
]
