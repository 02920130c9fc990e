"""Pure-Python reference semantics — the single source of truth.

Every formula, threshold, enum and keyword table the pipeline uses lives
here, expressed as plain Python with **no Spark imports**, so that:

* the Spark operators (pandas UDFs + Column expressions) import it on the
  executors,
* the pytest golden oracle runs the exact same functions single-process,
* the DuckDB oracle-SQL builders (``oracles.py``) render the same constants
  into ANSI SQL.

Reference citations (``/root/reference``, read-only):
  - extractor marker/join/strip semantics .... extract_and_populate.py:36-71
  - extraction stats ......................... extract_and_populate.py:73-87
  - entity cleaning / clamping ............... agents/src/agents/entity-extraction-agent.ts:208-240
  - concept-type enum (7 values) ............. agents/src/types.ts:64-71
  - relationship-type enum (6 values) ........ agents/src/types.ts:73-79
  - relevance rubric (1.0 / 0.7-0.9 / 0.5-0.6 / <0.5)
    ........................................... entity-extraction-agent.ts:112-117
  - base-confidence buckets + clamp .......... relationship-discovery-agent.ts:43-60
  - type keyword table ....................... validation-agent.ts:301-308
  - generic-term list (rule E1) .............. validation-agent.ts:70-74
  - validation thresholds E2/E3/R2/R5 ........ validation-agent.ts:93-150, 243-284, 360-389

All scores are carried as **integer percent** (``*_pct``) so that Spark,
DuckDB and Python agree bit-for-bit; divide by 100.0 only at the edge.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# Closed enums (types.ts:64-89)
# ---------------------------------------------------------------------------

CONCEPT_TYPES = (
    "method",
    "technique",
    "dataset",
    "metric",
    "concept",
    "architecture",
    "algorithm",
)
DEFAULT_CONCEPT_TYPE = "concept"  # entity-extraction-agent.ts:239

RELATIONSHIP_TYPES = (
    "improves_on",
    "extends",
    "evaluates",
    "builds_on",
    "addresses",
    "cites",
)

STAGES = (
    "extract",
    "mentions",
    "triples",
    "link",
    "canonicalize",
    "materialize",
    "validate",
)

# validation-agent.ts:70-74 (rule E1)
GENERIC_TERMS = (
    "paper", "research", "method", "technique", "approach", "study",
    "experiment", "result", "conclusion", "abstract", "introduction",
    "related work", "future work", "dataset", "metric", "evaluation",
)

# validation-agent.ts:301-308 (rule R3) — order = D4 classification priority
TYPE_KEYWORDS: dict[str, tuple[str, ...]] = {
    "improves_on": ("improve", "better", "faster", "enhance", "outperform", "superior"),
    "extends": ("extend", "add", "generalize", "expand", "augment", "additional"),
    "evaluates": ("evaluate", "compare", "benchmark", "test", "measure", "assess"),
    "builds_on": ("build", "based on", "foundation", "leverage", "adopt", "use"),
    "addresses": ("address", "solve", "fix", "tackle", "handle", "overcome"),
    "cites": ("cite", "mention", "reference", "related work", "discuss"),
}

# Field caps (entity-extraction-agent.ts:210-214; db_init.py:56-58)
NAME_MAX = 255
CONTEXT_MAX = 150  # context_snippet cap used at detection time (prompt :117)
CONTEXT_STORE_MAX = 500  # DB-side cap (entity-extraction-agent.ts:214)

# Thresholds
MIN_RELEVANCE_PCT = 40          # run-relationship-discovery.ts:87 (0.4)
EXTRACT_TRUNCATE_CHARS = 80000  # entity-extraction-agent.ts:45-46

# D3 — base confidence (relationship-discovery-agent.ts:43-60), integer percent
CONF_FLOOR_PCT = 30
CONF_CEIL_PCT = 85
HI_BUCKET_PCT = 70   # avg_relevance >= 0.7
MED_BUCKET_PCT = 50  # 0.5 <= avg < 0.7
LO_BUCKET_PCT = 40   # 0.4 <= avg < 0.5
HI_WEIGHT_PCT = 15
MED_WEIGHT_PCT = 8
LO_WEIGHT_PCT = 4
KEYWORD_BONUS_PCT = 5   # D4: deterministic stand-in for the LLM's upward adjustment
CONF_KEYWORD_CEIL_PCT = 95

# Validation thresholds
FLAG_CONFIDENCE_PCT = 50        # validation-agent.ts:207
LOW_CONFIDENCE_PCT = 50         # R2 warning (validation-agent.ts:262)
VERY_LOW_CONFIDENCE_PCT = 30    # R2 warning (validation-agent.ts:274)
NAME_MIN_LEN = 2                # E2 error (validation-agent.ts:96)
NAME_WARN_LEN = 100             # E2 warning (validation-agent.ts:107)
EXPLANATION_MIN_LEN = 20        # R5 (validation-agent.ts:367)
PLACEHOLDER_EXPLANATION = "not explicitly stated in abstract"  # validation-agent.ts:379

#: Minimum quality_pct for a document to count as curation-grade in the
#: corpus composition report (textstats.corpus_stats / td_corpus_stats).
#: A rebuild-side curation constant — the reference has no quality gate.
QUALITY_OK_PCT = 50

#: Gopher repetition-filter thresholds (Rae et al. 2021, table A1 — the
#: representative subset: duplicate-line fraction 0.30, duplicate-line
#: character fraction 0.20, top-2-gram character fraction 0.20,
#: duplicate-5-gram character fraction 0.15), as integer floor-percents so
#: the verdict is exactly reproducible cross-engine
#: (operators/repetition.py + its DuckDB twin in test_repetition).
DUP_LINE_MAX_PCT = 30
DUP_LINE_CHAR_MAX_PCT = 20
TOP2_CHAR_MAX_PCT = 20
DUP5_CHAR_MAX_PCT = 15

#: exact duplicated-span detection (dedup.duplicated_span_report + its
#: DuckDB twin) — the Lee et al. 2021 ExactSubstr-dedup measure at fixed
#: span length: a SPAN_DEDUP_N-token span occurring more than once
#: corpus-wide (multiplicity counted, within-doc repeats included) is
#: duplicated; a doc whose duplicated-span share exceeds
#: DUP_SPAN_MAX_PCT fails the verdict.  Spans are compared by portable
#: poly-hash (the decontam discipline), so the gate is cross-engine.
SPAN_DEDUP_N = 50
DUP_SPAN_MAX_PCT = 20

#: cross-document boilerplate-line cut (operators/lines.py + its DuckDB
#: twin): a trimmed non-empty line recurring in at least this many
#: DISTINCT documents (cookie banners, nav menus, subscribe footers) is
#: stripped corpus-wide — the line-granularity dedup tier between
#: within-doc repetition (repetition.py) and whole/near-doc dedup
#: (dedup.py); cf. RefinedWeb's line-wise filters / Dolma's
#: paragraph-level dedup.
BOILERPLATE_MIN_DOCS = 5

#: docs (by doc_id < bound) that travel through the REAL Structured
#: Streaming path (file source → mention detection → availableNow parquet
#: sink, two drains over one checkpoint) in the kg_stream_mentions gate —
#: shared by gate.py and the DuckDB oracle's WHERE clause, and bounded so
#: the driver-side fixture work stays O(1) in corpus size at any sf (the
#: WARC_GATE_DOCS discipline).
STREAM_GATE_DOCS = 200

#: PII redaction patterns (operators/pii.py + its DuckDB twin), applied
#: in THIS order (SSN before phone so d{3}-d{2}-d{4} isn't phone-eaten;
#: IPv4 last).  Restricted to the Java-regex ∩ RE2 common subset (no
#: lookarounds, no backrefs; \b and greedy quantifiers behave identically
#: on these alternation-free patterns) so Spark and DuckDB match the same
#: spans.  (category, pattern, replacement) — counts are per category on
#: the text as-of that step (sequential semantics, both engines).
#: URL curation (operators/urls.py + its DuckDB twin) — Java-regex ∩ RE2
#: subset, like PII_PATTERNS.  Groups: 1 scheme, 2 authority, 3 path,
#: 4 query (sans '?'); every group stops at '#' so fragments drop out.
URL_PARSE_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)\??([^#]*)"
#: query params dropped during normalization (anchored; checked per
#: '&'-token with unanchored search semantics — rlike / regexp_matches)
TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid)="

#: Hyperlink extraction (operators/links.py + its DuckDB twin) — the
#: Common-Crawl link-graph first mile.  Java-regex ∩ RE2 subset like
#: URL_PARSE_RE; \x27 is the single-quote character spelled so the
#: pattern can be interpolated into single-quoted SQL literals verbatim.
#: ANCHOR_TAG_RE matches one whole <a ...>text</a> element whose href is
#: quoted (either quote style) and whose inner text carries no nested
#: markup — anchors whose inner text contains a child tag do NOT match
#: and are dropped whole (documented extraction rule, not a parser).
#: Group 0 feeds regexp_extract_all in both engines.
ANCHOR_TAG_RE = r"<[Aa]\s[^>]*[Hh][Rr][Ee][Ff]\s*=\s*[\"\x27][^\"\x27>]*[\"\x27][^>]*>[^<]*</[Aa]>"
#: per-tag href value (group 1) and inner text (group 1)
HREF_ATTR_RE = r"[Hh][Rr][Ee][Ff]\s*=\s*[\"\x27]([^\"\x27>]*)[\"\x27]"
ANCHOR_TEXT_RE = r">([^<]*)</[Aa]>$"

#: href → absolute-URL resolution rule (operators/links.py, SQL-expressible
#: by construction): an absolute http(s) href passes through (scheme read
#: via URL_PARSE_RE group 1, lowercased, membership in LINK_SCHEMES); any
#: other explicit '<scheme>://' href is dropped; a protocol-relative
#: '//host/...' href takes the source page's scheme; a root-relative
#: '/...' href takes the source's scheme://authority; every remaining
#: form (mailto:, javascript:, fragments, relative paths — whose
#: dot-segment resolution is NOT SQL-expressible) is dropped.  The
#: resolved candidate is then normalized by urls.normalize_url.
LINK_SCHEMES = ("http", "https")

#: Page-policy extraction (operators/policy.py + its DuckDB twin):
#: rel=canonical links and robots-meta directives — the two in-page
#: signals a Common-Crawl curation pass must honor before dedup/index.
#: Same Java-regex ∩ RE2 subset and rule-not-parser stance as
#: ANCHOR_TAG_RE: whole <link ...> / <meta ...> tags with quoted
#: attribute values; rel/name matched case-insensitively; href/content
#: read via HREF_ATTR_RE / CONTENT_ATTR_RE group 1.
LINK_TAG_RE = r"<[Ll][Ii][Nn][Kk]\s[^>]*>"
META_TAG_RE = r"<[Mm][Ee][Tt][Aa]\s[^>]*>"
REL_CANONICAL_RE = (
    r"[Rr][Ee][Ll]\s*=\s*[\"\x27][Cc][Aa][Nn][Oo][Nn][Ii][Cc][Aa][Ll][\"\x27]"
)
NAME_ROBOTS_RE = r"[Nn][Aa][Mm][Ee]\s*=\s*[\"\x27][Rr][Oo][Bb][Oo][Tt][Ss][\"\x27]"
CONTENT_ATTR_RE = r"[Cc][Oo][Nn][Tt][Ee][Nn][Tt]\s*=\s*[\"\x27]([^\"\x27>]*)[\"\x27]"
#: robots content directives are comma-separated tokens; membership is
#: tested on the LOWERCASED content with these anchored-token patterns
#: (unanchored search semantics — rlike / regexp_matches)
NOINDEX_TOKEN_RE = r"(^|,)\s*noindex\s*(,|$)"
NOFOLLOW_TOKEN_RE = r"(^|,)\s*nofollow\s*(,|$)"

#: robots.txt parsing (operators/robots.py + its DuckDB twin) — the
#: crawl-protocol file itself (RFC 9309).  Line grammar: strip the
#: comment tail, then 'field: value' with the field read
#: case-insensitively.  Rule paths must start with '/' and rules whose
#: path carries a '*' or '$' wildcard are dropped whole (the literal-
#: prefix subset — same documented rule-not-parser stance as
#: ANCHOR_TAG_RE; wildcard expansion is not portably SQL-expressible).
#: Matching: the most specific user-agent group wins (exact agent name
#: beats '*'; contiguous User-agent lines share one group), the longest
#: matching path prefix decides, allow wins length ties (Google
#: semantics), no match = allowed, empty Disallow = no restriction.
ROBOTS_COMMENT_RE = r"#.*$"
ROBOTS_FIELD_RE = r"^\s*([A-Za-z-]+)\s*:"
ROBOTS_VALUE_RE = r"^\s*[A-Za-z-]+\s*:\s*([^\s]*)"
ROBOTS_WILDCARD_RE = r"[*$]"

#: Structured-data (schema.org JSON-LD) extraction — how production
#: web-scale KG builds bootstrap typed entities before touching free
#: text.  JSONLD_SCRIPT_RE matches one whole
#: <script type="application/ld+json">…</script> element whose body
#: carries no '<' (real JSON-LD payloads don't; blocks that do are
#: dropped whole — same documented rule-not-parser stance as
#: ANCHOR_TAG_RE).  Java-regex ∩ RE2 subset; group 0 feeds
#: regexp_extract_all in both engines, JSONLD_BODY_RE group 1 pulls the
#: JSON text.
JSONLD_SCRIPT_RE = (
    r"<[Ss][Cc][Rr][Ii][Pp][Tt]\s[^>]*[Tt][Yy][Pp][Ee]\s*=\s*"
    r"[\"\x27]application/ld\+json[\"\x27][^>]*>[^<]*"
    r"</[Ss][Cc][Rr][Ii][Pp][Tt]>"
)
JSONLD_BODY_RE = r">([^<]*)</[Ss][Cc][Rr][Ii][Pp][Tt]>$"

#: Target property vocabulary for jsonld_triples (operators/
#: structured.py): (predicate, JSONPath candidates tried in coalesce
#: order).  A fixed vocabulary — not key explosion — keeps the
#: extraction engine-portable and is how real KG pipelines work (a
#: target schema, not "every key wins").  Paths use the dot syntax both
#: Spark's get_json_object and DuckDB's json_extract_string accept,
#: including the '@'-keys; nested one-level '.name' paths pull the
#: display name out of object-valued properties with a raw fallback.
#: Spark returns NULL on malformed JSON while DuckDB raises — the gate
#: fixtures emit only valid JSON, and the operator's graceful-null
#: behavior is pinned in tests/test_structured.py instead.
JSONLD_ID_PATHS = ("$.@id", "$.url", "$.name")
JSONLD_TYPE_PATH = "$.@type"
JSONLD_PROPS = (
    ("name", ("$.name",)),
    ("headline", ("$.headline",)),
    ("description", ("$.description",)),
    ("url", ("$.url",)),
    ("sameAs", ("$.sameAs",)),
    ("datePublished", ("$.datePublished",)),
    ("author", ("$.author.name", "$.author")),
    ("publisher", ("$.publisher.name", "$.publisher")),
    ("jobTitle", ("$.jobTitle",)),
    ("worksFor", ("$.worksFor.name", "$.worksFor")),
)

#: Sitemap / feed URL discovery (operators/sitemaps.py + its DuckDB
#: twin) — how a crawl finds the urls it hasn't fetched yet: XML
#: sitemaps (sitemaps.org protocol: <urlset> of <url> entries and
#: <sitemapindex> of child <sitemap>s), robots.txt ``Sitemap:``
#: directives (RFC 9309 §2.3 — group-independent lines), and RSS 2.0 /
#: Atom (RFC 4287) feed items.  Same Java-regex ∩ RE2 subset and
#: rule-not-parser stance as ANCHOR_TAG_RE: ``(?s)`` + non-greedy pulls
#: whole <url>/<sitemap>/<item>/<entry> blocks (both engines support
#: the flag and lazy quantifiers identically on these patterns); child
#: elements are plain ``<tag>text</tag>`` with no nested markup —
#: values carrying a '<' do not match and drop whole.  Discovered
#: candidates are whitespace-stripped (XML_STRIP_WS_RE — engine trim()
#: only eats spaces, this eats the newline-indented <loc> bodies too),
#: XML-entity-unescaped (XML_ENTITIES, sequential replace with &amp;
#: LAST so '&amp;lt;' correctly yields '&lt;'), kept iff absolute
#: http(s) (LINK_SCHEMES — the sitemaps.org MUST-be-absolute rule), and
#: normalized by urls.normalize_url.
SITEMAP_URL_BLOCK_RE = r"(?s)<[Uu][Rr][Ll]>.*?</[Uu][Rr][Ll]>"
SITEMAP_CHILD_BLOCK_RE = r"(?s)<[Ss][Ii][Tt][Ee][Mm][Aa][Pp]>.*?</[Ss][Ii][Tt][Ee][Mm][Aa][Pp]>"
RSS_ITEM_BLOCK_RE = r"(?s)<[Ii][Tt][Ee][Mm]>.*?</[Ii][Tt][Ee][Mm]>"
ATOM_ENTRY_BLOCK_RE = r"(?s)<[Ee][Nn][Tt][Rr][Yy]>.*?</[Ee][Nn][Tt][Rr][Yy]>"
XML_LOC_RE = r"<[Ll][Oo][Cc]>([^<]*)</[Ll][Oo][Cc]>"
XML_LASTMOD_RE = r"<[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>([^<]*)</[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>"
XML_CHANGEFREQ_RE = (
    r"<[Cc][Hh][Aa][Nn][Gg][Ee][Ff][Rr][Ee][Qq]>([^<]*)"
    r"</[Cc][Hh][Aa][Nn][Gg][Ee][Ff][Rr][Ee][Qq]>"
)
XML_PRIORITY_RE = (
    r"<[Pp][Rr][Ii][Oo][Rr][Ii][Tt][Yy]>([^<]*)</[Pp][Rr][Ii][Oo][Rr][Ii][Tt][Yy]>"
)
XML_TITLE_RE = r"<[Tt][Ii][Tt][Ll][Ee]>([^<]*)</[Tt][Ii][Tt][Ll][Ee]>"
#: RSS <link>text</link> — the '>' right after 'link' keeps it from
#: matching Atom's attribute form <link href="..."/>
RSS_LINK_RE = r"<[Ll][Ii][Nn][Kk]>([^<]*)</[Ll][Ii][Nn][Kk]>"
RSS_PUBDATE_RE = r"<[Pp][Uu][Bb][Dd][Aa][Tt][Ee]>([^<]*)</[Pp][Uu][Bb][Dd][Aa][Tt][Ee]>"
ATOM_UPDATED_RE = r"<[Uu][Pp][Dd][Aa][Tt][Ee][Dd]>([^<]*)</[Uu][Pp][Dd][Aa][Tt][Ee][Dd]>"
#: document-kind detection (unanchored search semantics — rlike /
#: regexp_matches); a body matching RSS_KIND_RE is RSS even if it also
#: matches ATOM_KIND_RE (documented precedence, identical both engines)
SITEMAP_URLSET_KIND_RE = r"<[Uu][Rr][Ll][Ss][Ee][Tt][\s>]"
SITEMAP_INDEX_KIND_RE = r"<[Ss][Ii][Tt][Ee][Mm][Aa][Pp][Ii][Nn][Dd][Ee][Xx][\s>]"
RSS_KIND_RE = r"<[Rr][Ss][Ss][\s>]"
ATOM_KIND_RE = r"<[Ff][Ee][Ee][Dd][\s>]"
XML_STRIP_WS_RE = r"^\s+|\s+$"
#: sitemap <changefreq> → revisit cadence in DAYS (sitemaps.org values;
#: 'never' and unknown values map to NULL — no auto-revisit, the
#: crawler's default policy applies).  Both engines CASE over the
#: lowercased value; date arithmetic is date + days (exact, no floats).
CHANGEFREQ_REVISIT_DAYS = (
    ("always", 0),
    ("hourly", 0),
    ("daily", 1),
    ("weekly", 7),
    ("monthly", 30),
    ("yearly", 365),
)

#: sequential literal replaces, &amp; deliberately last
XML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&amp;", "&"),
)

PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)

#: Gate-seed mention rows — (doc_id, name, concept_type, relevance_pct,
#: pos, context) — each tripping exactly one entity-validation rule, so the
#: kg_entity_findings gate compares NON-empty sets at every sf (the
#: synthetic corpus trips no E-rule on its own and the round-3 gate
#: hash-matched on 0 rows — vacuous).  Negative doc_ids cannot collide
#: with corpus documents; both the Spark gate and the DuckDB oracle derive
#: the seed rows from this one tuple.
ENTITY_FINDING_SEEDS = (
    (-1, GENERIC_TERMS[0], "concept", 50, 1, "seed context"),  # E1 generic
    (-2, "x", "concept", 50, 1, "seed context"),               # E2 too short
    (-3, "z" * (NAME_WARN_LEN + 1), "concept", 50, 1, "seed context"),  # E2 warn
    (-4, "seed perfect concept", "concept", 100, 1, "seed context"),  # E3 perfect
)

# ---------------------------------------------------------------------------
# Gazetteer — the closed concept vocabulary (FIXTURES.md §2).
#
# Surface forms are chosen from the synthetic corpus vocabulary
# (/root/testdata documents) plus alias groups that drive entity linking.
# All names lowercase; detection is case-insensitive substring containment.
# ---------------------------------------------------------------------------

#: (name, concept_type) — canonical surface forms
GAZETTEER: tuple[tuple[str, str], ...] = (
    # hot single-word terms (appear in ~75% of synthetic docs → skew exercise)
    ("spark", "method"),
    ("vector", "architecture"),
    ("stream", "concept"),
    ("batch", "concept"),
    # bigrams (sparser, ~6% of docs each)
    ("table scan", "technique"),
    ("column scan", "technique"),
    ("hash join", "algorithm"),
    ("merge join", "algorithm"),
    ("sort merge", "algorithm"),
    ("group agg", "technique"),
    ("window agg", "technique"),
    ("hash agg", "technique"),
    ("key value", "concept"),
    ("row batch", "concept"),
    ("data stream", "concept"),
    ("query plan", "concept"),
    ("fast scan", "technique"),
    ("big table", "dataset"),
    ("small table", "dataset"),
    ("slow query", "metric"),
    ("fast query", "metric"),
    # trigrams (rare)
    ("sort merge join", "algorithm"),
    ("big data stream", "concept"),
    # dirt: generic terms for rule E1 (only in injected fixture docs)
    ("dataset", "dataset"),
    ("metric", "metric"),
)

#: alias → canonical (drives entity linking / canonicalization tests)
ALIASES: dict[str, str] = {
    "sparks": "spark",
    "sprk": "spark",
    "table-scan": "table scan",
    "tbl scan": "table scan",
    "hash-join": "hash join",
    "hashjoin": "hash join",
    "sortmerge": "sort merge",
    "sort-merge join": "sort merge join",
}

GAZETTEER_TYPES: dict[str, str] = dict(GAZETTEER)


# ---------------------------------------------------------------------------
# S7 — text extraction (extract_and_populate.py:36-71)
# ---------------------------------------------------------------------------

_SECTION_RE = re.compile(
    rb"<section[^>]*>(.*?)</section>", re.DOTALL | re.IGNORECASE
)
_TAG_RE = re.compile(rb"<[^>]+>")


def assemble_page_texts(pages: list[str]) -> str | None:
    """The reference's S7 page-assembly invariant, factored out so EVERY
    container format shares it byte-for-byte: per page emit
    ``"\\n--- Page N ---\\n" + text``, join with ``""``, one outer
    ``.strip()``, ``None`` when nothing remains
    (extract_and_populate.py:51-65)."""
    parts: list[str] = []
    for page_num, text in enumerate(pages, 1):
        parts.append(f"\n--- Page {page_num} ---\n")
        parts.append(text)
    extracted = "".join(parts).strip()
    return extracted if extracted else None


def extract_text_from_html(html: bytes | None) -> str | None:
    """Reference extractor semantics over HTML pages.

    The reference iterates PDF pages, emits ``"\\n--- Page N ---\\n" + text``
    per page, joins with ``""`` and applies one outer ``.strip()``
    (extract_and_populate.py:51-65).  Here a "page" is one ``<section>``
    element of the crawled HTML; boilerplate outside sections (<nav>,
    <footer>, …) is dropped.  Returns None when nothing remains — mirroring
    the reference's ``return extracted if extracted else None``.  (Crawled
    PDF payloads go through the same assembly via functions/pdf.py —
    :func:`assemble_page_texts` is the shared invariant.)

    MUST stay a pure function of the input bytes: the per-url
    byte-identical invariant (BASELINE.json input_hint) is asserted against
    this exact function.
    """
    if html is None:
        return None
    return assemble_page_texts(
        [
            _TAG_RE.sub(b" ", m.group(1)).decode("utf-8", errors="replace")
            for m in _SECTION_RE.finditer(html)
        ]
    )


def extraction_stats(text: str | None) -> dict:
    """S8 (extract_and_populate.py:73-87)."""
    if not text:
        return {"char_count": 0, "word_count": 0, "page_markers": 0}
    return {
        "char_count": len(text),
        "word_count": len(text.split()),
        "page_markers": text.count("--- Page"),
    }


# ---------------------------------------------------------------------------
# D1 — deterministic mention detection (replaces entity-extraction-agent.ts
# LLM loop; rubric mirror of :112-117)
# ---------------------------------------------------------------------------

def occurrence_count(lower_text: str, name: str) -> int:
    """Non-overlapping occurrence count == (len(t)-len(t.replace(n,'')))/len(n).

    Expressed that way so DuckDB/Spark replicate it with length+replace.
    """
    if not name:
        return 0
    return (len(lower_text) - len(lower_text.replace(name, ""))) // len(name)


def relevance_pct(pos1: int, n_chars: int, occurrences: int) -> int:
    """Deterministic relevance rubric, integer percent.

    pos1 is the 1-based position of the first occurrence in the lowered
    text.  Mirrors entity-extraction-agent.ts:112-117: core-of-document
    (leading mention) ⇒ 1.0; early ⇒ 0.8; middle ⇒ 0.6; late ⇒ 0.45 — plus
    a +5 pct bonus per extra occurrence, capped at +20, clamped to 100.
    Pure integer arithmetic so Spark and DuckDB agree exactly.
    """
    if pos1 == 1:
        base = 100
    elif pos1 * 4 <= n_chars:
        base = 80
    elif pos1 * 2 <= n_chars:
        base = 60
    else:
        base = 45
    bonus = 5 * min(max(occurrences - 1, 0), 4)
    return min(100, base + bonus)


@dataclass(frozen=True)
class Mention:
    name: str
    concept_type: str
    relevance_pct: int
    pos: int  # 1-based first occurrence
    context: str


def detect_mentions(text: str | None, gazetteer=GAZETTEER) -> list[Mention]:
    """Gazetteer mention detector — per-document deterministic twin of the
    reference's Agent #1 (entity-extraction-agent.ts:30-79).

    Detection: case-insensitive substring containment of the (lowercase)
    gazetteer name in the first EXTRACT_TRUNCATE_CHARS characters of the
    text (the reference truncates identically, :45-46).  Output cleaning
    mirrors cleanEntity (:208-215): trimmed name capped at NAME_MAX,
    context capped at CONTEXT_MAX.
    """
    if not text:
        return []
    truncated = text[:EXTRACT_TRUNCATE_CHARS]
    lower = truncated.lower()
    n = len(truncated)
    out: list[Mention] = []
    for name, ctype in gazetteer:
        pos0 = lower.find(name)
        if pos0 < 0:
            continue
        occ = occurrence_count(lower, name)
        rel = relevance_pct(pos0 + 1, n, occ)
        context = truncated[pos0 : pos0 + CONTEXT_MAX]
        out.append(Mention(name[:NAME_MAX], ctype, rel, pos0 + 1, context))
    return out


# ---------------------------------------------------------------------------
# D3 — base confidence (relationship-discovery-agent.ts:43-60)
# ---------------------------------------------------------------------------

def bucket_counts(avg_rel_pct2_list: list[int]) -> tuple[int, int, int]:
    """Bucket shared concepts by average relevance.

    ``avg_rel_pct2`` carries r1_pct + r2_pct (i.e. 2× the average, still an
    integer) so bucket edges stay exact: >=0.7 ⇔ sum>=140, etc.
    (relationship-discovery-agent.ts:49-51 — note half-open intervals.)
    """
    hi = sum(1 for s in avg_rel_pct2_list if s >= 2 * HI_BUCKET_PCT)
    med = sum(1 for s in avg_rel_pct2_list if 2 * MED_BUCKET_PCT <= s < 2 * HI_BUCKET_PCT)
    lo = sum(1 for s in avg_rel_pct2_list if 2 * LO_BUCKET_PCT <= s < 2 * MED_BUCKET_PCT)
    return hi, med, lo


def base_confidence_pct(hi: int, med: int, lo: int, n_shared: int) -> int:
    """score = 0.15·hi + 0.08·med + 0.04·lo clamped to [0.30, 0.85];
    0.30 when no shared concepts (relationship-discovery-agent.ts:44-59)."""
    if n_shared == 0:
        return CONF_FLOOR_PCT
    score = HI_WEIGHT_PCT * hi + MED_WEIGHT_PCT * med + LO_WEIGHT_PCT * lo
    return min(CONF_CEIL_PCT, max(CONF_FLOOR_PCT, score))


# ---------------------------------------------------------------------------
# D4 — deterministic relationship classifier (twin of
# relationship-discovery-agent.ts:65-120's LLM step)
# ---------------------------------------------------------------------------

def classify_relationship_type(
    source_lower_text: str, hi: int, med: int, lo: int
) -> str | None:
    """Priority-ordered keyword scan over the source text; falls back to a
    deterministic bucket rule driven by shared-concept strength.

    Keyword table = validation-agent.ts:301-308, so classified edges always
    satisfy validation rule R3 when the explanation embeds the keyword.
    """
    for rtype in RELATIONSHIP_TYPES:
        for kw in TYPE_KEYWORDS[rtype]:
            if kw in source_lower_text:
                return rtype
    # fallback: strength of overlap decides (mirrors the confidence rubric
    # tiers in relationship-discovery-agent.ts:219-245)
    if hi >= 3:
        return "builds_on"
    if hi >= 1:
        return "extends"
    if med >= 2:
        return "evaluates"
    if med >= 1:
        return "addresses"
    if lo >= 1:
        return "cites"
    return None


def keyword_found(source_lower_text: str) -> bool:
    return any(
        kw in source_lower_text for t in RELATIONSHIP_TYPES for kw in TYPE_KEYWORDS[t]
    )


def final_confidence_pct(base_pct: int, kw_found: bool) -> int:
    """LLM confidence refinement stand-in: +5 pct when explicit keyword
    evidence exists, capped at 95 (clamp [0,1] per
    relationship-discovery-agent.ts:332)."""
    if kw_found:
        return min(CONF_KEYWORD_CEIL_PCT, base_pct + KEYWORD_BONUS_PCT)
    return base_pct


def explanation_for(rtype: str | None, n_shared: int, hi: int, med: int, lo: int) -> str:
    """Deterministic explanation template.  Embeds the type's first keyword
    so rule R3 (type_explanation_mismatch) passes, mirroring how the
    reference prompt instructs explanations to carry evidence verbs."""
    if rtype is None:
        return f"no meaningful relationship found across {n_shared} shared concepts"
    kw = TYPE_KEYWORDS[rtype][0]
    return (
        f"source paper {kw}s the seminal work, derived from {n_shared} shared "
        f"concepts (hi={hi}, med={med}, lo={lo})"
    )


# ---------------------------------------------------------------------------
# D5/D6 — validation rules E1-E4 / R1-R5 (validation-agent.ts)
# ---------------------------------------------------------------------------

def entity_findings(
    name: str, mention_count: int, link_count: int, max_rel_pct: int, min_rel_pct: int
) -> list[tuple[str, str]]:
    """Rules E1-E4 → [(rule, severity)].  Set-based restatement:
    * E3's per-link loop collapses to max/min over the links,
    * ``suspicious_perfect_score`` fires when a 100-pct link exists and the
      entity is mentioned in exactly one document (validation-agent.ts:141).
    """
    issues: list[tuple[str, str]] = []
    lower_name = name.lower().strip()
    if lower_name in GENERIC_TERMS:
        issues.append(("no_generic_terms", "error"))
    stripped = name.strip()
    if len(stripped) < NAME_MIN_LEN:
        issues.append(("name_too_short", "error"))
    if len(stripped) > NAME_WARN_LEN:
        issues.append(("name_too_long", "warning"))
    if min_rel_pct < 0 or max_rel_pct > 100:
        issues.append(("invalid_relevance_score", "error"))
    if max_rel_pct == 100 and mention_count == 1:
        issues.append(("suspicious_perfect_score", "warning"))
    if mention_count < link_count:
        issues.append(("mention_count_mismatch", "warning"))
    return issues


def relationship_findings(
    source_key, target_key, rtype: str | None, confidence_pct: int, explanation: str
) -> list[tuple[str, str]]:
    """Rules R1-R5 → [(rule, severity)] (validation-agent.ts:185-389)."""
    issues: list[tuple[str, str]] = []
    if source_key == target_key:
        issues.append(("self_reference", "error"))
    if confidence_pct < 0 or confidence_pct > 100:
        issues.append(("invalid_confidence", "error"))
    if 0 <= confidence_pct < LOW_CONFIDENCE_PCT:
        issues.append(("low_confidence", "warning"))
    if 0 <= confidence_pct < VERY_LOW_CONFIDENCE_PCT:
        issues.append(("very_low_confidence", "warning"))
    expl_lower = explanation.lower()
    if rtype is not None:
        if not any(kw in expl_lower for kw in TYPE_KEYWORDS[rtype]):
            issues.append(("type_explanation_mismatch", "warning"))
    else:
        if confidence_pct > 50:
            issues.append(("null_type_high_confidence", "warning"))
        else:
            issues.append(("null_type_low_confidence", "info"))
    stripped = explanation.strip()
    if len(stripped) < EXPLANATION_MIN_LEN:
        issues.append(("explanation_too_short", "warning"))
    if not stripped or stripped.lower() == PLACEHOLDER_EXPLANATION:
        issues.append(("explanation_missing", "warning"))
    return issues


def should_flag_for_review(confidence_pct: int, issues: list[tuple[str, str]]) -> bool:
    """validation-agent.ts:206-208."""
    return confidence_pct < FLAG_CONFIDENCE_PCT or any(
        sev == "warning" for _, sev in issues
    )


def is_valid(issues: list[tuple[str, str]]) -> bool:
    """validation-agent.ts:56/:205 — valid iff no error-severity issue."""
    return not any(sev == "error" for _, sev in issues)


# ---------------------------------------------------------------------------
# D2 — OpenIE-style per-sentence triple extraction (north_star: "batched
# mention detection and OpenIE-style (subj, pred, obj) triple extraction
# replacing the reference's per-document LLM agent loop")
# ---------------------------------------------------------------------------

SENTENCE_SPLIT_RE = "[.!?]+"
_SENT_RE = re.compile(SENTENCE_SPLIT_RE)


def extract_open_triples(
    text: str | None, gazetteer=GAZETTEER
) -> list[tuple[str, str, str, int]]:
    """Deterministic sentence-level (subj, pred, obj) extraction.

    For each sentence (split on [.!?]+) and each ordered pair of distinct
    gazetteer terms a, b present in it: emit (a, rtype, b) for every
    relationship type that has a keyword k with pos(a) < pos(k) < pos(b)
    (first-occurrence positions in the lowered sentence).  Output is the
    per-document distinct set of (subj, pred, obj) with the first sentence
    index as evidence pointer.  Pure function — shared by the Arrow UDF and
    renderable as SQL for the DuckDB oracle.
    """
    if not text:
        return []
    out: dict[tuple[str, str, str], int] = {}
    names = [n for n, _ in gazetteer]
    for si, sent in enumerate(_SENT_RE.split(text[:EXTRACT_TRUNCATE_CHARS])):
        ls = sent.lower()
        if not ls.strip():
            continue
        present = [(n, ls.find(n)) for n in names]
        present = [(n, p) for n, p in present if p >= 0]
        if len(present) < 2:
            continue
        kw_pos = {
            t: [p for kw in TYPE_KEYWORDS[t] if (p := ls.find(kw)) >= 0]
            for t in RELATIONSHIP_TYPES
        }
        for a, pa in present:
            for b, pb in present:
                if a == b:
                    continue
                for t in RELATIONSHIP_TYPES:
                    if any(pa < pk < pb for pk in kw_pos[t]):
                        out.setdefault((a, t, b), si)
    return [(s, p, o, si) for (s, p, o), si in sorted(out.items())]


# ---------------------------------------------------------------------------
# Portable hashing — cross-engine exact (Spark, DuckDB, Python)
#
# MinHash / SimHash signatures must be *oracle-checkable*: DuckDB has no
# xxhash64, so the hash family is plain 63-bit modular arithmetic that all
# three engines evaluate identically:
#
#   poly_hash(s)       = fold over chars: acc ← (acc·31 + codepoint) mod P
#   affine_k(h)        = (A[k]·h + B[k]) mod P          (k-th "permutation")
#
# P ≈ 2^30 keeps every intermediate < 2^63 (A,B,h < P ⇒ A·h+B < ~2^60), so
# Spark's ANSI overflow checks and DuckDB's BIGINT both stay happy.  The
# A/B tables are fixed constants (seeded PRNG at import — deterministic
# across runs) rendered as literals into both the Spark plan and the
# oracle SQL.  Inputs must be non-empty strings (shingles/tokens are
# filtered upstream): the engines disagree on splitting '' into chars.
# ---------------------------------------------------------------------------

POLY_P = 1_000_000_007
POLY_BASE = 31
POLY_SEED0 = 7

NUM_MINHASHES = 32  # doc near-dup signature width (16 bands × 2 rows)
NUM_SIMHASH_BITS = 64


def _affine_tables(n: int, seed: int) -> tuple[tuple[int, ...], tuple[int, ...]]:
    import random as _random

    rng = _random.Random(seed)
    a = tuple(rng.randrange(1, POLY_P) for _ in range(n))
    b = tuple(rng.randrange(0, POLY_P) for _ in range(n))
    return a, b


MINHASH_A, MINHASH_B = _affine_tables(NUM_MINHASHES, seed=1013)
SIMHASH_A, SIMHASH_B = _affine_tables(NUM_SIMHASH_BITS, seed=2027)


def poly_hash(s: str) -> int:
    """Polynomial rolling hash over codepoints, mod POLY_P."""
    acc = POLY_SEED0
    for ch in s:
        acc = (acc * POLY_BASE + ord(ch)) % POLY_P
    return acc


def affine_hash(h: int, a: int, b: int) -> int:
    return (a * h + b) % POLY_P


#: largest denominator a similarity threshold may carry.  Thresholds become
#: the integer test ``den·inter >= num·union`` in Spark AND DuckDB; with
#: den <= 1e6 and set sizes <= ~9e12 every product stays < 2^63, so the
#: comparison can never overflow int64 (Spark's default non-ANSI mode would
#: silently wrap — wrong pairs kept/dropped — while DuckDB would raise,
#: breaking the cross-engine exactness contract).
THRESHOLD_MAX_DEN = 1_000_000


def threshold_fraction(threshold: float) -> tuple[int, int]:
    """Exact (numerator, denominator) of the decimal the caller wrote —
    Fraction(str(0.3)) == 3/10, so ``ratio >= threshold`` becomes the
    integer test ``den·inter >= num·union`` identically in Spark, DuckDB
    and Python (no float boundary drift).

    The denominator is required to be <= THRESHOLD_MAX_DEN: thresholds must
    be short decimals (0.5, 0.95, 0.125 …).  A non-terminating value like
    1/3 would produce num/den ~ 3.3e15/1e16 and the integer guard would
    overflow int64 once a set exceeds ~900 elements.
    """
    from fractions import Fraction

    fr = Fraction(str(threshold))
    if fr.denominator > THRESHOLD_MAX_DEN:
        raise ValueError(
            f"threshold {threshold!r} is not a short decimal "
            f"(denominator {fr.denominator} > {THRESHOLD_MAX_DEN}); use a "
            "terminating decimal like 0.3333 so the integer cross-"
            "multiplication test cannot overflow int64"
        )
    return fr.numerator, fr.denominator


def rhp_planes(dim: int, num_planes: int, seed: int = 7) -> list[list[float]]:
    """Random-hyperplane LSH planes — seeded Gaussian, generated once in
    Python and rendered as float literals into BOTH the Spark plan and the
    oracle SQL (repr() round-trips doubles exactly)."""
    import random as _random

    rng = _random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


# ---------------------------------------------------------------------------
# Shingles (entity linking + near-dup dedup)
# ---------------------------------------------------------------------------

def char_ngrams(s: str, n: int = 3) -> list[str]:
    s = " " + s.lower().strip() + " "
    if len(s) < n:
        return [s]
    return [s[i : i + n] for i in range(len(s) - n + 1)]


def word_ngrams(s: str, n: int = 5) -> list[str]:
    w = s.lower().split()
    if len(w) < n:
        return [" ".join(w)] if w else []
    return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]
