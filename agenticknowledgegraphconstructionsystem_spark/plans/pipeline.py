"""The staged KG-construction pipeline with per-partition lineage + resume
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

Stage DAG (SURVEY §7, stages enum FIXTURES.md §5):

    extract → mentions → link → canonicalize(entities) → materialize
    (edges/relationships/triples) → validate

Each stage commits through :class:`StageStore` (Iceberg-snapshot semantics
over parquet) and appends lineage rows (run_id, stage, partition_id,
input_rows, output_rows, wall_ms, status, committed_at) — one per
non-empty write task, ``partition_id`` being its ``part-NNNNN`` id and
``output_rows`` read from the footers that write produced (no Spark
job); ``input_rows`` is -1 where unknown.  A stage that raises commits
nothing and logs one ``failed`` row (partition_id -1, output_rows 0).
The set-at-a-time lift of the reference's per-paper ``extraction_logs``
(db_init.py:150-159).  A killed run re-enters at the first uncommitted
stage; committed stages are read back, not recomputed (D8 resume,
database.ts:66-81), and their inputs are not even planned: a resumed
stage costs a manifest check and one lazy read.
"""

from __future__ import annotations

import functools
import os
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import cut_lineage

from ..operators.entities import (
    build_doc_concept_edges,
    build_entities,
    build_entities_with_context,
)
from ..operators.extract import extract_docs, with_stats
from ..operators.linking import (
    canonicalize,
    dedup_repointed_mentions,
    repoint_mentions,
)
from ..operators.mentions import clean_mentions, detect_mentions_native
from ..operators.relationships import discover_relationships, upsert_relationship_edges
from ..operators.triples import build_triples
from ..operators.validation import (
    apply_validated_flags,
    entity_findings,
    relationship_findings,
)
from ..sources.io import StageStore, resume_inputs, written_rows

STAGES = (
    "extract",
    "dedup",
    "curate",
    "mentions",
    "entities",
    "canonical_map",
    "edges",
    "relationships",
    "triples",
    "findings",
    "validated_edges",
    "graph_metrics",
    "link_graph",
    "host_rank",
    "host_hits",
    "frontier",
    "cdx",
    "export_warc",
    "export_wet",
    "assembly",
)


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        run_id: str = "run0",
        link: bool = True,
        link_threshold: float = 0.5,
        dedup_mode: str | None = None,
        dedup_threshold: float = 0.5,
        graph_metrics: bool = False,
        link_graph: bool = False,
        crawl_index: bool = False,
        export_dir: str | None = None,
        curate: bool = False,
        strip_boilerplate: bool = False,
        decontam_benchmark: DataFrame | None = None,
        assemble_ctx: int | None = None,
        mixture_targets: dict[str, int] | None = None,
        assemble_shards: int = 64,
    ):
        """``link`` toggles the canonicalization stage.  Note the trade-off
        at threshold 0.5: alias pairs ('sparks'→'spark', j=0.57) merge, but
        so do containment pairs ('row batch'→'batch', j=0.56) — raise the
        threshold for stricter linking, or disable for exact reference
        parity (the reference has no linking at all, db_init.py:56).

        ``dedup_mode`` adds a corpus-hygiene stage after extraction, before
        any detection runs — the training-data-pipeline move that stops
        crawl duplicates from inflating mention_count and relationship
        confidence (reference analog: the idempotent-ingest cluster,
        database_utils.py:81-119, which dedups by exact url only):

        - ``"exact"``  — content-hash dedup, min-url keeper per hash.
        - ``"minhash"``/``"winnow"`` — exact pass first, then near-dup
          pairs at >= ``dedup_threshold`` Jaccard (MinHash-LSH or winnowed
          fingerprints), connected components over the pair graph, min-url
          keeper per component; all non-keepers dropped.  Shift-tolerant:
          a crawl copy with an added banner/prefix still collapses.

        ``None`` (default) skips the stage for exact reference parity (the
        reference ingests whatever arrives).  Like every stage it
        commits through StageStore with per-partition lineage and resume.

        ``curate=True`` adds the training-data curation stage after dedup:
        Gopher repetition filters drop boilerplate/spam docs
        (operators/repetition.py), an optional ``decontam_benchmark``
        DataFrame (first column = id, ``text`` column = eval text) drops
        13-gram-contaminated docs (operators/decontam.py), and PII is
        redacted in place (operators/pii.py) so everything downstream —
        mentions, relationships, triples — only ever sees masked text.
        ``strip_boilerplate=True`` additionally strips cross-document
        boilerplate lines (operators/lines.py — lines recurring in
        ≥ BOILERPLATE_MIN_DOCS distinct docs) from every doc FIRST, with
        the S8 stats recomputed, so the doc-level filters score the real
        content rather than shared chrome.  Default off: the reference
        has no curation tier.

        ``link_graph=True`` adds two stages over the RAW pages html
        (operators/links.py — the web analogue of the reference's
        citation-graph fetch, fetch_citing_papers.py): ``link_graph``
        commits the distinct page-level (src, dst) hyperlink edges, and
        ``host_rank`` commits int64 fixed-point PageRank over the
        registered-domain rollup of those edges — the crawl-prioritization
        signal.  Both resume like every stage; the edge extraction never
        touches the extract/mention DAG.

        ``crawl_index=True`` adds the two crawl-bookkeeping stages over
        the RAW pages: ``frontier`` commits the deduplicated discovered
        urls (operators/sitemaps.discovered_urls — anchors + sitemap
        locs + feed items merged per normalized url, crawled flag from
        this corpus's own captures; ``crawled = 0`` rows are the next
        fetch list), and ``cdx`` commits the SURT-keyed capture index
        (operators/cdx.cdx_records — warc_ts formatted to the 14-digit
        CDX timestamp, sha256 digests over the payload).  Both resume
        like every stage.

        ``export_dir=<path>`` adds the two archive-publication stages:
        ``export_warc`` writes the RAW pages as per-record-gzip
        ``<export_dir>/warc/shard-*.warc.gz`` and ``export_wet`` writes
        the FINAL (deduped/curated) extracted text as conversion-record
        ``<export_dir>/wet/`` shards — the Common Crawl pair — each
        committing its location-bearing seek index (url, ts14, digest,
        filename, offset, length) through StageStore.  The shard files
        materialize exactly when the index stage commits, so resume
        skips the rewrite; on a real cluster the path must be shared
        storage (sources/warc.write_warc_shards docstring).

        ``assemble_ctx=<ctx_len>`` adds the corpus→training-stream
        assembly stage over the final (deduped, curated) docs: an
        optional domain-mixture resample (``mixture_targets`` — permille
        weights keyed by registered domain, sketches.mixture_sample)
        followed by concat-and-chunk sequence packing
        (operators/packing.py) into ``assemble_shards`` deterministic
        shards — one committed table (url, shard, n_tokens, pack_id,
        pack_offset) with lineage + resume like every stage.
        """
        if dedup_mode not in (None, "exact", "minhash", "winnow"):
            raise ValueError(f"unknown dedup_mode: {dedup_mode!r}")
        self.spark = spark
        self.store = StageStore(spark, out_dir)
        self.run_id = run_id
        self.link = link
        # one linking path: exact shared-shingle blocking, the pair space
        # the kg_canonicalize DuckDB twin verifies
        self.link_threshold = link_threshold
        self.dedup_mode = dedup_mode
        self.dedup_threshold = dedup_threshold
        self.graph_metrics = graph_metrics
        self.link_graph = link_graph
        self.crawl_index = crawl_index
        self.export_dir = export_dir
        self.curate = curate or strip_boilerplate
        self.strip_boilerplate = strip_boilerplate
        self.decontam_benchmark = decontam_benchmark
        self.assemble_ctx = assemble_ctx
        self.mixture_targets = mixture_targets
        self.assemble_shards = assemble_shards
        self._recomputed: list[str] = []

    # -- lineage ---------------------------------------------------------
    def _lineage_rows(
        self, stage: str, input_rows: int, wall_ms: int, failed: bool = False
    ) -> None:
        """Add one pyarrow-written file to ``_lineage/`` (no Spark job): a
        row per non-empty write task of the stage's newest data dir, or one
        ``failed`` row for a stage that raised."""
        if failed:
            parts = {-1: 0}
        else:
            newest = self.store.manifest(stage)["paths"][-1]
            written = written_rows(os.path.join(self.store.base_dir, stage, newest))
            parts = {task: n for task, n in sorted(written.items()) if n}
        if not parts:
            return
        k, now = len(parts), datetime.now(timezone.utc)
        table = pa.table(
            {
                "run_id": [self.run_id] * k,
                "stage": [stage] * k,
                "partition_id": pa.array(list(parts), pa.int32()),
                "input_rows": [input_rows] * k,
                "output_rows": list(parts.values()),
                "wall_ms": [wall_ms] * k,
                "status": ["failed" if failed else "success"] * k,
                "committed_at": pa.array([now] * k, pa.timestamp("us", tz="UTC")),
            }
        )
        lineage_dir = os.path.join(self.store.base_dir, "_lineage")
        os.makedirs(lineage_dir, exist_ok=True)
        name = f"{stage}-{uuid.uuid4().hex}.parquet"
        # written under a dot name Spark skips, then renamed into view
        pq.write_table(table, os.path.join(lineage_dir, "." + name))
        os.replace(os.path.join(lineage_dir, "." + name), os.path.join(lineage_dir, name))

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.store.base_dir, "_lineage"))

    def export_summary_csv(self, path: str) -> None:
        """S6 (fetch_citing_papers.py:65-82): entity summary as CSV.  The
        reference hand-escapes commas; df.write.csv quotes properly."""
        self._results["entities"].select(
            "name", "concept_type", "mention_count", "max_relevance_pct"
        ).orderBy(F.desc("mention_count"), F.asc("name")).coalesce(1).write.mode(
            "overwrite"
        ).csv(path, header=True)

    def export_report(self, path: str, max_items: int = 100_000) -> dict:
        """S12 (run-validation.ts:186-228): JSON report of only the
        problematic items + summary counts.  The findings table is tiny
        relative to the corpus (items with issues), so collect-and-dump is
        the right shape — guarded: past ``max_items`` the per-item detail
        is written distributed (df.write.json to ``path + '.items'``) and
        only the summary is collected, so a pathological corpus can never
        pull an unbounded result through the driver."""
        import json as _json

        findings = self._results["findings"]
        per_item = (
            findings.groupBy("item_kind", "item_key")
            .agg(
                F.collect_list(F.struct("rule", "severity")).alias("issues"),
                F.max((F.col("severity") == "error").cast("int")).alias("has_error"),
            )
            .orderBy("item_kind", "item_key")
        )
        n_items = per_item.count()
        report = {"run_id": self.run_id}
        if n_items > max_items:
            per_item.write.mode("overwrite").json(path + ".items")
            report.update(items=None, items_path=path + ".items")
        else:
            report["items"] = [
                {
                    "kind": r["item_kind"],
                    "key": r["item_key"],
                    "is_valid": not bool(r["has_error"]),
                    "issues": [{"rule": i["rule"], "severity": i["severity"]} for i in r["issues"]],
                }
                for r in per_item.collect()
            ]
        # the row counts each stage's commit recorded: no counting job
        report["totals"] = {
            "entities": self.store.manifest("entities")["rows"],
            "relationships": self.store.manifest("relationships")["rows"],
            "problematic_items": n_items,
        }
        with open(path, "w") as f:
            _json.dump(report, f, indent=2, sort_keys=True)
        return report

    # -- stage runner ----------------------------------------------------
    def _stage(self, name: str, build, partition_by: list[str] | None = None) -> DataFrame:
        if self.store.is_committed(name):
            return self.store.read(name)
        t0, out = time.time(), None
        try:
            out = self.store.commit(name, build(), self.run_id, partition_by=partition_by)
        finally:
            wall_ms = int((time.time() - t0) * 1000)
            self._lineage_rows(name, -1, wall_ms, failed=out is None)
        self._recomputed.append(name)
        return out

    def _exact_dedup(self, docs: DataFrame) -> DataFrame:
        """Exact content dedup: keep the min-url row per extracted_text
        hash (semi join against the keeper set — one shuffle on the
        128-bit hash, perfectly balanced keys).  Rows with NULL text all
        survive (md5(NULL) would otherwise collapse them into one keeper
        group — there is no content to be a duplicate OF)."""
        from ..operators.dedup import exact_duplicates

        with_text = docs.where(F.col("extracted_text").isNotNull())
        keepers = exact_duplicates(
            with_text, key="url", text_col="extracted_text"
        ).select(F.col("keeper").alias("url"))
        return with_text.join(keepers, "url", "left_semi").unionByName(
            docs.where(F.col("extracted_text").isNull())
        )

    def _near_dedup(self, docs: DataFrame) -> DataFrame:
        """Near-duplicate corpus dedup: exact pass first (catches identical
        short docs the shingle/fingerprint blockers can't see), then
        near-dup pairs at >= dedup_threshold Jaccard, connected components
        over the pair graph (a crawl family A~B~C collapses to ONE keeper
        even when A~C alone is below threshold), min-url keeper per
        component, anti-join the losers out.

        Scale shape: the pair generators are LSH/fingerprint-blocked with
        capped hot buckets (operators/dedup.py); the CC runs on the pair
        graph (|pairs| ~ duplicate families, not corpus size); the final
        anti-join broadcasts nothing and shuffles on url only."""
        from ..operators.dedup import (
            minhash_near_duplicates,
            near_dup_losers,
            winnow_near_duplicates,
        )

        base = self._exact_dedup(docs)
        with_text = base.where(F.col("extracted_text").isNotNull())
        if self.dedup_mode == "minhash":
            pairs = minhash_near_duplicates(
                with_text, key="url", text_col="extracted_text",
                threshold=self.dedup_threshold,
            )
        else:
            pairs = winnow_near_duplicates(
                with_text, key="url", text_col="extracted_text",
                threshold=self.dedup_threshold,
            )
        losers = near_dup_losers(pairs).select(F.col("id").alias("url"))
        return base.join(losers, "url", "left_anti")

    def _curate_docs(self, docs: DataFrame) -> DataFrame:
        """Training-data curation: (0) optionally strip cross-document
        boilerplate lines and recompute the S8 stats, (1) drop docs
        failing any Gopher repetition cap, (2) drop docs
        13-gram-contaminated by the eval benchmark if one was given,
        (3) redact PII in the surviving extracted_text.  NULL-text docs
        pass through untouched (nothing to score or mask).

        Scale shape: the boilerplate strip is one distinct-doc line
        census + broadcast anti-join + per-doc rebuild (lines.py),
        repetition is explode→groupBy branches (linear, see PLANS.md),
        decontam probes a broadcast benchmark gram set, both drops are
        anti-joins on url; redaction is a zero-shuffle projection."""
        from ..operators.decontam import contamination_report
        from ..operators.pii import pii_columns
        from ..operators.repetition import repetition_report

        if self.strip_boilerplate:
            from ..operators.lines import strip_boilerplate_lines

            cleaned = strip_boilerplate_lines(
                docs, key="url", text_col="extracted_text"
            ).select("url", F.col("text_clean").alias("extracted_text"))
            docs = with_stats(
                docs.drop("extracted_text", "n_chars", "n_words", "n_pages").join(
                    cleaned, "url", "left"
                )
            )

        with_text = docs.where(F.col("extracted_text").isNotNull())
        repetitive = (
            repetition_report(with_text, key="url", text_col="extracted_text")
            .where(~F.col("repetition_ok"))
            .select("url")
        )
        kept = docs.join(repetitive, "url", "left_anti")
        if self.decontam_benchmark is not None:
            contaminated = (
                contamination_report(
                    with_text, self.decontam_benchmark,
                    key="url", text_col="extracted_text",
                )
                .where(F.col("contaminated"))
                .select("url")
            )
            kept = kept.join(contaminated, "url", "left_anti")
        redacted = pii_columns(F.col("extracted_text"))["text_redacted"]
        # redaction rewrites extracted_text (a 20-char email → '<EMAIL>'),
        # so the S8 stats are recomputed — same contract as the
        # boilerplate-strip branch above: stats never go stale
        return with_stats(kept.withColumn("extracted_text", redacted))

    # -- per-doc incremental ingest (D8 at row granularity) ---------------
    def ingest_increment(self, pages: DataFrame) -> DataFrame:
        """database.ts:66-81 semantics lifted to sets: extract ONLY pages
        whose url has no committed extract output (J7 anti-join), append,
        and invalidate exactly the downstream stages that cannot be
        advanced incrementally.  Returns the newly-extracted rows.

        Incremental shape (the 100 TB story — adding 0.1% of docs must
        not recompute the other 99.9%):

        * **extract** — delta-only by construction (the resume anti-join),
          with lineage rows for the first commit and for each append.
        * **mentions** — per-doc, so the delta's mentions are detected and
          APPENDED to the committed mentions table (with lineage rows for
          the delta partitions); the full corpus is never re-detected.
          Only possible when no dedup stage sits between extract and
          mentions — a near-dup family can span old+new docs, so any
          ``dedup_mode`` forces the corpus-wide dedup (and hence mention
          re-detection) to rerun.
        * **entities / canonical_map / edges / relationships / triples /
          findings / validated_edges** — re-aggregated from the enlarged
          mentions table on the next run().  These are corpus-level
          aggregates and joins; entities re-aggregate cheaply (one
          shuffle over mentions), while linking/CC genuinely needs the
          rebuild (a new surface form can bridge two existing
          components).
        * a no-op increment (every url already extracted) invalidates
          NOTHING — downstream outputs are provably unchanged.
        """
        t0 = time.time()
        if not self.store.is_committed("extract"):
            self.store.commit("extract", extract_docs(pages), self.run_id)
            # extract is one row per page, so rows in = the commit's rows
            n = self.store.manifest("extract")["rows"]
            self._lineage_rows("extract", n, int((time.time() - t0) * 1000))
            return self.store.read("extract")
        committed = self.store.read("extract")
        todo = resume_inputs(pages, committed, "url")
        # one materialization serves the append AND the delta detection
        new_docs = extract_docs(todo).transform(cut_lineage)
        n_new = new_docs.count()
        if n_new == 0:
            return new_docs
        # corpus-wide stages between extract and mentions (dedup OR
        # curation) force re-detection: a near-dup family can span
        # old+new docs, and delta mentions must never be detected from
        # un-curated (un-redacted, un-filtered) text
        incremental_mentions = (
            self.dedup_mode is None
            and not self.curate
            and self.store.is_committed("mentions")
        )
        # Crash ordering: invalidate the corpus-level stages BEFORE any
        # append lands — a crash after the appends but before the
        # uncommits would otherwise leave stale downstream commits over an
        # enlarged extract table.  With this order a crash at any point
        # either (a) loses the whole increment (downstream rebuilds from
        # the old tables — consistent, the increment is retryable via the
        # same anti-join) or (b) lands the appends with downstream already
        # invalidated.  The appends themselves go through Spark's file
        # output committer, so an aborted job leaves no visible partial
        # part-files.
        keep = {"extract"} | ({"mentions"} if incremental_mentions else set())
        for stage in STAGES:
            if stage not in keep:
                self.store.uncommit(stage)
        self.store.append("extract", new_docs)
        self._lineage_rows("extract", n_new, int((time.time() - t0) * 1000))
        if incremental_mentions:
            t0 = time.time()
            self.store.append("mentions", clean_mentions(detect_mentions_native(new_docs)))
            self._lineage_rows("mentions", n_new, int((time.time() - t0) * 1000))
        return new_docs

    # -- the pipeline ----------------------------------------------------
    def run(self, pages: DataFrame) -> dict[str, DataFrame]:
        docs = self._stage("extract", lambda: extract_docs(pages))
        if self.dedup_mode in ("minhash", "winnow"):
            docs = self._stage("dedup", lambda: self._near_dedup(docs))
            from ..operators.dedup import unpersist_tracked

            unpersist_tracked()  # stage is committed; free cached fp/sig blocks
        elif self.dedup_mode == "exact":
            docs = self._stage("dedup", lambda: self._exact_dedup(docs))
        if self.curate:
            docs = self._stage("curate", lambda: self._curate_docs(docs))
        raw_mentions = self._stage(
            "mentions", lambda: clean_mentions(detect_mentions_native(docs))
        )
        # a stage's derived inputs are built inside its build lambda, so a
        # committed stage costs its manifest check and a lazy read, no plan
        if self.link:
            mapping = self._stage(
                "canonical_map",
                lambda: canonicalize(
                    build_entities(raw_mentions).select("name", "mention_count"),
                    threshold=self.link_threshold,
                ),
            )
            # merged surface forms leave duplicate (url, name) rows —
            # collapse to the best row per key before entities/relationships
            # (else sum_relevance double-counts and the shared-concept join
            # inflates multiplicatively)
            mentions = dedup_repointed_mentions(
                repoint_mentions(raw_mentions, mapping)
            )
        else:
            mentions = raw_mentions
        # entities carry the keep-first description payload
        # (concepts.description, database.ts:109) via the deduped edge table
        entities = self._stage(
            "entities", lambda: build_entities_with_context(mentions)
        )
        edges = self._stage("edges", lambda: build_doc_concept_edges(mentions))
        rels = self._stage(
            "relationships", lambda: discover_relationships(docs, mentions)
        )

        @functools.cache
        def rel_edges() -> DataFrame:  # built once, by whichever stage computes
            return upsert_relationship_edges(rels)[0]

        triples = self._stage("triples", lambda: build_triples(edges, rel_edges()))
        findings = self._stage(
            "findings",
            lambda: entity_findings(entities, edges).unionByName(
                relationship_findings(rels)
            ),
        )
        validated = self._stage(
            "validated_edges",
            lambda: apply_validated_flags(
                rel_edges(), findings.where(F.col("item_kind") == "relationship")
            ),
        )
        gm = None
        if self.graph_metrics:
            gm = self._stage("graph_metrics", lambda: self._graph_metrics(mentions))
        lg = hr = None
        if self.link_graph:
            from ..operators.links import link_edges

            lg = self._stage("link_graph", lambda: link_edges(pages))
            hr = self._stage("host_rank", lambda: self._host_rank(lg))
            hh = self._stage("host_hits", lambda: self._host_hits(lg))
        fr = cx = None
        if self.crawl_index:
            from ..operators.sitemaps import discovered_urls

            fr = self._stage("frontier", lambda: discovered_urls(pages))
            cx = self._stage("cdx", lambda: self._cdx_records(pages))
        ew = et = None
        if self.export_dir is not None:
            from ..sources.warc import write_warc_shards, write_wet_shards

            ew = self._stage(
                "export_warc",
                lambda: write_warc_shards(
                    pages, os.path.join(self.export_dir, "warc")
                ),
            )
            et = self._stage(
                "export_wet",
                lambda: write_wet_shards(
                    docs.select("url", "extracted_text").join(
                        pages.select("url", "warc_ts"), "url"
                    ),
                    os.path.join(self.export_dir, "wet"),
                    text_col="extracted_text",
                ),
            )
        asm = None
        if self.assemble_ctx is not None:
            # Hive-partitioned by shard: a consumer materializing one
            # output stream reads exactly one directory (PartitionFilters
            # pruning — pytest-pinned)
            asm = self._stage(
                "assembly",
                lambda: self._assemble(docs),
                partition_by=["shard"],
            )
        self._results = {
            "docs": docs,
            "mentions": mentions,
            "entities": entities,
            "relationships": rels,
            "findings": findings,
        }
        out = {
            "docs": docs,
            "mentions": mentions,
            "entities": entities,
            "edges": edges,
            "relationships": rels,
            "triples": triples,
            "findings": findings,
            "validated_edges": validated,
        }
        if gm is not None:
            out["graph_metrics"] = gm
        if lg is not None:
            out["link_graph"] = lg
            out["host_rank"] = hr
            out["host_hits"] = hh
        if fr is not None:
            out["frontier"] = fr
            out["cdx"] = cx
        if ew is not None:
            out["export_warc"] = ew
            out["export_wet"] = et
        if asm is not None:
            out["assembly"] = asm
        return out

    def _host_rank(self, edges: DataFrame) -> DataFrame:
        """Committed page edges → (node, pr): int64 fixed-point PageRank
        over the DISTINCT registered-domain pairs (unweighted — the
        classic host-graph convention; the weighted rollup stays
        available via links.host_rollup).  The rank the crawl scheduler
        orders the frontier by."""
        from ..operators.graph import pagerank_fixed_point
        from ..operators.links import host_rollup

        hosts = host_rollup(edges).select("src_domain", "dst_domain")
        return pagerank_fixed_point(
            hosts, src="src_domain", dst="dst_domain", iters=8
        )

    def _cdx_records(self, pages: DataFrame) -> DataFrame:
        """Raw captures → SURT-keyed CDX records: warc_ts formatted to
        the 14-digit CDX timestamp, digest over whichever payload the
        capture carries (html, else pre-extracted text) — the lookup
        index a wayback-style server range-scans.  Pure projection."""
        from ..operators.cdx import cdx_records

        caps = pages.select(
            "url",
            F.date_format("warc_ts", "yyyyMMddHHmmss").alias("ts14"),
            F.coalesce(
                F.col("html").cast("string"), F.col("text"), F.lit("")
            ).alias("payload"),
        )
        return cdx_records(caps, payload_col="payload")

    def _host_hits(self, edges: DataFrame) -> DataFrame:
        """Committed page edges → (node, hub, authority): Kleinberg
        HITS over the registered-domain rollup — the role-splitting
        complement to host_rank (a nav hub and the domain everyone
        cites score apart here; graph.hits_scores docstring)."""
        from ..operators.graph import hits_scores
        from ..operators.links import host_rollup

        hosts = host_rollup(edges).select("src_domain", "dst_domain")
        return hits_scores(hosts, src="src_domain", dst="dst_domain", iters=8)

    def _assemble(self, docs: DataFrame) -> DataFrame:
        """Corpus → training stream over the FINAL docs (post-dedup,
        post-curation): optional mixture resample toward target permille
        weights keyed by registered domain, then deterministic
        concat-and-chunk packing.  → (url, shard, n_tokens, pack_id,
        pack_offset).

        Scale shape: mixture is a broadcast rate table + one filter pass
        (zero corpus shuffle, sketches.mixture_rates docstring); packing
        is ONE exchange on the shard hash + a per-shard running-sum
        window (operators/packing.py)."""
        from ..operators.packing import pack_sequences

        base = docs
        if self.mixture_targets is not None:
            from ..operators.sketches import mixture_sample
            from ..operators.urls import registered_domain

            base = mixture_sample(
                docs.withColumn("_dom", registered_domain(F.col("url"))),
                self.mixture_targets,
                group_col="_dom",
                key_col="url",
            ).drop("_dom")
        return pack_sequences(
            base,
            ctx_len=self.assemble_ctx,
            key_col="url",
            text_col="extracted_text",
            n_shards=self.assemble_shards,
        )

    def _graph_metrics(self, mentions: DataFrame) -> DataFrame:
        """Optional reporting stage: PageRank + triangle counts over the
        materialized co-mention document graph → (url, pr, n_triangles),
        one row per graph node.  Same operators the kg_pagerank /
        kg_triangles gates pin (operators/graph.py): df-capped edge
        build, symmetrized int64 fixed-point PageRank, degree-oriented
        triangle enumeration — committed/resumed/lineage-tracked like
        every other stage."""
        from ..operators.graph import (
            comention_edges,
            pagerank_fixed_point,
            triangle_counts,
        )

        kept = comention_edges(mentions, key="url").transform(cut_lineage)
        sym = kept.select(
            F.col("da").alias("src"), F.col("db").alias("dst")
        ).unionByName(kept.select(F.col("db").alias("src"), F.col("da").alias("dst")))
        pr = pagerank_fixed_point(sym, iters=8)
        tri = triangle_counts(
            kept.select(F.col("da").alias("src"), F.col("db").alias("dst"))
        )
        return (
            pr.join(tri, "node", "left")
            .select(
                F.col("node").alias("url"),
                "pr",
                F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                    "n_triangles"
                ),
            )
        )
