"""Production entry point — the job you spark-submit on a real cluster.

    spark-submit \
      --py-files kgspark.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      --conf spark.sql.shuffle.partitions=<2-3x total executor cores> \
      scripts/run_pipeline.py \
      --pages <iceberg-table-or-parquet-path> \
      --out <warehouse-path> --run-id <id> [--resume]

Packaging: from the repository root, `zip -r kgspark.zip
agenticknowledgegraphconstructionsystem_spark` — the package must reach the
executors because the Arrow UDFs import `semantics` there (the
byte-identical-extraction contract depends on driver and executors running
the same pure function).

Locally (this sandbox): `python scripts/run_pipeline.py --n-docs 200 --out /tmp/kg_out`.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages table path (parquet); omit to synthesize")
    ap.add_argument("--n-docs", type=int, default=200, help="synthetic corpus size")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--no-link", action="store_true")
    ap.add_argument(
        "--dedup-mode",
        choices=["exact", "minhash", "winnow"],
        help="corpus-hygiene stage mode; minhash/winnow add near-dup "
        "removal (CC keeper selection) on top of the exact pass",
    )
    ap.add_argument(
        "--dedup-threshold",
        type=float,
        default=0.5,
        help="near-dup Jaccard cut for --dedup-mode minhash/winnow",
    )
    ap.add_argument(
        "--link-threshold", type=float, default=0.5, help="canonicalization Jaccard cut"
    )
    ap.add_argument(
        "--graph-metrics",
        action="store_true",
        help="reporting stage: PageRank + triangle counts over the "
        "co-mention document graph (committed/resumable like every stage)",
    )
    ap.add_argument(
        "--link-graph",
        action="store_true",
        help="hyperlink stages over the raw pages html: committed page-"
        "level (src, dst) edges + PageRank over the registered-domain "
        "rollup (the crawl-prioritization signal)",
    )
    ap.add_argument(
        "--crawl-index",
        action="store_true",
        help="crawl-bookkeeping stages over the raw pages: committed "
        "discovered-url frontier (anchors + sitemaps + feeds, crawled "
        "flag) + SURT-keyed CDX capture index with sha256 digests",
    )
    ap.add_argument(
        "--export-dir",
        help="archive-publication stages: write the raw pages as "
        "<dir>/warc/ and the final extracted text as <dir>/wet/ "
        "per-record-gzip shards, committing the seekable indexes "
        "through StageStore",
    )
    ap.add_argument(
        "--curate",
        action="store_true",
        help="training-data curation stage after dedup: Gopher repetition "
        "filters drop boilerplate/spam, PII is redacted in place; add "
        "--decontam-benchmark to also drop eval-contaminated docs",
    )
    ap.add_argument(
        "--strip-boilerplate",
        action="store_true",
        help="inside curation, first strip lines recurring across >= "
        "BOILERPLATE_MIN_DOCS distinct docs (cookie banners, nav menus) "
        "and recompute the extraction stats",
    )
    ap.add_argument(
        "--decontam-benchmark",
        help="parquet path of an eval set (id + text columns) for 13-gram "
        "decontamination inside --curate",
    )
    ap.add_argument(
        "--assemble-ctx",
        type=int,
        help="training-stream assembly stage: pack the final docs into "
        "fixed context windows of this many tokens (committed/resumable)",
    )
    ap.add_argument(
        "--assemble-shards",
        type=int,
        default=64,
        help="deterministic shard count for --assemble-ctx packing",
    )
    ap.add_argument(
        "--mixture-targets",
        help='JSON dict of registered-domain -> permille weight (e.g. '
        '\'{"example.org": 700, "other.net": 300}\') applied as a '
        "mixture resample before --assemble-ctx packing",
    )
    ap.add_argument(
        "--sql-views",
        action="store_true",
        help="register the reference's SQL views (papers/concepts/"
        "paper_concepts/paper_relationships + 3 derived views) before exit",
    )
    ap.add_argument("--report", help="write validation-results.json here")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import Pipeline
    from agenticknowledgegraphconstructionsystem_spark.sources.pages import (
        PAGES_SCHEMA,
        synthetic_pages,
    )

    spark = SparkSession.builder.appName("kg-construct").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if args.pages:
        pages = spark.read.schema(PAGES_SCHEMA).parquet(args.pages)
    else:
        pages = synthetic_pages(spark, args.n_docs)
    p = Pipeline(
        spark,
        args.out,
        run_id=args.run_id,
        link=not args.no_link,
        link_threshold=args.link_threshold,
        dedup_mode=args.dedup_mode,
        dedup_threshold=args.dedup_threshold,
        graph_metrics=args.graph_metrics,
        link_graph=args.link_graph,
        crawl_index=args.crawl_index,
        export_dir=args.export_dir,
        curate=args.curate or bool(args.decontam_benchmark),
        strip_boilerplate=args.strip_boilerplate,
        decontam_benchmark=(
            spark.read.parquet(args.decontam_benchmark)
            if args.decontam_benchmark
            else None
        ),
        assemble_ctx=args.assemble_ctx,
        mixture_targets=(
            json.loads(args.mixture_targets) if args.mixture_targets else None
        ),
        assemble_shards=args.assemble_shards,
    )
    res = p.run(pages)
    # committed stages report the row count their commit recorded; only
    # the derived (re-pointed) mentions frame is counted
    summary_keys = {
        "triples": "triples",
        "entities": "entities",
        "graph_metrics": "graph_nodes",
        "link_graph": "link_edges",
        "host_rank": "host_nodes",
        "frontier": "frontier_urls",
        "cdx": "cdx_records",
        "export_warc": "export_warc_records",
        "export_wet": "export_wet_records",
        "assembly": "assembly_rows",
    }
    counts = {"mentions": res["mentions"].count()}
    for stage, key in summary_keys.items():
        if stage in res:
            counts[key] = p.store.manifest(stage)["rows"]
    if args.sql_views:
        from agenticknowledgegraphconstructionsystem_spark.sources.views import (
            register_views,
        )

        register_views(res)
    if args.report:
        p.export_report(args.report)
    print(json.dumps({"run_id": args.run_id, "recomputed_stages": p._recomputed, **counts}))
    spark.stop()


if __name__ == "__main__":
    main()
