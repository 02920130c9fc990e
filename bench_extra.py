"""Isolated per-query noop-sink benchmark (guide §1.4) — bench.py stays
frozen for the driver; numbers from here are cited in OPTIMIZATION_r07.md.

Usage: python bench_extra.py <name> [name...]       # bench.py query names
Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPEATS.

Replicates bench.py's methodology exactly: shared localCheckpointed
mentions for kg_* queries, min-of-N walls, noop sink, dedup unpersist
between runs — so a query's number here is comparable to its bench.py
line without paying for the whole sweep.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from agenticknowledgegraphconstructionsystem_spark.session import get_spark  # noqa: E402

REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="kg-bench-extra", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import agenticknowledgegraphconstructionsystem_spark.gate as gate_mod
    from agenticknowledgegraphconstructionsystem_spark.gate import KG_QUERIES
    from agenticknowledgegraphconstructionsystem_spark.gate_curation import (
        CURATION_MICRO_QUERIES,
    )
    from agenticknowledgegraphconstructionsystem_spark.gate_relational import REL_QUERIES
    from agenticknowledgegraphconstructionsystem_spark.gate_textdata import (
        TEXT_MICRO_QUERIES,
        TEXT_QUERIES,
    )
    from agenticknowledgegraphconstructionsystem_spark.operators import dedup

    merged: dict = {}
    for d in (KG_QUERIES, CURATION_MICRO_QUERIES, REL_QUERIES, TEXT_MICRO_QUERIES, TEXT_QUERIES):
        merged.update(d)

    _orig_mentions = gate_mod._mentions
    _mcache: dict[str, object] = {}

    def _cached_mentions(spark_, sf_dir_):
        if sf_dir_ not in _mcache:
            _mcache[sf_dir_] = _orig_mentions(spark_, sf_dir_).localCheckpoint()
        return _mcache[sf_dir_]

    gate_mod._mentions = _cached_mentions

    # special names not in the gate dicts, mirroring bench.py's extras
    def _pairwise_capped(spark_, sf_dir_):
        from agenticknowledgegraphconstructionsystem_spark.operators.relationships import (
            pairwise_shared_concepts,
        )

        return pairwise_shared_concepts(_cached_mentions(spark_, sf_dir_))

    def _detect(spark_, sf_dir_):
        return _orig_mentions(spark_, sf_dir_)

    merged["kg_pairwise_capped"] = _pairwise_capped
    merged["kg_detect_mentions"] = _detect

    # the bench.py canonicalize specials: the full mapping over the entity
    # table (the gate query of the same name keeps name/canonical_name
    # only), and the 20x-name-universe variant
    def _canon_ents(spark_, sf_dir_):
        from pyspark.sql import functions as F

        from agenticknowledgegraphconstructionsystem_spark.operators.entities import (
            build_entities,
        )

        return build_entities(_cached_mentions(spark_, sf_dir_)).select(
            "name", "mention_count"
        )

    def _canonicalize_bench(spark_, sf_dir_):
        from agenticknowledgegraphconstructionsystem_spark.operators.linking import (
            canonicalize,
        )

        return canonicalize(_canon_ents(spark_, sf_dir_))

    def _canonicalize_20x(spark_, sf_dir_):
        from pyspark.sql import functions as F

        from agenticknowledgegraphconstructionsystem_spark.operators.linking import (
            canonicalize,
        )

        ents = _canon_ents(spark_, sf_dir_)
        big = ents.crossJoin(spark_.range(20).select(F.col("id").alias("_v"))).select(
            F.concat(F.col("name"), F.lit(" variant "), F.col("_v")).alias("name"),
            "mention_count",
        )
        return canonicalize(big)

    merged["kg_canonicalize_bench"] = _canonicalize_bench
    merged["kg_canonicalize_20x"] = _canonicalize_20x

    spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    _cached_mentions(spark, sf_dir)

    out: dict[str, float] = {}
    walls_all: dict[str, list[float]] = {}
    for name in sys.argv[1:]:
        fn = merged[name]
        walls = []
        for _ in range(REPEATS):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
            dedup.unpersist_tracked()
        spark.sparkContext.setJobDescription(None)
        out[name] = min(walls)
        walls_all[name] = walls
    print(json.dumps({"sf": sf_dir, "cpus": cpus, "queries": out, "walls": walls_all}))
    spark.stop()


if __name__ == "__main__":
    main()
