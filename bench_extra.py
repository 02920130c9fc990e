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

REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from agenticknowledgegraphconstructionsystem_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="kg-bench-extra", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import agenticknowledgegraphconstructionsystem_spark.gate as gate_mod
    from agenticknowledgegraphconstructionsystem_spark.operators import dedup

    merged, shared_mentions = legs()
    # bench.py's methodology: the kg_* gate queries read the shared mentions
    gate_mod._mentions = shared_mentions

    spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    shared_mentions(spark, sf_dir)

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


def legs():
    """→ (every leg this bench can time, the shared-mentions accessor).

    Legs map a name to ``fn(spark, sf_dir) -> DataFrame``: the gate
    registries, then bench.py's own legs that no registry holds.  Those
    read bench.py's shared mentions — the gate's detection over
    ``sf_dir``, localCheckpointed once per directory by the accessor —
    except ``kg_detect_mentions``, which times the detection itself.
    Resolves the package through ``sys.modules``, so a caller that
    imported another checkout's package first times that checkout
    (scripts/ab_bench.py)."""
    from pyspark.sql import functions as F

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
    from agenticknowledgegraphconstructionsystem_spark.operators.entities import (
        build_entities,
    )
    from agenticknowledgegraphconstructionsystem_spark.operators.linking import (
        canonicalize,
    )
    from agenticknowledgegraphconstructionsystem_spark.operators.relationships import (
        pairwise_shared_concepts,
    )

    merged: dict = {}
    for d in (KG_QUERIES, CURATION_MICRO_QUERIES, REL_QUERIES, TEXT_MICRO_QUERIES, TEXT_QUERIES):
        merged.update(d)

    detect = gate_mod._mentions
    cache: dict[str, object] = {}

    def shared_mentions(spark_, sf_dir_):
        if sf_dir_ not in cache:
            cache[sf_dir_] = detect(spark_, sf_dir_).localCheckpoint()
        return cache[sf_dir_]

    # the bench.py canonicalize specials: the full mapping over the entity
    # table (the gate query of the same name keeps name/canonical_name
    # only), and the 20x-name-universe variant
    def _canon_ents(spark_, sf_dir_):
        return build_entities(shared_mentions(spark_, sf_dir_)).select(
            "name", "mention_count"
        )

    def _canonicalize_20x(spark_, sf_dir_):
        ents = _canon_ents(spark_, sf_dir_)
        big = ents.crossJoin(spark_.range(20).select(F.col("id").alias("_v"))).select(
            F.concat(F.col("name"), F.lit(" variant "), F.col("_v")).alias("name"),
            "mention_count",
        )
        return canonicalize(big)

    merged["kg_pairwise_capped"] = lambda spark_, sf_dir_: pairwise_shared_concepts(
        shared_mentions(spark_, sf_dir_)
    )
    merged["kg_detect_mentions"] = detect
    merged["kg_canonicalize_bench"] = lambda spark_, sf_dir_: canonicalize(
        _canon_ents(spark_, sf_dir_)
    )
    merged["kg_canonicalize_20x"] = _canonicalize_20x
    return merged, shared_mentions


if __name__ == "__main__":
    main()
