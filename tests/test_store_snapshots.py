"""StageStore snapshot history / rollback / time travel (S9+S13 follow-on:
the practical slice of Iceberg's snapshot model over the parquet shim).

Proves the VERDICT r4 item-5 contract: a bad increment can be rolled back
and re-run to the byte-identical good state, mirroring the reference's
idempotent upsert semantics (database_utils.py:109-113)."""

from __future__ import annotations

import pytest

from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import Pipeline
from agenticknowledgegraphconstructionsystem_spark.sources.io import StageStore
from agenticknowledgegraphconstructionsystem_spark.sources.pages import synthetic_pages


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_commit_append_rollback_roundtrip(spark, tmp_path):
    store = StageStore(spark, str(tmp_path / "st"))
    base = spark.range(0, 10).withColumnRenamed("id", "k")
    store.commit("t", base, run_id="r1")
    snap0 = store.manifest("t")["snapshot_id"]
    good = _rows(store.read("t"))

    # append mints a NEW snapshot; the old one stays readable (time travel)
    n = store.append("t", spark.range(100, 105).withColumnRenamed("id", "k"))
    assert n == 5
    m = store.manifest("t")
    assert m["kind"] == "append" and m["rows"] == 15
    assert len(_rows(store.read("t"))) == 15
    assert _rows(store.read("t", as_of=snap0)) == good

    # rollback makes the old snapshot current again — byte-identical rows
    store.rollback("t", snap0)
    m2 = store.manifest("t")
    assert m2["kind"] == "rollback" and m2["rolled_back_to"] == snap0
    assert _rows(store.read("t")) == good

    # the rolled-back-FROM state is itself still in history
    kinds = [s["kind"] for s in store.snapshots("t")]
    assert kinds[0] == "rollback" and "append" in kinds

    # re-running the same append lands on the rolled-back base → same state
    store.append("t", spark.range(100, 105).withColumnRenamed("id", "k"))
    assert store.manifest("t")["rows"] == 15

    # rollback restores the target's schema, not the current snapshot's
    store.commit("s", spark.createDataFrame([(1,)], "a int"), run_id="r1")
    s0 = store.manifest("s")["snapshot_id"]
    store.commit("s", spark.createDataFrame([(1, "x")], "a int, b string"), run_id="r2")
    store.rollback("s", s0)
    assert store.read("s").collect() == store.read("s", as_of=s0).collect()
    assert store.read("s").columns == ["a"]

    # ... and its partition spec: a Hive-partitioned base stays closed to
    # append after a rollback from an unpartitioned snapshot
    from pyspark.sql import functions as F

    part = base.select("k", (F.col("k") % 2).alias("shard"))
    store.commit("p", part, run_id="r1", partition_by=["shard"])
    p0 = store.manifest("p")["snapshot_id"]
    store.commit("p", base, run_id="r2")
    store.rollback("p", p0)
    assert store.manifest("p")["partition_by"] == ["shard"]
    assert _rows(store.read("p")) == _rows(part)
    with pytest.raises(ValueError, match="partition"):
        store.append("p", part.limit(2))


def test_append_to_partitioned_stage_raises(spark, tmp_path):
    """Delta dirs are written unpartitioned; silently appending one under
    a Hive-partitioned base would leave a mixed layout read() cannot
    reconcile — the guard must refuse up front."""
    from pyspark.sql import functions as F

    store = StageStore(spark, str(tmp_path / "st"))
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("shard")
    )
    store.commit("t", base, run_id="r1", partition_by=["shard"])
    with pytest.raises(ValueError, match="partition"):
        store.append("t", base.limit(2))
    # the refused append must not have mutated the snapshot
    assert store.manifest("t")["kind"] == "overwrite"
    assert len(_rows(store.read("t"))) == 10


def test_iceberg_ddl_parses(spark):
    """The real-cluster DDL templates (S13) cannot EXECUTE in this sandbox
    (no Iceberg jars), but they must always PARSE: run each through
    Spark's SQL parser so syntax drift fails fast instead of rotting
    until someone deploys on a real catalog."""
    from agenticknowledgegraphconstructionsystem_spark.sources.io import ICEBERG_DDL

    parser = spark._jsparkSession.sessionState().sqlParser()
    for name, ddl in ICEBERG_DDL.items():
        plan = parser.parsePlan(ddl)  # ParseException on any syntax error
        assert plan is not None, name


def test_rollback_unknown_snapshot_raises(spark, tmp_path):
    store = StageStore(spark, str(tmp_path / "st"))
    store.commit("t", spark.range(3), run_id="r1")
    with pytest.raises(KeyError):
        store.read("t", as_of=999)
    with pytest.raises(KeyError):
        store.rollback("t", 999)


def test_retention_prunes_expired_data_dirs(spark, tmp_path):
    store = StageStore(spark, str(tmp_path / "st"))
    for i in range(StageStore.RETAIN_SNAPSHOTS + 3):
        store.commit("t", spark.range(i + 1), run_id=f"r{i}")
    snaps = store.snapshots("t")
    # current + at most RETAIN_SNAPSHOTS history entries
    assert len(snaps) == StageStore.RETAIN_SNAPSHOTS + 1
    # every retained snapshot is still readable; rows match its manifest
    for s in snaps:
        assert store.read("t", as_of=s["snapshot_id"]).count() == s["rows"]
    # expired data dirs were pruned from disk
    import os

    dirs = [
        d
        for d in os.listdir(tmp_path / "st" / "t")
        if d.startswith(("snap-", "delta-"))
    ]
    live = {rel for s in snaps for rel in s["paths"]}
    assert set(dirs) == live


def test_pipeline_bad_increment_rolls_back(spark, tmp_path):
    """End-to-end: a bad per-doc increment is rolled back and the re-run
    of the GOOD increment reproduces the byte-identical extract table."""
    pages = synthetic_pages(spark, 40)
    batch1 = pages.where("url < 'https://example.org/paper/00030'")
    good_delta = pages.where("url >= 'https://example.org/paper/00030'")

    p = Pipeline(spark, str(tmp_path / "kg"), run_id="inc1")
    p.ingest_increment(batch1)
    base_snap = p.store.manifest("extract")["snapshot_id"]
    base_rows = _rows(p.store.read("extract"))

    # a "bad" increment: wrong docs appended (simulating an upstream bug)
    bad = synthetic_pages(spark, 45, seed=99).where(
        "url >= 'https://example.org/paper/00040'"
    )
    p.ingest_increment(bad)
    assert p.store.manifest("extract")["rows"] == 30 + bad.count()

    # operator notices, rolls back to the pre-increment snapshot
    p.store.rollback("extract", base_snap)
    assert _rows(p.store.read("extract")) == base_rows

    # re-run the GOOD increment; resume anti-join extracts exactly the delta
    p2 = Pipeline(spark, str(tmp_path / "kg"), run_id="inc2")
    new_docs = p2.ingest_increment(pages)
    assert new_docs.count() == good_delta.count()
    full = _rows(p2.store.read("extract"))

    # byte-identical to a from-scratch single-shot extract of all 40 pages
    p3 = Pipeline(spark, str(tmp_path / "kg2"), run_id="oneshot")
    p3.ingest_increment(pages)
    assert full == _rows(p3.store.read("extract"))
