"""Incremental ingest end to end: a crash at any point around the staged
append resumes to the same knowledge graph, a no-op increment touches
nothing, and each stage of an increment's run stays inside a Spark-job
budget (plans/pipeline.py ``ingest_increment``)."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import STAGES, Pipeline
from agenticknowledgegraphconstructionsystem_spark.sources.io import StageStore
from agenticknowledgegraphconstructionsystem_spark.sources.pages import synthetic_pages

N_ALL = 40
#: the base holds the first 30 docs; the increment adds the other 10
CUT = "https://example.org/paper/00030"

#: Spark jobs per stage of the run after a 30 + 10-doc increment, as
#: measured on local[4] with 8 shuffle partitions ("ingest" is the
#: ingest_increment call; edges also builds the re-pointed mentions).
#: A stage that needs more has grown a job.
JOB_BUDGET = {
    "ingest": 3,
    "canonical_map": 28,
    "edges": 5,
    "entities": 6,
    "relationships": 7,
    "triples": 2,
    "findings": 3,
    "validated_edges": 4,
}


class Crash(RuntimeError):
    pass


def _raise(*_args, **_kwargs):
    raise Crash("injected crash")


def _raise_for(stage, orig):
    """``orig`` (a StageStore method taking the stage first) that raises
    instead when called for ``stage``."""

    def wrapper(self, name, *args, **kwargs):
        if name == stage:
            raise Crash(f"injected crash before {orig.__name__} of {stage}")
        return orig(self, name, *args, **kwargs)

    return wrapper


def _fingerprint(store_dir: str, stage: str) -> list:
    """Order-independent (rows, sum of 64-bit row hashes) of a committed
    table, read from every data dir of its current snapshot."""
    with open(os.path.join(store_dir, f"{stage}._manifest.json")) as f:
        paths = json.load(f)["paths"]
    h = n = 0
    for rel in paths:
        for r in pq.read_table(os.path.join(store_dir, stage, rel)).to_pylist():
            digest = hashlib.blake2b(repr(sorted(r.items())).encode(), digest_size=8)
            h = (h + int.from_bytes(digest.digest(), "little")) % 2**64
            n += 1
    return [n, h]


def _fingerprints(store_dir: str) -> dict:
    return {
        s: _fingerprint(store_dir, s)
        for s in STAGES
        if os.path.exists(os.path.join(store_dir, f"{s}._manifest.json"))
    }


def _jobs_per_stage(spark, fn) -> dict:
    """Run ``fn`` with every ``Pipeline._stage`` call and the
    ``ingest_increment`` call in a job group of its own → {stage: jobs}."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    seen: list[str] = []

    def grouped(name, orig):
        def wrapper(self, *args, **kwargs):
            label = name or args[0]
            seen.append(label)
            sc.setJobGroup(f"{tag}-{label}", label)
            try:
                return orig(self, *args, **kwargs)
            finally:
                sc._jsc.clearJobGroup()

        return wrapper

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Pipeline, "_stage", grouped(None, Pipeline._stage))
        mp.setattr(
            Pipeline, "ingest_increment", grouped("ingest", Pipeline.ingest_increment)
        )
        fn()
    tracker = sc.statusTracker()
    return {s: len(tracker.getJobIdsForGroup(f"{tag}-{s}")) for s in seen}


@pytest.fixture(scope="module")
def increment(spark, tmp_path_factory):
    """(pages, base store dir, jobs per stage of the clean increment,
    fingerprints after the clean increment)."""
    pages = synthetic_pages(spark, N_ALL)
    root = tmp_path_factory.mktemp("increment")
    base = str(root / "base")
    p = Pipeline(spark, base, run_id="base")
    p.ingest_increment(pages.where(F.col("url") < CUT))
    p.run(pages)
    clean = str(root / "clean")
    shutil.copytree(base, clean)
    p = Pipeline(spark, clean, run_id="inc")
    jobs = _jobs_per_stage(spark, lambda: (p.ingest_increment(pages), p.run(pages)))
    return pages, base, jobs, _fingerprints(clean)


def test_increment_stage_job_budget(increment):
    _pages, _base, jobs, clean = increment
    assert set(clean) == {
        "extract", "mentions", "canonical_map", "edges", "entities",
        "relationships", "triples", "findings", "validated_edges",
    }
    over = {s: (n, JOB_BUDGET.get(s)) for s, n in jobs.items() if n > JOB_BUDGET.get(s, 0)}
    assert not over, (over, jobs)


CRASH_POINTS = {
    # the extract delta has landed; no stage is uncommitted yet
    "delta_landed": lambda mp: mp.setattr(StageStore, "uncommit", _raise),
    # the downstream stages are uncommitted; extract is not yet published
    "uncommitted": lambda mp: mp.setattr(
        StageStore, "_write_manifest", _raise_for("extract", StageStore._write_manifest)
    ),
    # extract is published; the delta mentions are not yet appended
    "extract_published": lambda mp: mp.setattr(
        StageStore, "append", _raise_for("mentions", StageStore.append)
    ),
}


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_increment_crash_point_resumes_to_the_clean_kg(spark, increment, tmp_path, point):
    """A crash at each point of the staged append, then ingest_increment
    + run again: every committed table equals the clean increment's."""
    pages, base, _jobs, clean = increment
    out = str(tmp_path / "kg")
    shutil.copytree(base, out)
    with open(os.path.join(out, "extract._manifest.json")) as f:
        extract_before = json.load(f)["snapshot_id"]
    with pytest.MonkeyPatch.context() as mp:
        CRASH_POINTS[point](mp)
        with pytest.raises(Crash):
            Pipeline(spark, out, run_id="crashed").ingest_increment(pages)
    with open(os.path.join(out, "extract._manifest.json")) as f:
        published = json.load(f)["snapshot_id"] != extract_before
    assert published == (point == "extract_published")
    p = Pipeline(spark, out, run_id="retry")
    p.ingest_increment(pages)
    p.run(pages)
    assert _fingerprints(out) == clean


def test_noop_increment_publishes_nothing(spark, increment, tmp_path):
    """Every url already extracted: no snapshot, no delta dir, no
    uncommitted stage, no pending mark."""
    pages, base, _jobs, _clean = increment
    out = str(tmp_path / "kg")
    shutil.copytree(base, out)
    before = sorted(os.listdir(out)), sorted(os.listdir(os.path.join(out, "extract")))
    manifests = {
        name: open(os.path.join(out, name)).read()
        for name in before[0]
        if name.endswith("._manifest.json")
    }
    new = Pipeline(spark, out, run_id="noop").ingest_increment(
        pages.where(F.col("url") < CUT)
    )
    assert new.count() == 0
    after = sorted(os.listdir(out)), sorted(os.listdir(os.path.join(out, "extract")))
    assert after == before
    assert all(open(os.path.join(out, n)).read() == m for n, m in manifests.items())
