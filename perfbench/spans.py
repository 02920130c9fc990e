"""Spans around the engine's public entry points, and per-layer metrics
built from them plus Spark's own status stores.

Spans are recorded from outside the engine by wrapping, for the duration
of one traced job:

* ``Pipeline.run`` and ``Pipeline.ingest_increment`` — the job;
* ``StageStore.commit``, ``.read`` and ``.append`` — the storage layer
  (``sources.io``);
* ``linking.canonicalize`` — its connected-components rounds run eagerly
  at call time, inside the ``canonical_map`` stage;
* ``Pipeline._lineage_rows`` — the extra lineage job after each commit,
  which is the pipeline's own (self) time.

Inside a ``run`` span, a stage's interval runs from the end of the
previous stage's lineage write (or the start of ``run``) to the end of
its ``commit``, so it holds the stage's eager build work (checkpoints, CC
rounds) as well as its write.  The rest of the ``run`` span is
``pipeline.self_s``.  An ``ingest_increment`` span is one interval of its
own.  Stage walls, self time and ingest time add up to the timed
interval, up to the few statements between the calls.

Every Spark job is attributed to the interval that contains its
submission time.  Task time, shuffle and spill come from the
SparkContext's ``AppStatusStore`` (per Spark stage), which is populated
with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import time

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._undo: list[tuple] = []

    def _wrap(self, owner, attr: str, kind: str, stage_of=None, after=None) -> None:
        orig = getattr(owner, attr)
        spans = self.spans

        def wrapper(*args, **kwargs):
            span = {"kind": kind, "stage": stage_of(args) if stage_of else None}
            span["t0"] = time.time()
            try:
                out = orig(*args, **kwargs)
            finally:
                span["t1"] = time.time()
                spans.append(span)
            if after is not None:
                after(span, args)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from agenticknowledgegraphconstructionsystem_spark.plans import pipeline
        from agenticknowledgegraphconstructionsystem_spark.sources.io import StageStore

        def written(span, args):
            store, stage = args[0], args[1]
            rel = store.manifest(stage)["paths"][-1]
            span["bytes"] = _tree_bytes(os.path.join(store.base_dir, stage, rel))

        stage_arg = lambda a: a[1]  # noqa: E731 — (self, stage, ...)
        self._wrap(pipeline.Pipeline, "run", "run")
        self._wrap(pipeline.Pipeline, "ingest_increment", "ingest")
        self._wrap(pipeline.Pipeline, "_lineage_rows", "lineage", stage_arg)
        self._wrap(StageStore, "commit", "commit", stage_arg, written)
        self._wrap(StageStore, "append", "append", stage_arg, written)
        self._wrap(StageStore, "read", "read", stage_arg)
        # Pipeline binds canonicalize at import time: wrap that binding
        self._wrap(pipeline, "canonicalize", "canonicalize")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def within(self, t0: float, t1: float, *kinds: str) -> list[dict]:
        """Spans of ``kinds`` that started in [t0, t1], by start time."""
        return sorted(
            (s for s in self.spans if s["kind"] in kinds and t0 <= s["t0"] <= t1),
            key=lambda s: s["t0"],
        )

    def segments(self, t0: float, t1: float) -> list[tuple]:
        """→ [(stage or "ingest", a, b)] for the calls timed in [t0, t1]."""
        segs = []
        for call in self.within(t0, t1, "run", "ingest"):
            if call["kind"] == "ingest":
                segs.append(("ingest", call["t0"], call["t1"]))
                continue
            cursor = call["t0"]
            for s in self.within(call["t0"], call["t1"], "commit", "lineage"):
                if s["kind"] == "commit":
                    segs.append((s["stage"], cursor, s["t1"]))
                cursor = s["t1"]
        return segs


def _tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def spark_jobs(spark, t0: float, t1: float) -> list[dict]:
    """Jobs submitted in [t0, t1] with their Spark stages' task metrics."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    jobs, seen = [], set()
    for job in _seq(store.jobsList(None)):
        sub = _opt_ms(job.submissionTime())
        if sub is None or not (t0 * 1000 <= sub <= t1 * 1000):
            continue
        stages = []
        for sid in _seq(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # never scheduled (a reused shuffle)
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            med = mx = 0.0
            summary = store.taskSummary(sid, sd.attemptId(), quantiles)
            if summary.isDefined():
                run_ms = summary.get().executorRunTime()
                med, mx = run_ms.apply(0), run_ms.apply(1)
            stages.append(
                {
                    "task_ms": sd.executorRunTime(),
                    "shuffle_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled(),
                    "median_task_ms": med,
                    "max_task_ms": mx,
                }
            )
        jobs.append({"submitted": sub / 1000.0, "stages": stages})
    return jobs


def block_mb(spark) -> float:
    """Cached + checkpointed RDD block memory the session still holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos) / MB


def layer_metrics(tracer: Tracer, spark, names, t0: float, t1: float) -> dict[str, float]:
    """The named per-layer metrics of the calls timed in [t0, t1]; a stage
    committed twice (a run, then a run after an increment) sums both, and
    a stage no run committed reads 0."""
    segs = tracer.segments(t0, t1)
    m = dict.fromkeys(names, 0.0)

    def add(key: str, value: float) -> None:
        if key in m:
            m[key] += value

    def owner(t: float) -> str | None:
        return next((stage for stage, a, b in segs if a <= t <= b), None)

    def span_s(*kinds: str) -> float:
        return sum(s["t1"] - s["t0"] for s in tracer.within(t0, t1, *kinds))

    for stage, a, b in segs:
        add(f"stage.{stage}.wall_s", b - a)
    jobs = spark_jobs(spark, t0, t1)
    dominant: dict[str, dict] = {}
    for job in jobs:
        stage = owner(job["submitted"])
        for sd in job["stages"] if stage else ():
            add(f"stage.{stage}.task_s", sd["task_ms"] / 1000.0)
            add(f"stage.{stage}.shuffle_mb", sd["shuffle_bytes"] / MB)
            add(f"stage.{stage}.spill_mb", sd["spill_bytes"] / MB)
            if sd["task_ms"] > dominant.get(stage, {"task_ms": -1})["task_ms"]:
                dominant[stage] = sd
    # skew of the Spark stage that dominates the pipeline stage's task time
    for stage, sd in dominant.items():
        if sd["median_task_ms"] > 0:
            add(f"stage.{stage}.task_skew", sd["max_task_ms"] / sd["median_task_ms"])

    ingest_s = span_s("ingest")
    add("pipeline.ingest_increment_s", ingest_s)
    add("pipeline.self_s", span_s("run") - sum(b - a for _s, a, b in segs) + ingest_s)
    add("linking.canonicalize_s", span_s("canonicalize"))
    add("store.commit_s", span_s("commit"))
    add("store.read_s", span_s("read"))
    add("store.append_s", span_s("append"))
    written = tracer.within(t0, t1, "commit", "append")
    add("store.written_mb", sum(s["bytes"] for s in written) / MB)
    add("spark.jobs", len(jobs))
    return m
