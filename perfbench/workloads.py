"""The benchmark's workloads: the size of the generated corpus and the
committed base a job starts from.  Every job runs the default Pipeline
and must leave CORE_STAGES committed."""

CORE_STAGES = (
    "extract", "mentions", "entities", "canonical_map", "edges",
    "relationships", "triples", "findings", "validated_edges",
)

WORKLOADS = {
    # the reference pipeline (link on) over pre-extracted text.  The base
    # holds the extract and mentions of the first n_base docs; the timed
    # job is ingest_increment of the rest (delta extract and delta mention
    # detection, appended) and a run that reads both multi-snapshot tables
    # and rebuilds the corpus-level stages
    "kg_incremental": {
        "n_docs": 500,
        "n_base": 450,
        "base": "extract_mentions",
    },
    # the same default pipeline re-submitted over a store that already
    # holds every stage, as after a finished or crashed-and-recovered job:
    # the run resumes (reads) each stage and computes none.  All docs are
    # in the base, so the inputs do not depend on the seed
    "kg_resume": {
        "n_docs": 500,
        "n_base": 500,
        "base": "kg",
    },
}

#: every stage some workload computes in its timed calls
STAGES = CORE_STAGES[2:]

STAGE_KEYS = ("wall_s", "task_s", "shuffle_mb", "spill_mb", "task_skew")

#: per-layer metric names and units, as BENCHMARK.json lists them
LAYER_METRICS = (
    [(f"stage.{s}.{k}", "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "ratio")
     for s in STAGES for k in STAGE_KEYS]
    + [("pipeline.self_s", "s"), ("pipeline.ingest_increment_s", "s"),
       ("linking.canonicalize_s", "s"), ("store.commit_s", "s"),
       ("store.read_s", "s"), ("store.append_s", "s"), ("store.written_mb", "MB"),
       ("spark.jobs", "count"), ("session.block_mb", "MB")]
)
