"""SparkSession factory tuned for the KG-construction workload.

Design notes for the 100 TB target (tested on local[N]):
* AQE on — runtime coalescing + skew-join splitting cover the shuffle-heavy
  stages (entity aggregation, shared-concept self-join).
* Arrow on — every per-row stage is a pandas UDF / mapInArrow; Arrow batch
  size capped so a batch of 80k-char documents stays well under executor
  memory.
* shuffle.partitions defaults to 2× cores locally; on a real cluster set it
  to ~2-3× total executor cores (or rely on AQE coalescing from a high
  initial value).
* PySpark's DataFrame debugging (per-Column call-site capture) off — it
  is driver time on every expression built, paid even when nothing fails.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage for iterative algorithms (PageRank /
    connected-components rounds, triangle-edge reuse, incremental deltas).

    Dispatch: when the SparkContext has a checkpoint directory configured
    (``sc.setCheckpointDir("hdfs://…")`` — the cluster deployment mode),
    use a RELIABLE ``checkpoint`` whose blocks live in fault-tolerant
    storage and survive executor loss; otherwise fall back to
    ``localCheckpoint``, whose blocks are executor-local (fine on
    local[k], where losing "an executor" is losing the whole JVM anyway).
    On a 1000-executor run of the O(log d) pointer-jumping loop, a single
    lost executor under localCheckpoint kills the job — reliable
    checkpoints make each round restartable from storage instead.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


#: rows per spread partition: sized so a compute-heavy per-row stage
#: (mention detection, shingling) gets full core utilization at 10x-gate
#: scale while a tiny input skips the exchange entirely — the
#: scale-adaptive middle ground between "always repartition to 2x cores"
#: (pure overhead at sf<=0.1: measured +0.7 s on td_dedup_rate, +2.5 s on
#: td_emb_near_dup) and "never" (single-task scans at sf1: measured 7.8 s
#: mention detection on one core).
SPREAD_ROWS_PER_PART = 512


def _footer_sum(files, per_file) -> int | None:
    """Sum of ``per_file(local path)`` over ``files`` (URIs), read from
    parquet footers with pyarrow (no Spark job).  None when there are no
    files, one is not local or not readable parquet, or ``per_file``
    returns None for one."""
    from urllib.parse import unquote, urlparse

    import pyarrow as pa

    files = [urlparse(f) for f in files]
    if not files or any(u.scheme not in ("file", "") for u in files):
        return None
    total = 0
    for u in files:
        try:
            n = per_file(unquote(u.path))
        except (pa.ArrowInvalid, OSError):  # not parquet / not readable here
            return None
        if n is None:
            return None
        total += n
    return total


def _scan_rows(df: DataFrame) -> int | None:
    """Total parquet rows behind ``df``'s scan, from file footers on the
    driver (no Spark job).  None when the inputs are not local parquet
    files — callers fall back to the full shuffle-partition spread."""
    from .sources.io import parquet_rows

    return _footer_sum(df.inputFiles(), parquet_rows)


#: logical plan nodes that pass every column through unchanged and only
#: drop, reorder or repeat rows: a NULL-free scan column stays NULL-free
_ROW_ONLY_NODES = frozenset({
    "Filter", "Sort", "Repartition", "RepartitionByExpression",
    "RebalancePartitions", "GlobalLimit", "LocalLimit", "Offset", "Tail",
    "Sample", "Deduplicate",
})


def _scan_nulls(df: DataFrame, col: str) -> int | None:
    """NULLs in the parquet scan column that ``df[col]`` is, unmodified,
    summed from the files' footer statistics (no Spark job).  Zero proves
    ``df[col]`` holds no NULL.

    The column's ``exprId`` is followed from the root of the optimized
    plan down to a ``LogicalRelation`` over parquet files.  Only a bare
    attribute in a ``Project``, a row-only node (:data:`_ROW_ONLY_NODES`),
    the left side of a semi/anti join and the carrying side of an inner
    join pass it through.  Anything else (a new attribute of the same
    name, a union, an outer join, an aggregate, an in-memory or RDD
    relation) returns None, as do non-local or non-parquet files, a file
    without the column and a row group without a null count."""
    from .sources.io import parquet_nulls

    def attrs(seq):
        return [seq.apply(i) for i in range(seq.size())]

    def carries(plan, expr_id):
        return any(a.exprId().id() == expr_id for a in attrs(plan.output()))

    node = df._jdf.queryExecution().optimizedPlan()
    ids = [a.exprId().id() for a in attrs(node.output()) if a.name() == col]
    if len(ids) != 1:
        return None
    target = ids[0]
    while node.nodeName() != "LogicalRelation":
        kind = node.nodeName()
        join = node.joinType().sql() if kind == "Join" else None
        if kind == "Project":
            if not any(
                e.getClass().getSimpleName() == "AttributeReference"
                and e.exprId().id() == target
                for e in attrs(node.projectList())
            ):
                return None
            node = node.child()
        elif kind in _ROW_ONLY_NODES:
            node = node.child()
        elif join in ("LEFT SEMI", "LEFT ANTI"):
            node = node.left()
        elif join == "INNER":
            node = node.left() if carries(node.left(), target) else node.right()
        else:
            return None
    rel = node.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
    ):
        return None
    names = [a.name() for a in attrs(node.output()) if a.exprId().id() == target]
    if len(names) != 1:
        return None
    return _footer_sum(
        rel.location().inputFiles(), lambda path: parquet_nulls(path, names[0])
    )


def spread_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Restore parallelism lost to unsplittable input layout.

    The corpus parquet files ship as a SINGLE row group per file (verified
    with pyarrow at every sf), so Spark's split machinery caps the scan —
    and therefore every per-row stage fused above the first exchange
    (shingling, mention detection, simhash folds, repetition profiles) —
    at ONE task regardless of ``maxPartitionBytes`` / ``minPartitionNum``
    (a split only does work when a row-group midpoint falls inside it).
    The guide's remedy for unsplittable inputs is to repartition right
    after the read: one cheap exchange of the raw rows buys every
    downstream map stage full parallelism.

    The partition count is SCALE-ADAPTIVE (guide §2: derive partitioning
    from input size, never a constant tuned for one scale): ceil(rows /
    SPREAD_ROWS_PER_PART) capped at the session's shuffle partitions,
    with the row count read from the parquet footers on the driver (no
    job).  A small input (<= one partition's worth) skips the exchange
    outright — the fixed 2x-cores spread was measured pure overhead at
    gate scale (+0.5-2.5 s per query at sf0.1) while the same spread is
    a 10x win at sf1.  Unknown layouts (non-local / non-parquet) take
    the full spread, matching the pre-adaptive behavior.

    Hash-repartition on deterministic key columns, never round-robin:
    a keyed exchange skips the sort-before-repartition pass that
    round-robin pays for retry-stability, and the explicit numPartitions
    is never AQE-coalesced.
    """
    cap = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    rows = _scan_rows(df)
    if rows is None:
        nparts = cap
    else:
        nparts = min(cap, (rows + SPREAD_ROWS_PER_PART - 1) // SPREAD_ROWS_PER_PART)
    if nparts <= 1:
        return df
    from pyspark.sql import functions as F

    return df.repartition(nparts, *[F.col(c) for c in key_cols])


def get_spark(
    app_name: str = "kg-construct",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    ncores = os.cpu_count() if cores in ("*", None) else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * int(ncores))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default (true): measured on the
        # scaling bench, coalescing shuffles below the core count halves
        # local[16] throughput (44.6 s vs 19.8 s on the same job) because
        # mid-size shuffles collapse to fewer tasks than cores — the
        # kilobyte-stage scheduling overhead it would save at toy scale is
        # noise next to that.  Partition-count-follows-data still holds for
        # the INPUT side (parquet split sizing); shuffle-side parallelism
        # must track the cluster.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # off: every Column function call would otherwise capture its
        # Python call site (a stack walk, a conf read and two JVM calls),
        # about doubling the driver's plan-building time.  Errors keep
        # their class and JVM message but lose the call-site line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
