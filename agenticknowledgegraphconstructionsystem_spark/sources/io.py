"""Storage shim: Iceberg-like staged commits over parquet (SURVEY §7 item 6).

The real-cluster deployment writes Iceberg tables (``MERGE INTO``, atomic
snapshot commits, ``bucket(N, url)`` partitioning).  This sandbox has no
Iceberg jars, so the same commit semantics are provided over parquet plus a
sidecar ``_manifest.json``:

* a stage is **committed** iff its manifest exists (written strictly after
  the parquet data lands → crash between data and manifest = uncommitted,
  the stage reruns — same contract as an Iceberg snapshot),
* ``merge_by_key`` gives MERGE/upsert semantics (latest-wins by an explicit
  deterministic ordering column — never arrival order).

Keep this interface thin so the Iceberg path is a drop-in on a real
cluster.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: real-cluster DDL the shim stands in for (SURVEY §2.1 S13: indexes →
#: bucketed partitioning + min/max file pruning; views → saved DataFrames)
ICEBERG_DDL = {
    "pages": """
        CREATE TABLE kg.pages (
          url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
        USING iceberg PARTITIONED BY (bucket(1024, url))""",
    "mentions": """
        CREATE TABLE kg.mentions (
          url STRING, name STRING, concept_type STRING,
          relevance_pct INT, pos INT, context STRING)
        USING iceberg PARTITIONED BY (bucket(1024, url))""",
    "entities": """
        CREATE TABLE kg.entities (
          entity_id BIGINT, name STRING, concept_type STRING,
          mention_count BIGINT, sum_relevance_pct BIGINT,
          max_relevance_pct INT, min_relevance_pct INT)
        USING iceberg PARTITIONED BY (bucket(64, name))""",
    "merge_docs": """
        MERGE INTO kg.docs t USING updates s ON t.url = s.url
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""",
}


def parquet_rows(path: str) -> int:
    """Rows of one local parquet file, from its footer (no Spark job)."""
    return pq.ParquetFile(path).metadata.num_rows


def parquet_nulls(path: str, column: str) -> int | None:
    """NULLs in one top-level column of a local parquet file, summed from
    its row groups' footer statistics (no Spark job).  None when the file
    lacks the column or a row group records no null count."""
    md = pq.ParquetFile(path).metadata
    idx = [j for j in range(md.num_columns) if md.schema.column(j).path == column]
    if len(idx) != 1:
        return None
    nulls = 0
    for g in range(md.num_row_groups):
        stats = md.row_group(g).column(idx[0]).statistics
        if stats is None or not stats.has_null_count:
            return None
        nulls += stats.null_count
    return nulls


def written_rows(data_dir: str) -> dict[int, int]:
    """Rows per write task of a parquet data dir Spark just wrote, from
    the file footers: ``{task id: rows}``, keyed by the ``part-NNNNN``
    number and summed across Hive ``key=value`` subdirs."""
    rows: dict[int, int] = {}
    for dirpath, _dirs, files in os.walk(data_dir):
        for name in files:
            if name.startswith("part-") and name.endswith(".parquet"):
                task = int(name.split("-")[1])
                rows[task] = rows.get(task, 0) + parquet_rows(os.path.join(dirpath, name))
    return rows


class StageStore:
    """Parquet-backed stage storage with Iceberg-style snapshot semantics.

    Every mutation (``commit``, ``append``, ``rollback``) mints a new
    immutable **snapshot**: a manifest entry listing the data directories
    that make up the stage at that point.  Like Iceberg, an append never
    rewrites existing files — it adds a ``delta-<id>`` directory and the
    new snapshot references old dirs + the new one.  The manifest is
    replaced atomically (``os.replace``) strictly after all data lands, so
    a crash at any point leaves the previous snapshot current.

    Time travel: ``read(stage, as_of=<snapshot_id>)`` reads any retained
    snapshot; ``rollback(stage, <snapshot_id>)`` makes one current again
    (the Iceberg ``rollback_to_snapshot`` procedure).  The last
    ``RETAIN_SNAPSHOTS`` superseded snapshots are kept; older unreferenced
    data directories are pruned on the next mutation (Iceberg
    ``expire_snapshots``).
    """

    #: superseded snapshots retained for time travel / rollback
    RETAIN_SNAPSHOTS = 5

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def _manifest(self, stage: str) -> str:
        return os.path.join(self.base_dir, f"{stage}._manifest.json")

    def is_committed(self, stage: str) -> bool:
        return os.path.exists(self._manifest(stage))

    def manifest(self, stage: str) -> dict:
        with open(self._manifest(stage)) as f:
            return json.load(f)

    # -- snapshot plumbing -------------------------------------------------
    def _next_id(self, stage: str) -> int:
        """Next snapshot id: 1 + max over existing data dirs (crash-safe —
        orphan dirs from aborted writes still advance the counter)."""
        sd = self._path(stage)
        best = 0
        if os.path.isdir(sd):
            for name in os.listdir(sd):
                parts = name.rsplit("-", 1)
                if len(parts) == 2 and parts[0] in ("snap", "delta") and parts[1].isdigit():
                    best = max(best, int(parts[1]))
        if self.is_committed(stage):
            m = self.manifest(stage)
            ids = [m.get("snapshot_id", 0)] + [
                h.get("snapshot_id", 0) for h in m.get("history", [])
            ]
            best = max(best, *ids)
        return best + 1

    def _summary(self, m: dict) -> dict:
        return {
            k: m[k]
            for k in (
                "snapshot_id",
                "kind",
                "rows",
                "paths",
                "committed_at",
                "run_id",
                "partition_by",
                "schema",
            )
            if k in m
        }

    def _write_manifest(self, stage: str, manifest: dict, prev: dict | None) -> None:
        """History push + retention trim + atomic replace + data-dir prune."""
        history = list(prev.get("history", [])) if prev else []
        if prev is not None:
            history.insert(0, self._summary(prev))
        expired = history[self.RETAIN_SNAPSHOTS :]
        manifest["history"] = history[: self.RETAIN_SNAPSHOTS]
        tmp = self._manifest(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest(stage))
        # expire_snapshots: drop data dirs referenced ONLY by expired entries
        live = set(manifest.get("paths", []))
        for h in manifest["history"]:
            live.update(h.get("paths", []))
        for h in expired:
            for rel in h.get("paths", []):
                if rel not in live:
                    shutil.rmtree(os.path.join(self._path(stage), rel), ignore_errors=True)

    def _resolve(self, stage: str, as_of: int | None) -> dict:
        m = self.manifest(stage)
        if as_of is None or m.get("snapshot_id") == as_of:
            return m
        for h in m.get("history", []):
            if h.get("snapshot_id") == as_of:
                return h
        raise KeyError(f"stage {stage!r}: no retained snapshot {as_of}")

    def snapshots(self, stage: str) -> list[dict]:
        """Current snapshot summary first, then retained history."""
        m = self.manifest(stage)
        return [self._summary(m)] + list(m.get("history", []))

    # -- mutations ---------------------------------------------------------
    def commit(
        self,
        stage: str,
        df: DataFrame,
        run_id: str,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Write stage output as a fresh full snapshot, then atomically mark
        committed via the manifest.

        ``partition_by`` writes a Hive-partitioned layout (the parquet
        analog of an Iceberg partition spec): consumers filtering on a
        partition column read only its directories — Catalyst shows the
        pruning as ``PartitionFilters`` on the scan.

        The manifest records the frame's schema, so reads skip Spark's
        schema-inference job, and partitioned snapshots keep their
        declared column order and types (partition-directory values are
        string-encoded on disk and would otherwise re-infer as int and
        migrate to the end of the schema)."""
        t0 = time.time()
        snap_id = self._next_id(stage)
        rel = f"snap-{snap_id}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        path = os.path.join(self._path(stage), rel)
        writer.parquet(path)
        n = sum(written_rows(path).values())
        prev = self.manifest(stage) if self.is_committed(stage) else None
        manifest = {
            "stage": stage,
            "run_id": run_id,
            "rows": n,
            "wall_ms": int((time.time() - t0) * 1000),
            "committed_at": time.time(),
            "snapshot_id": snap_id,
            "kind": "overwrite",
            "paths": [rel],
            "schema": df.schema.jsonValue(),
            **({"partition_by": partition_by} if partition_by else {}),
        }
        self._write_manifest(stage, manifest, prev)
        return self._load(stage, manifest)

    def append(self, stage: str, df: DataFrame, uncommit: tuple[str, ...] = ()) -> int:
        """Iceberg-style append: land a delta data dir, then publish a new
        snapshot referencing previous dirs + the delta.  Existing files are
        never rewritten, so every retained snapshot stays readable.
        Returns the number of appended rows, read from the delta's footers
        (no counting job).

        An empty delta publishes nothing: its dir is removed and 0 is
        returned.  Otherwise the ``uncommit`` stages are uncommitted after
        the data has landed and before the snapshot is published, so no
        crash can leave the new snapshot published beside a still
        committed ``uncommit`` stage."""
        prev = self.manifest(stage)  # raises if not committed — appends need a base
        if prev.get("partition_by"):
            # delta dirs are written unpartitioned; mixing them under a
            # Hive-partitioned base would produce a layout read()'s
            # multi-path parquet scan cannot reconcile
            raise ValueError(
                f"append to Hive-partitioned stage {stage!r} "
                f"(partition_by={prev['partition_by']}) is not supported; "
                "re-commit with the full table instead"
            )
        snap_id = self._next_id(stage)
        rel = f"delta-{snap_id}"
        path = os.path.join(self._path(stage), rel)
        df.write.mode("overwrite").parquet(path)
        added = sum(written_rows(path).values())
        if added == 0:
            shutil.rmtree(path, ignore_errors=True)
            return 0
        for other in uncommit:
            self.uncommit(other)
        manifest = {
            **{k: v for k, v in prev.items() if k != "history"},
            "rows": int(prev.get("rows", 0)) + added,
            "committed_at": time.time(),
            "appended_at": time.time(),
            "snapshot_id": snap_id,
            "kind": "append",
            "paths": list(prev.get("paths", [])) + [rel],
        }
        self._write_manifest(stage, manifest, prev)
        return added

    def rollback(self, stage: str, snapshot_id: int) -> None:
        """Make a retained snapshot current again (Iceberg
        ``rollback_to_snapshot``).  Mints a new snapshot that references the
        target's data dirs, so the rolled-back-from state stays in history
        and can itself be rolled back to."""
        prev = self.manifest(stage)
        if prev.get("snapshot_id") == snapshot_id:
            return
        target = self._resolve(stage, snapshot_id)
        # the target's layout comes back with its data dirs: a schema or
        # partition spec kept from the current snapshot would misread them
        layout = ("schema", "partition_by")
        manifest = {
            **{k: v for k, v in prev.items() if k != "history" and k not in layout},
            **{k: target[k] for k in layout if k in target},
            "rows": target.get("rows"),
            "committed_at": time.time(),
            "snapshot_id": self._next_id(stage),
            "kind": "rollback",
            "rolled_back_to": snapshot_id,
            "paths": list(target.get("paths", [])),
        }
        self._write_manifest(stage, manifest, prev)

    # -- reads -------------------------------------------------------------
    def read(self, stage: str, as_of: int | None = None) -> DataFrame:
        """Read the current snapshot, or any retained one via ``as_of``."""
        return self._load(stage, self._resolve(stage, as_of))

    def read_delta(self, stage: str) -> DataFrame:
        """The current snapshot's newest data dir alone: after an append,
        exactly the appended rows."""
        m = self.manifest(stage)
        return self._load(stage, {**m, "paths": m["paths"][-1:]})

    def _load(self, stage: str, snap: dict) -> DataFrame:
        """A snapshot's data dirs as one DataFrame, read with the schema
        its manifest records (see commit)."""
        paths = [os.path.join(self._path(stage), rel) for rel in snap["paths"]]
        sch = T.StructType.fromJson(snap["schema"])
        out = self.spark.read.schema(sch).parquet(*paths)
        # partition columns are read last: restore the declared order
        return out.select(*sch.fieldNames()) if snap.get("partition_by") else out

    def uncommit(self, stage: str) -> None:
        """Test hook: simulate a crash after stage k (delete the commit)."""
        if os.path.exists(self._manifest(stage)):
            os.remove(self._manifest(stage))


def merge_by_key(
    current: DataFrame, incoming: DataFrame, keys: list[str], order_col: str
) -> DataFrame:
    """Iceberg ``MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT``
    (database_utils.py:109-113 upsert semantics) as a window dedup:
    union → keep the row with the highest order_col per key (deterministic
    tie-break on remaining columns is the caller's duty via order_col)."""
    unioned = current.unionByName(incoming, allowMissingColumns=False)
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return unioned.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def resume_inputs(inputs: DataFrame, committed: DataFrame, key: str) -> DataFrame:
    """J7 anti-join resume (database.ts:66-81): rows whose key already
    appears in committed output are skipped.  A left-anti join only tests
    that a key exists, so duplicate committed keys need no distinct."""
    return inputs.join(committed.select(key), key, "left_anti")
