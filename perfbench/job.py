"""One benchmark job: a fresh driver process that sets up a SparkSession,
runs the workload's ``Pipeline`` calls over a generated pages table,
stops the session, checks the committed outputs from their parquet
files, and writes one JSON result file.

This is the job a user submits: one client, one job, ``local[nproc]``,
one driver process.  ``run.py`` starts it, never imports it.

    python3 perfbench/job.py --workload kg_resume --pages <parquet> \
        --out <store dir> --result <json> [--trace] [--build-base]

``--out`` is the pipeline's store directory; ``run.py`` fills it with a
copy of the workload's committed base first.
``--build-base`` commits that base instead of running the timed calls.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import pyarrow.parquet as pq

sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F  # noqa: E402

from agenticknowledgegraphconstructionsystem_spark import reference_oracle  # noqa: E402
from agenticknowledgegraphconstructionsystem_spark.operators.dedup import (  # noqa: E402
    unpersist_tracked,
)
from agenticknowledgegraphconstructionsystem_spark.operators.extract import (  # noqa: E402
    extract_docs,
)
from agenticknowledgegraphconstructionsystem_spark.operators.mentions import (  # noqa: E402
    clean_mentions,
    detect_mentions_native,
)
from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import (  # noqa: E402
    STAGES,
    Pipeline,
)
from agenticknowledgegraphconstructionsystem_spark.session import get_spark  # noqa: E402

import spans as tracing  # noqa: E402
from workloads import CORE_STAGES, LAYER_METRICS, WORKLOADS  # noqa: E402

PR_FLOOR = 0.95


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def setup(pages_path: str):
    spark = get_spark(
        app_name="perfbench",
        cores=len(os.sched_getaffinity(0)),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(pages_path).createOrReplaceTempView("pages")
    return spark


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Σ VmHWM over the driver JVM and its Python worker processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit; its Python workers
    exit with it (run.py waits for them)."""
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)


def commit_base(spark, out: str, pages, wl: dict) -> None:
    """The committed base a workload's jobs start from, as an earlier run
    would have left it: the knowledge graph the default pipeline commits
    (``"kg"``), or the first ``n_base`` pages' extract and mentions,
    committed with the operators the pipeline's own stages use."""
    pipe = Pipeline(spark, out, run_id="base")
    if wl["base"] == "kg":
        pipe.run(pages)
        return
    n_base = wl["n_base"]
    first_new = pages.select("url").orderBy("url").limit(n_base + 1).collect()[-1]["url"]
    base = pages.where(F.col("url") < F.lit(first_new))
    store = pipe.store
    store.commit("extract", extract_docs(base), pipe.run_id)
    store.commit(
        "mentions",
        clean_mentions(detect_mentions_native(store.read("extract"))),
        pipe.run_id,
    )


def timed_calls(pipe, pages, incremental: bool) -> None:
    """The workload's Pipeline calls: a run, after an increment of the
    pages not yet committed if the workload is incremental."""
    if incremental:
        pipe.ingest_increment(pages)
    pipe.run(pages)


# -- checks, from the committed parquet files (no Spark) ---------------------
def read_stage(store_dir: str, stage: str) -> tuple[dict, list[dict]]:
    """(manifest, rows) of a committed stage: every data directory of its
    current snapshot, base and appended deltas alike."""
    with open(os.path.join(store_dir, f"{stage}._manifest.json")) as f:
        manifest = json.load(f)
    rows: list[dict] = []
    for rel in manifest["paths"]:
        rows.extend(pq.read_table(os.path.join(store_dir, stage, rel)).to_pylist())
    return manifest, rows


def fingerprint(rows: list[dict]) -> list:
    """Order-independent (rows, sum of row hashes mod 2**64) of a table."""
    h = 0
    for r in rows:
        digest = hashlib.blake2b(repr(sorted(r.items())).encode(), digest_size=8).digest()
        h = (h + int.from_bytes(digest, "little")) % 2**64
    return [len(rows), str(h)]


def precision_recall(got: set, exp: set) -> tuple[float, float]:
    tp = len(got & exp)
    return tp / max(len(got), 1), tp / max(len(exp), 1)


def check(wl: dict, pages_path: str, store_dir: str) -> dict:
    """Triples vs the reference oracle, the expected stages, the
    increment's contents, and a fingerprint of every committed table."""
    committed = [s for s in STAGES if os.path.exists(os.path.join(store_dir, f"{s}._manifest.json"))]
    tables = {s: read_stage(store_dir, s) for s in committed}
    problems = []
    if set(committed) != set(CORE_STAGES):
        problems.append(f"committed stages {committed} != {list(CORE_STAGES)}")
        return {"problems": problems}
    got = {(r["subj"], r["pred"], r["obj"]) for r in tables["triples"][1]}
    oracle = reference_oracle.run(pq.read_table(pages_path).to_pylist())
    p, r = precision_recall(got, oracle.triples)
    if not got:
        problems.append("no triples committed")
    if min(p, r) < PR_FLOOR:
        problems.append(f"triple precision/recall {p:.4f}/{r:.4f} below {PR_FLOOR}")
    # the base (plus any appended delta) must hold exactly what detection
    # over the whole corpus finds
    n_extract = tables["extract"][0]["rows"]
    if n_extract != wl["n_docs"]:
        problems.append(f"extract holds {n_extract} docs, not {wl['n_docs']}")
    m_got = {(m["url"], m["name"]) for m in tables["mentions"][1]}
    m_exp = {(m[0], m[1]) for m in oracle.mentions}
    if m_got != m_exp:
        problems.append(
            f"mentions differ from the oracle's: {len(m_got - m_exp)} extra, {len(m_exp - m_got)} missing"
        )
    return {
        "problems": problems,
        "triples": tables["triples"][0]["rows"],
        "triple_precision": p,
        "triple_recall": r,
        "fingerprint": {s: fingerprint(rows) for s, (_m, rows) in tables.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--build-base", action="store_true")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    spark = setup(args.pages)
    pages = spark.table("pages")
    if args.build_base:
        commit_base(spark, args.out, pages, wl)
        shutdown(spark)
        with open(args.result, "w") as f:
            json.dump({"problems": []}, f)
        return
    setup_s = process_age_s()
    pipe = Pipeline(spark, args.out, run_id="bench")

    tracer = tracing.Tracer() if args.trace else None
    if tracer:
        tracer.install()
    t0 = time.time()
    try:
        timed_calls(pipe, pages, wl["base"] == "extract_mentions")
    finally:
        if tracer:
            tracer.uninstall()
    t1 = time.time()
    result = {
        "wall_s": t1 - t0,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb(process_tree(spark.sparkContext._gateway.proc.pid)),
    }
    if tracer:
        result["layers"] = tracing.layer_metrics(
            tracer, spark, [name for name, _unit in LAYER_METRICS], t0, t1
        )

    # run hygiene: release what the run cached before the session ends
    unpersist_tracked()
    spark.catalog.clearCache()
    if tracer:
        result["layers"]["session.block_mb"] = tracing.block_mb(spark)
    shutdown(spark)
    t_stopped = time.time()
    result.update(check(wl, args.pages, args.out))
    result["phases_s"] = {
        "setup": setup_s,
        "stop": t_stopped - t1,
        "checks": time.time() - t_stopped,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
