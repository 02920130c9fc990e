"""Benchmark entry point: ``Pipeline`` jobs end to end, as a user submits them.

    python3 perfbench/run.py --workload kg_resume --seed 1 --seconds 3 --trace 0

Run from the repository root.  The loop is closed: one client submits one
job at a time, each job a fresh driver process (``perfbench/job.py``,
``local[nproc]``) that sets up its SparkSession, runs the workload's
``Pipeline`` calls once over the seeded pages table, stops, and checks
what they committed.  Jobs are started until ``--seconds`` of pipeline
time has been measured (at least one).

Each workload starts from a committed base over seed-independent pages
(``workloads.py``).  The bases of all workloads are built once per
benchmark and engine source, each in a job of its own, by the first run
that finds one missing; each job gets a fresh copy of its base before it
starts.

``--trace 0`` reports the end-to-end metrics (median over the jobs);
``--trace 1`` runs traced jobs and reports the per-layer metrics.  The
last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Inputs, bases, fingerprints and Spark scratch space live in
``.perfbench/``.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from workloads import LAYER_METRICS, WORKLOADS  # noqa: E402

E2E_UNITS = {
    "wall_s": "s",
    "triples_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}
#: every job ends, or is killed, this many seconds after the run started,
#: or after its base was built if the run built one (a run must exit
#: within 180 s; one that builds may take longer)
RUN_LIMIT_S = 170
PR_SET_CHILD_SUBREAPER = 36
PACKAGE = "agenticknowledgegraphconstructionsystem_spark"


def run_job(workload: str, flags: list[str], pages: str, work: str, base: str | None,
            env: dict, timeout: float) -> dict:
    """One fresh driver process; its result, or the reason it failed."""
    # a fresh work dir per job: no result, output or Spark scratch survives
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "out")
    if base is not None:
        shutil.copytree(base, out)
    result_path = os.path.join(work, "job.json")
    cmd = [
        sys.executable, os.path.join(HERE, "job.py"),
        "--workload", workload, "--pages", pages,
        "--out", out, "--result", result_path,
    ] + flags
    proc = subprocess.Popen(cmd, env=env)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = None
    except BaseException:  # interrupted or terminated: take the job down too
        reap_descendants(grace=0)
        raise
    t_exit = time.time()
    reap_descendants(grace=0 if code is None else 30)
    print(f"job exited with code {code}; its JVM and workers ended {time.time() - t_exit:.1f} s later")
    if code is None:
        return {"problems": [f"job timed out after {timeout:.0f} s"]}
    if code != 0 or not os.path.exists(result_path):
        return {"problems": [f"job exited with code {code}"]}
    with open(result_path) as f:
        return json.load(f)


def descendants() -> list[int]:
    """Live (non-zombie) descendants of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except OSError:
            continue
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def reap_descendants(grace: float) -> None:
    """Give every process the job started (its JVM, the PySpark daemon and
    workers, which run in their own process group) ``grace`` seconds to
    exit, kill what is left, and wait for all of it.  As a child
    subreaper this process inherits each one whose parent exits first, so
    none can escape the wait."""
    deadline = time.time() + grace
    while True:
        while True:  # collect exited children, inherited ones included
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        alive = descendants()
        if not alive:
            return
        if time.time() >= deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def source_key(root: str) -> str:
    """Hash of the engine's and the benchmark's source files: a committed
    base is rebuilt whenever either changes."""
    h = hashlib.sha256()
    for top in (os.path.join(root, PACKAGE), HERE):
        for dirpath, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def committed_base(root: str, work: str, workload: str, pages: str, env: dict) -> str:
    """Directory of the workload's committed base; built on first use."""
    base = os.path.join(work, "base", source_key(root), workload)
    if not os.path.isdir(base):
        res = run_job(workload, ["--build-base"], pages, os.path.join(work, "job"), None,
                      env, timeout=RUN_LIMIT_S)
        if res["problems"]:
            sys.exit(f"building the committed base failed: {res['problems']}")
        os.makedirs(os.path.dirname(base), exist_ok=True)
        os.replace(os.path.join(work, "job", "out"), base)
    return base


def check_fingerprint(work: str, workload: str, seed: int, fp: dict) -> list[str]:
    """Committed tables must hash the same on every run of one seed (the
    first run of a seed under this benchmark code sets the reference)."""
    path = os.path.join(work, "fingerprints", inputs.code_key(), f"{workload}-{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            first = json.load(f)
        bad = sorted(t for t in set(first) | set(fp) if first.get(t) != fp.get(t))
        return [f"fingerprint differs from an earlier run: {bad}"] if bad else []
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(fp, f, sort_keys=True)
    return []


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # orphaned descendants of a job are re-parented here, not to init
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)

    root = os.getcwd()
    # the program under test must be in the checkout
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        sys.exit(f"{PACKAGE} not found in {root}: run from the repository root")

    work = os.path.join(root, ".perfbench")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, HERE, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "job", "spark-local")
    # get_spark's 8g driver heap roughly doubles a job's memory (3.1 vs
    # 1.6 GB peak RSS) without a measurable speed-up, and the JVM grows
    # it or not depending on GC timing, so peak_rss_mb varied 2.8-3.9 GB
    # across five kg_incremental seeds; a 2g heap caps both
    env["SPARK_DRIVER_MEM"] = "2g"
    wl = WORKLOADS[args.workload]
    # every base is built by one run, so only that run takes longer
    for name, other in WORKLOADS.items():
        other_pages = inputs.pages_parquet(work, other["n_docs"], other["n_base"], args.seed)
        other_base = committed_base(root, work, name, other_pages, env)
        if name == args.workload:
            pages, base = other_pages, other_base
    t_run = time.time()

    results, measured, job_s = [], 0.0, 0.0
    # start another job only while one more (as long as the last) still fits
    while not results or (
        measured < args.seconds and time.time() - t_run + job_s < RUN_LIMIT_S
    ):
        t_job = time.time()
        res = run_job(args.workload, ["--trace"] if args.trace else [], pages,
                      os.path.join(work, "job"), base, env, timeout=t_run + RUN_LIMIT_S - t_job)
        job_s = time.time() - t_job
        if "fingerprint" in res:
            res["problems"] += check_fingerprint(work, args.workload, args.seed, res["fingerprint"])
        measured += res.get("wall_s", args.seconds)
        results.append(res)
        if "wall_s" in res:
            phases = ", ".join(f"{k} {v:.1f} s" for k, v in res["phases_s"].items())
            print(f"job {len(results)}: {job_s:.1f} s: pipeline {res['wall_s']:.1f} s, {phases}")
        for p in res["problems"]:
            print(f"FAILED: {p}")

    ok = [r for r in results if "triples" in r]
    failed = sum(1 for r in results if r["problems"])
    if not ok:
        return 1
    if args.trace:
        names = LAYER_METRICS
        values = {n: median(r["layers"][n] for r in ok) for n, _u in names}
        parts = ("pipeline.self_s", "pipeline.ingest_increment_s")
        stage_sum = sum(v for n, v in values.items() if n.endswith(".wall_s") or n in parts)
        print(f"stage walls + pipeline.self_s + pipeline.ingest_increment_s = {stage_sum:.3f} s; "
              f"traced wall_s = {median(r['wall_s'] for r in ok):.3f} s")
    else:
        for r in ok:
            r["triples_per_s"] = r["triples"] / r["wall_s"]
        names = list(E2E_UNITS.items())
        values = {n: median(r[n] for r in ok) for n, _u in names}
    print(f"workload={args.workload} seed={args.seed} jobs={len(results)} failed={failed} "
          f"fail_rate={failed / len(results):.3f}")
    for n, unit in names:
        print(f"  {n} = {values[n]:.6g} {unit}  (median of n={len(ok)})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
