"""Same-session interleaved A/B bench: current tree vs an arbitrary git ref.

Cross-round BENCH comparisons on this box are meaningless (identical code
has measured 2.6x apart; see PLANS.md + VERDICT r4).  The only way to
attribute a per-query delta to a code change is to interleave the two
versions within ONE session, minutes apart, and take min-of-rounds per
(version, query):

    round 1: A sweep, B sweep
    round 2: A sweep, B sweep
    round 3: A sweep, B sweep

Each sweep is a fresh subprocess (own JVM) that resolves query names via
that tree's ``__spark_entry__.queries()``, then through this checkout's
``bench_extra.legs()`` (bench.py's own legs such as
``kg_canonicalize_20x``, run over that tree's package), warms up, and
runs each query once, noop-sink forced.  A calibration wall (fixed CPU workload) is taken
before every sweep so noisy windows are flagged in the output.

Usage:
    python scripts/ab_bench.py <git-ref> [--queries q1,q2,...] [--rounds 3]
        [--sf /root/testdata/sf0.1] [--cpus 32]

Writes BENCH/ab_<ref>.json and prints a verdict table: per query, the
min walls of both versions, the ratio, and whether the delta exceeds the
noise band (|log ratio| > 0.15 → attributable).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: default A/B set: the heavy movers called out by round-over-round noise
DEFAULT_QUERIES = [
    "td_minhash_dups",
    "kg_triangles",
    "kg_pagerank",
    "td_winnow_dups",
    "td_simhash_sigs",
    "kg_canonicalize",
]

_WORKER = r"""
import importlib.util, json, sys, time
tree, sf_dir, cpus, names, tool = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4].split(","), sys.argv[5]
sys.path.insert(0, tree)
from agenticknowledgegraphconstructionsystem_spark.session import get_spark
import __spark_entry__ as E
spark = get_spark(app_name="ab-bench", cores=cpus)
spark.sparkContext.setLogLevel("ERROR")
qs = E.queries()
# every other leg bench_extra.py can time (folded micro-gates, bench.py's
# own legs such as kg_canonicalize_20x) stays A/B-addressable: the
# registry comes from this tool's checkout and runs over the swept tree's
# package, already imported above; queries() entries keep precedence
spec = importlib.util.spec_from_file_location("bench_extra", tool + "/bench_extra.py")
bench_extra = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench_extra)
legs, shared_mentions = bench_extra.legs()
extra = {k: v for k, v in legs.items() if k not in qs}
qs.update(extra)
spark.read.parquet(sf_dir + "/customer.parquet").count()  # JVM warm-up
if any(n in extra for n in names):
    shared_mentions(spark, sf_dir)  # bench.py's shared mentions, untimed
walls = {}
for name in names:
    fn = qs[name]
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    walls[name] = round(time.time() - t0, 3)
    try:
        from agenticknowledgegraphconstructionsystem_spark.operators import dedup
        dedup.unpersist_tracked()
    except Exception:
        pass
print("ABRESULT " + json.dumps(walls))
spark.stop()
"""


def sweep(tree: str, sf_dir: str, cpus: str, names: list[str]) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, "-c", _WORKER, tree, sf_dir, cpus, ",".join(names), REPO],
        capture_output=True,
        text=True,
        timeout=3600,
        cwd=tree,
    )
    for ln in out.stdout.splitlines():
        if ln.startswith("ABRESULT "):
            return json.loads(ln[len("ABRESULT ") :])
    raise RuntimeError(
        f"sweep in {tree} produced no result; stderr tail:\n"
        + "\n".join(out.stderr.splitlines()[-15:])
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ref", help="git ref to compare the working tree against")
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default="32")
    args = ap.parse_args()
    names = [q for q in args.queries.split(",") if q]

    from agenticknowledgegraphconstructionsystem_spark.calibration import (
        calibration_wall,
    )

    ref_sha = subprocess.run(
        ["git", "rev-parse", args.ref], capture_output=True, text=True, cwd=REPO
    ).stdout.strip()
    # the ref's committed files, unpacked into a scratch dir (no worktree
    # metadata is left in the repository)
    wt = tempfile.mkdtemp(prefix=f"ab-{ref_sha[:8]}-")
    archive = subprocess.run(
        ["git", "archive", ref_sha], check=True, capture_output=True, cwd=REPO
    ).stdout
    subprocess.run(["tar", "-x", "-C", wt], input=archive, check=True)
    try:
        rounds: list[dict] = []
        for i in range(args.rounds):
            entry = {"round": i}
            entry["cal_before_new"] = calibration_wall()
            entry["new"] = sweep(REPO, args.sf, args.cpus, names)
            entry["cal_before_old"] = calibration_wall()
            entry["old"] = sweep(wt, args.sf, args.cpus, names)
            rounds.append(entry)
            print(json.dumps(entry), file=sys.stderr)

        verdicts = {}
        for q in names:
            new_min = min(r["new"][q] for r in rounds)
            old_min = min(r["old"][q] for r in rounds)
            ratio = new_min / old_min if old_min else float("inf")
            verdicts[q] = {
                "new_min_sec": new_min,
                "old_min_sec": old_min,
                "new_walls": [r["new"][q] for r in rounds],
                "old_walls": [r["old"][q] for r in rounds],
                "ratio_new_over_old": round(ratio, 3),
                # |log ratio| > 0.15 (~±16%) on interleaved min-of-N is
                # outside this box's same-session noise band
                "attributable": abs(math.log(ratio)) > 0.15,
            }
        result = {
            "ref": args.ref,
            "ref_sha": ref_sha,
            "sf": args.sf,
            "cpus": args.cpus,
            "rounds": args.rounds,
            "protocol": "interleaved new/old sweeps, min per (version,query)",
            "calibration_walls": [
                [r["cal_before_new"], r["cal_before_old"]] for r in rounds
            ],
            "verdicts": verdicts,
        }
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        safe = args.ref.replace("/", "_")
        with open(os.path.join(REPO, "BENCH", f"ab_{safe}.json"), "w") as f:
            json.dump(result, f, indent=1)
        print(json.dumps(result))
    finally:
        shutil.rmtree(wt, ignore_errors=True)


if __name__ == "__main__":
    main()
