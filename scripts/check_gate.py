"""Self-check: run every queries() entry on Spark AND its oracle_sql() on
DuckDB at a given sf dir, compare row count, sorted column names, and an
order-insensitive value hash — a stand-in for the driver's CORRECTNESS gate.

Usage: python scripts/check_gate.py [sf_dir] [only_prefix]
Env:   SPARK_GRAFT_GATE_SKIP=name1,name2  — skip specific gates (used by
       the sf1 scale probe to exclude kg_pairwise_shared, whose
       cap-DISABLED oracle check is quadratic BY DESIGN — the production
       df-capped path is kg_pairwise_capped and runs fine at sf1).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from __spark_entry__ import oracle_sql, queries  # noqa: E402

from agenticknowledgegraphconstructionsystem_spark.gate_relational import (  # noqa: E402
    REL_ORACLES,
    REL_QUERIES,
)
from agenticknowledgegraphconstructionsystem_spark.gate_curation import (  # noqa: E402
    CURATION_MICRO_ORACLES,
    CURATION_MICRO_QUERIES,
)
from agenticknowledgegraphconstructionsystem_spark.gate_textdata import (  # noqa: E402
    TEXT_MICRO_ORACLES,
    TEXT_MICRO_QUERIES,
)
from agenticknowledgegraphconstructionsystem_spark.operators import dedup  # noqa: E402
from agenticknowledgegraphconstructionsystem_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    return str(v)


def table_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark(cores=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        except duckdb.Error:
            pass
    # driver surface (50 curated) + the un-folded micro-gates that ride
    # the rel_*_suite / td_textstats_suite combined queries in the driver view
    qs, os_ = queries(), oracle_sql()
    for name in REL_QUERIES:
        if name not in qs:
            qs[name] = REL_QUERIES[name]
            os_[name] = REL_ORACLES[name]
    for name in TEXT_MICRO_QUERIES:
        if name not in qs:
            qs[name] = TEXT_MICRO_QUERIES[name]
            os_[name] = TEXT_MICRO_ORACLES[name]
    for name in CURATION_MICRO_QUERIES:
        if name not in qs:
            qs[name] = CURATION_MICRO_QUERIES[name]
            os_[name] = CURATION_MICRO_ORACLES[name]
    skip = {
        s for s in os.environ.get("SPARK_GRAFT_GATE_SKIP", "").split(",") if s
    }
    failures = 0
    for name, fn in qs.items():
        if only and not name.startswith(only):
            continue
        if name in skip:
            print(f"SKIP {name} (SPARK_GRAFT_GATE_SKIP)")
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            # release eager persists some operators (winnow/minhash verify
            # stages) register — the module contract says the caller frees
            # them after each query (dedup.py unpersist_tracked docstring)
            dedup.unpersist_tracked()
        if name not in os_:
            print(f"ok?  {name}: rows={len(srows)} (no oracle — rows-only)")
            continue
        try:
            res = con.execute(os_[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_rows = len(srows) == len(drows)
        sh = table_hash([tuple(r) for r in srows], scols)
        dh = table_hash(drows, dcols)
        ok_hash = sh == dh
        status = "PASS" if (ok_cols and ok_rows and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status} {name}: rows {len(srows)}/{len(drows)} cols_ok={ok_cols} "
            f"hash {sh}/{dh} wall={time.time() - t0:.1f}s"
        )
        if status == "FAIL" and ok_cols and ok_rows:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in [tuple(x) for x in srows])
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            dset = sorted("\x1f".join(norm_cell(r[i]) for i in dorder) for r in drows)
            for a, b in zip(sset, dset):
                if a != b:
                    print(f"   spark : {a[:200]}")
                    print(f"   duckdb: {b[:200]}")
                    break
    spark.stop()
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
