"""cut_lineage dispatch: reliable checkpoint on clusters (checkpoint dir
configured), localCheckpoint on bare local[k] — plus an end-to-end proof
that pagerank under reliable checkpointing is bit-identical to the
localCheckpoint run (VERDICT r4 nit: executor-local checkpoint blocks die
with a lost executor on a real cluster)."""

from __future__ import annotations

import subprocess
import sys
import textwrap

import pytest

from agenticknowledgegraphconstructionsystem_spark.session import (
    _scan_rows,
    cut_lineage,
    spread_scan,
)


def test_dispatch_local_vs_reliable(spark, monkeypatch):
    df = spark.range(10)
    calls: list[str] = []
    # pyspark 4: the concrete class (pyspark.sql.classic.dataframe.DataFrame)
    # overrides the abstract pyspark.sql.DataFrame methods — patch type(df)
    monkeypatch.setattr(
        type(df), "localCheckpoint", lambda self, eager=True: calls.append("local") or self
    )
    monkeypatch.setattr(
        type(df), "checkpoint", lambda self, eager=True: calls.append("reliable") or self
    )
    # the shared test session has no checkpoint dir -> executor-local path
    assert spark.sparkContext.getCheckpointDir() is None
    cut_lineage(df)
    assert calls == ["local"]
    # a configured checkpoint dir flips the SAME call to the reliable path
    monkeypatch.setattr(
        type(spark.sparkContext), "getCheckpointDir", lambda self: "/ckpt"
    )
    cut_lineage(df)
    assert calls == ["local", "reliable"]


def test_spread_scan_json_takes_full_spread(spark, tmp_path):
    """Parquet inputs are counted from their footers; a JSON input has no
    footer, so spread_scan takes the full shuffle-partition spread."""
    spark.range(3).write.parquet(str(tmp_path / "p"))
    assert _scan_rows(spark.read.parquet(str(tmp_path / "p"))) == 3
    spark.range(3).write.json(str(tmp_path / "j"))
    df = spark.read.json(str(tmp_path / "j"))
    assert _scan_rows(df) is None
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert spread_scan(df, "id").rdd.getNumPartitions() == cap


@pytest.mark.slow
def test_pagerank_reliable_checkpoint_bit_identical(spark, tmp_path):
    """Own-subprocess session (setCheckpointDir cannot be unset on a live
    SparkContext) with a reliable checkpoint dir: pagerank scores must be
    bit-identical to the localCheckpoint run in the shared session, and
    checkpoint blocks must actually land in the dir."""
    from pyspark.sql import Row

    from agenticknowledgegraphconstructionsystem_spark.operators.graph import (
        pagerank_fixed_point,
    )

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (1, 3)]
    expected = sorted(
        (r.node, r.pr)
        for r in pagerank_fixed_point(
            spark.createDataFrame([Row(src=a, dst=b) for a, b in edges]), iters=6
        ).collect()
    )

    ckpt = tmp_path / "ckpt"
    script = textwrap.dedent(
        f"""
        import json, os, sys
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import Row
        from agenticknowledgegraphconstructionsystem_spark.session import get_spark
        from agenticknowledgegraphconstructionsystem_spark.operators.graph import pagerank_fixed_point
        spark = get_spark(app_name="ckpt-test", cores=2, shuffle_partitions=4)
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.setCheckpointDir({str(ckpt)!r})
        df = spark.createDataFrame([Row(src=a, dst=b) for a, b in {edges!r}])
        rows = sorted((r.node, r.pr) for r in pagerank_fixed_point(df, iters=6).collect())
        n_blocks = sum(len(fs) for _, _, fs in os.walk({str(ckpt)!r}))
        print(json.dumps({{"rows": rows, "n_blocks": n_blocks}}))
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    import json

    payload = json.loads(out.stdout.strip().splitlines()[-1])
    assert [tuple(r) for r in payload["rows"]] == expected
    assert payload["n_blocks"] > 0, "no reliable checkpoint blocks written"
