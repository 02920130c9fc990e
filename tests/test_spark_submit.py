"""The north rule's deployment mode, actually exercised: package the
engine as a zip, ship it with ``spark-submit --py-files kgspark.zip``,
and run the staged pipeline end-to-end in a subprocess whose PYTHONPATH
is scrubbed — the package (driver side AND the Arrow-UDF python workers,
which re-import ``semantics`` for the byte-identical extraction
contract) must resolve from the shipped zip alone.

Slow-marked: boots a fresh spark-submit JVM (~60 s)."""

from __future__ import annotations

import json
import os
import subprocess
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"

_DRIVER = """
import json, sys

import agenticknowledgegraphconstructionsystem_spark as pkg
from pyspark.sql import SparkSession

from agenticknowledgegraphconstructionsystem_spark.plans.pipeline import Pipeline
from agenticknowledgegraphconstructionsystem_spark.sources.pages import synthetic_pages

spark = SparkSession.builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
res = Pipeline(spark, sys.argv[1], run_id="submit0").run(synthetic_pages(spark, 60))
print("RESULT_JSON:" + json.dumps({
    "pkg_file": pkg.__file__,
    "triples": res["triples"].count(),
    "mentions": res["mentions"].count(),
    "entities": res["entities"].count(),
}))
spark.stop()
"""


@pytest.mark.slow
def test_spark_submit_py_files_end_to_end(tmp_path):
    if not os.path.exists(SPARK_SUBMIT):
        pytest.skip("no spark-submit on this box")

    zpath = tmp_path / "kgspark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted((REPO / "agenticknowledgegraphconstructionsystem_spark").rglob("*.py")):
            z.write(p, p.relative_to(REPO))

    driver = tmp_path / "driver.py"
    driver.write_text(_DRIVER)

    env = dict(os.environ)
    env["PYTHONPATH"] = ""  # the package must come from --py-files alone
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.sql.adaptive.enabled=true",
            "--py-files", str(zpath),
            str(driver), str(tmp_path / "wh"),
        ],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=540, env=env,
    )
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-3000:])
    lines = [l for l in r.stdout.splitlines() if l.startswith("RESULT_JSON:")]
    assert lines, r.stdout[-2000:]
    d = json.loads(lines[-1][len("RESULT_JSON:"):])
    # imported from the shipped zip, not from a repo checkout
    assert "kgspark.zip" in d["pkg_file"], d["pkg_file"]
    assert d["triples"] > 0 and d["mentions"] > 0 and d["entities"] > 0
    # the staged run committed its outputs (StageStore manifests landed)
    assert any((tmp_path / "wh").glob("*._manifest.json"))
