"""spark-submit packaging smoke: the north-rule claim is "ships via
spark-submit --py-files"; this zips the package, launches a real
spark-submit driver in a scratch directory (so the package can only
resolve from the shipped archive, not the repo checkout), runs PageRank
through it and checks the result."""

import json
import os
import shutil
import subprocess
import zipfile

import pytest

_DRIVER = """
import json
from pyspark.sql import SparkSession

from ps_projekt_pagerank_spark.operators.pagerank import pagerank

spark = (
    SparkSession.builder.appName("submit-smoke")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
edges = spark.createDataFrame(
    [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)], "src LONG, dst LONG"
)
res = pagerank(edges, epsilon=1e-6, max_iterations=100)
rows = res.ranks.collect()
print("SMOKE_RESULT " + json.dumps({
    "iterations": res.iterations,
    "n_nodes": len(rows),
    "total": sum(r["rank"] for r in rows),
}))
spark.stop()
"""


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_py_files_smoke(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = tmp_path / "ps_projekt_pagerank_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        pkg = os.path.join(repo, "ps_projekt_pagerank_spark")
        for root, _, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".pyc"):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, repo))

    driver = tmp_path / "driver.py"
    driver.write_text(_DRIVER)
    out = subprocess.run(
        [
            shutil.which("spark-submit"),
            "--master", "local[2]",
            "--driver-memory", "2g",
            "--py-files", str(zip_path),
            str(driver),
        ],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path),  # repo checkout NOT importable from here
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [
        ln for ln in out.stdout.splitlines() if ln.startswith("SMOKE_RESULT ")
    ]
    assert lines, out.stdout[-3000:]
    r = json.loads(lines[-1].removeprefix("SMOKE_RESULT "))
    assert r["iterations"] > 0
    assert r["n_nodes"] == 4
    # frozen-node PageRank can freeze early, so total mass ≈ 1 but not
    # exactly (see the NumPy oracle's premature-freeze semantics)
    assert 0.9 < r["total"] < 1.01
