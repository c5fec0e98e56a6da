"""The package must import in Spark's Python workers from any working
directory, with no PYTHONPATH, when the driver finds the package only
through its own ``sys.path`` (the driver contract's vanilla session);
otherwise every pandas UDF fails with ``ModuleNotFoundError``.
Each case runs one applyInPandas query in a fresh interpreter and JVM,
started in an empty directory."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import sys

sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession


def session():
    return (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


{start}
edges = spark.createDataFrame([(0, 1, 10.0), (1, 0, 10.0)], "src INT, dst INT, w DOUBLE")
seeds = spark.createDataFrame([(0, "shop", 7)], "node_idx INT, category STRING, poi_id BIGINT")
nodes = spark.createDataFrame([(0,), (1,)], "node_idx INT")
rows = reach.graph_rows(edges, seeds, nodes).selectExpr("'t' AS grid_id", "true AS core", "*")
print("ROWS", sorted(tuple(r) for r in reach.shortest_paths_bounded_local(rows).collect()))
spark.stop()
"""

START = {
    # the session (and its JVM) exists before the package is imported
    "session_first": "spark = session()\nfrom fifteenmc_spark.plans import reach",
    # the package is imported first, then a vanilla session is started
    "import_first": "from fifteenmc_spark.plans import reach\nspark = session()",
}


@pytest.mark.parametrize("order", sorted(START))
def test_apply_in_pandas_runs_outside_the_repo_without_pythonpath(tmp_path, order):
    script = tmp_path / "run.py"
    script.write_text(SCRIPT.format(repo=REPO, start=START[order]))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert "ROWS [(0, 'shop', 0.0, 7), (1, 'shop', 10.0, 7)]" in r.stdout, r.stdout
