"""Session setup contracts that hold whatever process builds the
session and wherever it runs."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a driver-owned session, started outside the repo: only the driver's
# sys.path knows the package, so the worker import must come from
# ensure_runtime_confs
_WORKER_IMPORT = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
from timeseries_data_provider_spark.session import ensure_runtime_confs

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
ensure_runtime_confs(spark)


def run(batches):
    import timeseries_data_provider_spark  # noqa: F401

    yield from batches


print("rows", spark.range(3).mapInPandas(run, "id long").count())
spark.stop()
"""


def test_python_workers_import_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_IMPORT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows 3" in proc.stdout
