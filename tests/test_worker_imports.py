"""Spark's Python workers import the package whatever the working
directory: ``build_session`` puts the package's parent directory on the
workers' PYTHONPATH. Reproduced in a fresh process, started outside the
checkout with PYTHONPATH unset, running r01, whose Python DataSource reader
runs in a worker."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from presto_weather_spark.registry import all_queries
from presto_weather_spark.session import build_session

spark = build_session("worker-imports", cpus=1)
row = all_queries()["r01_open_meteo_geocode"].fn(spark, "").collect()[0]
print("ROW", row["name"], row["latitude"])
"""


def test_workers_import_the_package_from_another_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_SCRATCH_DIR=str(tmp_path / "scratch"),
    )
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROW London 51.50853" in out.stdout
