"""The package's Python worker daemon (``presto_weather_spark/_worker_daemon.py``):
``build_session`` starts Spark's Python workers from it, and it makes one
import cache invalidation read each zip archive once, not once per
``zipimporter``, while a rewritten archive is still seen."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipimport

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs the daemon module's ``__main__`` path with pyspark's daemon loop
# replaced by the check, which prints what it saw as JSON.
_CHECK = r"""
import importlib, json, runpy, sys, types, zipfile, zipimport

archives = sys.argv[1:]

def write(archive, pkg, modules):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/sub/__init__.py", "")
        for m in modules:
            z.writestr(f"{pkg}/sub/{m}.py", f"NAME = {m!r}")

def check():
    pkgs = [f"zpkg{i}" for i in range(len(archives))]
    for archive, pkg in zip(archives, pkgs):
        write(archive, pkg, ["first"])
        sys.path.insert(0, archive)
        importlib.import_module(f"{pkg}.sub.first")
    importers = sorted(
        f.archive for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive in archives
    )
    for archive, pkg in zip(archives, pkgs):
        write(archive, pkg, ["first", "second"])
    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda a: reads.append(a) or read(a)
    importlib.invalidate_caches()
    seconds = [importlib.import_module(f"{p}.sub.second").NAME for p in pkgs]
    print(json.dumps({"importers": importers, "reads": sorted(reads), "seconds": seconds}))

sys.modules["pyspark.daemon"] = types.SimpleNamespace(manager=check)
runpy.run_module("presto_weather_spark._worker_daemon", run_name="__main__")
"""


def test_one_invalidation_reads_each_archive_once_and_sees_a_rewrite(tmp_path):
    archives = [str(tmp_path / "a.zip"), str(tmp_path / "b.zip")]
    out = subprocess.run(
        [sys.executable, "-c", _CHECK, *archives],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    seen = json.loads(out.stdout.strip().splitlines()[-1])
    # one importer per package path inside each archive: root, pkg, pkg/sub
    assert seen["importers"] == sorted(archives * 3)
    assert seen["reads"] == sorted(archives)
    assert seen["seconds"] == ["second", "second"]


def test_importing_the_daemon_module_changes_nothing():
    invalidate_all = importlib.invalidate_caches
    reread = zipimport.zipimporter.invalidate_caches
    importlib.import_module("presto_weather_spark._worker_daemon")
    assert importlib.invalidate_caches is invalidate_all
    assert zipimport.zipimporter.invalidate_caches is reread


def test_build_session_workers_run_under_the_package_daemon(spark):
    @F.udf("string")
    def daemon(_):
        import sys

        return sys.modules["__main__"].__spec__.name

    rows = spark.range(0, 4, 1, 2).select(daemon("id").alias("d")).distinct().collect()
    assert [r.d for r in rows] == ["presto_weather_spark._worker_daemon"]
