"""Engine scratch has one owner: ``session.stage_dir`` and ``session.temp_dir``.

Two table dirs that share a basename (``a/sf`` and ``b/sf``) must not share
staged data or a stream checkpoint, and a call's throwaway checkpoint must
not outlive the call, also when the stream fails. Scratch leaves a
``/dev/shm`` with too little free space for the OS temp dir, and says so.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from presto_weather_spark.operators.parity_extras import s02_parquet_sink_roundtrip
from presto_weather_spark import session
from presto_weather_spark.session import scratch_base, scratch_root, stage_dir, temp_dir
from presto_weather_spark.streaming.pipeline import (
    _run_to_memory,
    events_stream,
    run_display_pipeline,
    s14l_stream_observed_metrics,
    s14t_statestore_read,
)

B_EVENTS = 500


@pytest.fixture(scope="module")
def twin_dirs(tmp_path_factory, sf_dir):
    """``a/sf`` holds the test tables; ``b/sf`` shares its basename and keeps
    only the first ``B_EVENTS`` events."""
    root = tmp_path_factory.mktemp("twins")
    dirs = []
    for name in ("a", "b"):
        d = root / name / "sf"
        d.mkdir(parents=True)
        for table in ("events", "orders"):
            shutil.copyfile(os.path.join(sf_dir, f"{table}.parquet"), d / f"{table}.parquet")
        dirs.append(str(d))
    events = os.path.join(dirs[1], "events.parquet")
    pq.write_table(pq.read_table(events).slice(0, B_EVENTS), events)
    return dirs


def test_same_basename_dirs_keep_separate_stream_checkpoints(spark, twin_dirs):
    a, b = twin_dirs
    s14t_statestore_read(spark, a).collect()
    rows = s14t_statestore_read(spark, b).collect()
    assert sum(r["n_events"] for r in rows) == B_EVENTS


def test_same_basename_dirs_keep_separate_sink_outputs(spark, twin_dirs):
    a, b = twin_dirs
    from_a = s02_parquet_sink_roundtrip(spark, a)
    s02_parquet_sink_roundtrip(spark, b)
    n_orders = pq.read_metadata(os.path.join(a, "orders.parquet")).num_rows
    assert sum(r["n_orders"] for r in from_a.collect()) == n_orders


def test_stage_dir_is_keyed_by_the_full_source():
    a, b = stage_dir("probe", "/x/a/sf"), stage_dir("probe", "/x/b/sf")
    assert a != b
    open(os.path.join(a, "kept"), "w").close()
    assert stage_dir("probe", "/x/a/sf") == a
    assert os.listdir(a) == ["kept"]


def test_stream_checkpoints_do_not_outlive_the_call(spark, sf_dir):
    for _ in range(5):
        s14l_stream_observed_metrics(spark, sf_dir)
    run_display_pipeline(spark, sf_dir)
    left = [f for f in os.listdir(scratch_root()) if f.startswith(("pws_obs", "pws_ckpt"))]
    assert not left


def test_failed_stream_leaves_no_checkpoint(spark, sf_dir):
    local = os.path.join(scratch_base(), "pws-spark-local")

    def spark_temp_checkpoints():
        return {f for f in os.listdir(local) if f.startswith("temporary-")}

    before = spark_temp_checkpoints()
    failing = events_stream(spark, sf_dir).select(F.raise_error(F.lit("boom")))
    with pytest.raises(Exception, match="boom"):
        _run_to_memory(failing, "append")
    assert spark_temp_checkpoints() == before


def test_temp_dir_is_removed_when_the_block_raises():
    with pytest.raises(RuntimeError):
        with temp_dir("probe") as path:
            open(os.path.join(path, "partial"), "w").close()
            raise RuntimeError("call failed")
    assert not os.path.exists(path)


def test_scratch_skips_a_nearly_full_shm(monkeypatch, caplog, tmp_path):
    if not os.access("/dev/shm", os.W_OK):
        pytest.skip("no writable /dev/shm on this host")
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    free = {"bytes": session.SHM_MIN_FREE_BYTES}
    monkeypatch.setattr(
        session.shutil, "disk_usage", lambda path: SimpleNamespace(free=free["bytes"])
    )
    assert scratch_base() == "/dev/shm"

    free["bytes"] -= 1
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert scratch_base() == tempfile.gettempdir()
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    assert "/dev/shm" in caplog.text

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    assert scratch_base() == str(tmp_path)
