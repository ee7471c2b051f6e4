"""Parquet schemas come from ``session``'s footer-keyed cache: a read of a
footer seen before plans without a schema-inference job, and anything that
changes the Spark schema a footer converts to (the file's own schema, its
timestamp unit, a conversion conf) gets its own entry. A table directory of
part files is keyed by its part listing and first part's footer."""

from __future__ import annotations

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import jobs_run
from presto_weather_spark import session
from presto_weather_spark.session import _parquet_schema, conf_scope, load_table


def _type(df, col: str) -> str:
    return df.schema[col].dataType.simpleString()


def test_identical_copy_under_a_new_path_runs_no_job(spark, sf_dir, tmp_path):
    load_table(spark, sf_dir, "orders")
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet")
    frames = []
    jobs = jobs_run(spark, lambda: frames.append(load_table(spark, str(tmp_path), "orders")))
    assert jobs == 0
    assert frames[0].count() == load_table(spark, sf_dir, "orders").count()


def test_rewritten_file_gets_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2], "v": pa.array([1, 2], pa.int64())}), path)
    assert _type(load_table(spark, str(tmp_path), "t"), "v") == "bigint"
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert _type(df, "v") == "string"
    assert sorted(r["v"] for r in df.collect()) == ["a", "b"]


def test_repeat_directory_read_runs_no_job(spark, sf_dir, tmp_path):
    load_table(spark, sf_dir, "orders").write.parquet(str(tmp_path / "orders.parquet"))
    load_table(spark, str(tmp_path), "orders")
    frames = []
    jobs = jobs_run(spark, lambda: frames.append(load_table(spark, str(tmp_path), "orders")))
    assert jobs == 0
    assert frames[0].count() == load_table(spark, sf_dir, "orders").count()


def test_rewritten_part_file_gets_its_new_schema(spark, tmp_path):
    part = tmp_path / "t.parquet" / "part-00000.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"k": [1, 2], "v": pa.array([1, 2], pa.int64())}), part)
    assert _type(load_table(spark, str(tmp_path), "t"), "v") == "bigint"
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), part)
    df = load_table(spark, str(tmp_path), "t")
    assert _type(df, "v") == "string"
    assert sorted(r["v"] for r in df.collect()) == ["a", "b"]


def test_nanos_and_micros_files_never_share_an_entry(spark, nanos_dir, tmp_path):
    t = pq.read_table(os.path.join(nanos_dir, "events.parquet"))
    t = t.set_column(1, "ts", t["ts"].cast(pa.timestamp("us")))
    pq.write_table(t, tmp_path / "events.parquet")
    micros_dir = str(tmp_path)
    raw = {
        d: _parquet_schema(spark, os.path.join(d, "events.parquet"))[0]["ts"]
        for d in (nanos_dir, micros_dir)
    }
    assert raw[nanos_dir].dataType.simpleString() == "bigint"
    assert raw[micros_dir].dataType.simpleString() == "timestamp_ntz"
    reads = [
        load_table(spark, d, "events").orderBy("event_id").collect()
        for d in (nanos_dir, micros_dir, nanos_dir)
    ]
    assert reads[0] == reads[1] == reads[2]
    assert reads[0][1]["ts"] == datetime.datetime(2024, 1, 1, 1, 0)


def test_conversion_confs_are_part_of_the_key(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), tmp_path / "t.parquet")
    assert _type(load_table(spark, str(tmp_path), "t"), "b") == "binary"
    with conf_scope(spark, {"spark.sql.parquet.binaryAsString": "true"}):
        df = load_table(spark, str(tmp_path), "t")
        assert _type(df, "b") == "string"
        assert df.first()["b"] == "x"
    assert _type(load_table(spark, str(tmp_path), "t"), "b") == "binary"


def test_unreadable_footer_falls_back_to_inference(spark, nanos_dir, monkeypatch):
    def unreadable(*args, **kwargs):
        raise OSError("footer unreadable")

    monkeypatch.setattr(pq, "read_metadata", unreadable)
    monkeypatch.setattr(pq, "ParquetDataset", unreadable)
    entries = len(session._SCHEMAS)
    frames = []
    with pytest.warns(UserWarning, match="could not sniff parquet footer"):
        jobs = jobs_run(spark, lambda: frames.append(load_table(spark, nanos_dir, "events")))
    assert jobs >= 1
    assert len(session._SCHEMAS) == entries
    df = frames[0]
    assert _type(df, "ts") == "timestamp"
    assert df.orderBy("event_id").first()["ts"] == datetime.datetime(2024, 1, 1, 0, 0)
