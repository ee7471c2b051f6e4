"""Prepared requests (``registry.py``): ``register`` keeps a key's built
frame while its tables, the session's SQL conf and the session itself are
unchanged, and hands out a fresh ``select("*")`` of it. Each test wraps a
build of its own in ``registry._prepared`` and counts the builds, so it sees
which calls were served prepared; tables are a few rows written to
``tmp_path``."""

from __future__ import annotations

import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from conftest import jobs_run
from pyspark.sql import functions as F

from presto_weather_spark import registry
from presto_weather_spark.operators._util import fits_driver, materialize
from presto_weather_spark.registry import all_queries
from presto_weather_spark.session import conf_scope, load_table

QS = all_queries()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _counted(build):
    """``build`` prepared the way ``register`` prepares a key, and the list
    of the ``sf_dir`` of every build it ran."""
    builds = []

    def counting(spark, sf_dir):
        builds.append(sf_dir)
        return build(spark, sf_dir)

    return registry._prepared(counting), builds


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _kept(fn, spark, sf_dir, builds) -> list[tuple]:
    """Call ``fn`` until it is served prepared (the first read of a new
    footer infers its schema, a job, so that build is not kept); returns
    the prepared call's rows."""
    fn(spark, sf_dir)
    fn(spark, sf_dir)
    n = len(builds)
    rows = _rows(fn(spark, sf_dir))
    assert len(builds) == n, "third call was built afresh"
    return rows


def _write_region(path, names) -> None:
    # uncompressed, no dictionary, no statistics: equal-length names give a
    # file of the same byte count
    table = pa.table({"r_regionkey": pa.array(range(len(names)), pa.int32()), "r_name": names})
    pq.write_table(
        table, path, compression="none", use_dictionary=False, write_statistics=False
    )


def _write_part(table_dir, name, keys) -> None:
    table_dir.mkdir(exist_ok=True)
    pq.write_table(pa.table({"k": pa.array(keys, pa.int64())}), table_dir / name)


def test_rewritten_table_of_the_same_size_is_read_afresh(spark, tmp_path):
    path = tmp_path / "region.parquet"
    _write_region(path, REGIONS)
    fn, builds = _counted(QS["s04f_cross_join_region_pairs"].fn.__wrapped__)
    before = _kept(fn, spark, str(tmp_path), builds)
    assert ("AFRICA", "ASIA") in before
    size, mtime_ns = os.path.getsize(path), os.stat(path).st_mtime_ns

    _write_region(path, ["AFRIKA", *REGIONS[1:]])
    assert os.path.getsize(path) == size
    if os.stat(path).st_mtime_ns == mtime_ns:
        # a coarse file-system clock put both writes in one tick; a later
        # write moves it on
        os.utime(path, ns=(mtime_ns + 10**9, mtime_ns + 10**9))
    n = len(builds)
    after = _rows(fn(spark, str(tmp_path)))
    assert len(builds) == n + 1
    assert ("AFRIKA", "ASIA") in after and ("AFRICA", "ASIA") not in after
    assert len(after) == len(before)


def test_added_part_file_is_seen(spark, tmp_path):
    table = tmp_path / "t.parquet"
    _write_part(table, "part-00000.parquet", [1, 2])
    fn, builds = _counted(lambda s, sf_dir: load_table(s, sf_dir, "t"))
    assert _kept(fn, spark, str(tmp_path), builds) == [(1,), (2,)]

    _write_part(table, "part-00001.parquet", [3])
    n = len(builds)
    assert _rows(fn(spark, str(tmp_path))) == [(1,), (2,), (3,)]
    assert len(builds) == n + 1


def test_conf_change_builds_afresh(spark, tmp_path):
    _write_part(tmp_path / "t.parquet", "part-00000.parquet", [1, 2])
    fn, builds = _counted(lambda s, sf_dir: load_table(s, sf_dir, "t").groupBy("k").count())
    expected = _kept(fn, spark, str(tmp_path), builds)
    n = len(builds)
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "3"}):
        assert _rows(fn(spark, str(tmp_path))) == expected
    assert len(builds) == n + 1
    # the kept frame was built under the scoped conf, which is gone now
    assert _rows(fn(spark, str(tmp_path))) == expected
    assert len(builds) == n + 2


def _never_kept(spark, sf_dir, build) -> None:
    fn, builds = _counted(build)
    rows = [_rows(fn(spark, sf_dir)) for _ in range(3)]
    assert len(builds) == 3
    assert rows[0] == rows[1] == rows[2]


def test_build_with_jobs_is_never_prepared(spark, tmp_path):
    _write_part(tmp_path / "t.parquet", "part-00000.parquet", [1, 2])

    def probed(s, sf_dir):
        df = load_table(s, sf_dir, "t")
        return df if fits_driver(df) else df.limit(0)

    _never_kept(spark, str(tmp_path), probed)


def test_checkpointed_frame_is_never_prepared(spark, tmp_path):
    _write_part(tmp_path / "t.parquet", "part-00000.parquet", [1, 2])

    def checkpointed(s, sf_dir):
        return materialize(load_table(s, sf_dir, "t"), "reused")

    load_table(spark, str(tmp_path), "t")  # schema cached: no build-time job
    # a lazy checkpoint over a scan starts no job, so the leaf rule refuses it
    assert jobs_run(spark, lambda: checkpointed(spark, str(tmp_path))) == 0
    _never_kept(spark, str(tmp_path), checkpointed)


def _beside_a_client(build):
    """``build``, made to run while another thread runs one Spark job from
    start to end, as a second client would."""

    def build_beside(s, sf_dir):
        started, done = threading.Event(), threading.Event()

        def client():
            started.wait(60)
            s.range(10).count()
            done.set()

        other = threading.Thread(target=client)
        other.start()
        started.set()
        df = build(s, sf_dir)
        assert done.wait(60), "the other client's job did not finish"
        other.join(60)
        assert not other.is_alive()
        return df

    return build_beside


def test_jobs_of_another_thread_leave_a_build_prepared(spark, tmp_path):
    _write_part(tmp_path / "t.parquet", "part-00000.parquet", [1, 2])
    load_table(spark, str(tmp_path), "t")  # schema cached: no build-time job
    fn, builds = _counted(_beside_a_client(lambda s, sf_dir: load_table(s, sf_dir, "t")))
    fn(spark, str(tmp_path))
    n = len(builds)
    assert _rows(fn(spark, str(tmp_path))) == [(1,), (2,)]
    assert len(builds) == n, "another thread's job refused the build"


def test_own_job_refuses_a_build_beside_another_client(spark, tmp_path):
    _write_part(tmp_path / "t.parquet", "part-00000.parquet", [1, 2])

    def probed(s, sf_dir):
        df = load_table(s, sf_dir, "t")
        return df if fits_driver(df) else df.limit(0)

    _never_kept(spark, str(tmp_path), _beside_a_client(probed))


def test_catalog_table_is_never_prepared(spark, tmp_path):
    # a catalog entry can be re-pointed at other files without its old
    # location changing, so its path stamp would not see the swap
    table = "pws_prepared_catalog"
    spark.range(3).write.option("path", str(tmp_path / "cat")).saveAsTable(table)
    try:
        _never_kept(spark, str(tmp_path), lambda s, sf_dir: s.table(table))
    finally:
        spark.sql(f"DROP TABLE {table}")


def test_nondeterministic_plan_is_never_prepared(spark, tmp_path):
    _write_part(tmp_path / "t.parquet", "part-00000.parquet", [1, 2])
    _never_kept(
        spark,
        str(tmp_path),
        lambda s, sf_dir: load_table(s, sf_dir, "t").withColumn(
            "r", F.rand(7) * 0
        ),
    )


def test_sessions_never_share_a_frame(spark, tmp_path):
    _write_part(tmp_path / "t.parquet", "part-00000.parquet", [1, 2])
    other = spark.newSession()
    fn, builds = _counted(lambda s, sf_dir: load_table(s, sf_dir, "t"))
    _kept(fn, spark, str(tmp_path), builds)
    n = len(builds)
    df = fn(other, str(tmp_path))
    assert df.sparkSession is other
    assert len(builds) == n + 1
    assert fn(spark, str(tmp_path)).sparkSession is spark
    assert len(builds) == n + 2


def test_every_key_keeps_its_module_and_raw_build():
    for name, q in QS.items():
        raw = q.fn.__wrapped__
        assert q.fn is not raw, name
        assert q.fn.__module__ == raw.__module__, name
        assert getattr(sys.modules[raw.__module__], raw.__name__) is raw, name
