"""Regression: the driver's parquet may carry TIMESTAMP(NANOS) columns
(round-1 correctness run failed with PARQUET_TYPE_ILLEGAL on every query
touching ``events``).  ``load_table`` must read them on a *vanilla*
SparkSession — the driver harness does not use ``build_session``, so the
nanosAsLong escape hatch has to be applied at read time."""

import datetime

from presto_weather_spark.session import load_table


def test_load_table_reads_nanos_timestamps(spark, nanos_dir):
    # simulate the driver's vanilla session: our build_session preset must
    # not be what makes this pass
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    df = load_table(spark, nanos_dir, "events")
    field = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert field["ts"] == "timestamp"
    rows = df.orderBy("event_id").limit(2).collect()
    assert rows[0]["ts"] == datetime.datetime(2024, 1, 1, 0, 0)
    assert rows[1]["ts"] == datetime.datetime(2024, 1, 1, 1, 0)


def test_load_table_reads_micros_timestamps(spark, sf_dir):
    # the shipped testdata fixtures are micros — must keep working unchanged
    df = load_table(spark, sf_dir, "events")
    field = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert field["ts"] == "timestamp"
    assert df.count() > 0
