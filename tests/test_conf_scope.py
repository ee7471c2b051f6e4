"""A call leaves the shared session as it found it.

Every per-call conf change in the package goes through
``session.conf_scope``, and memory-sink stream calls drop their sink view
once the result frame is resolved. A long-lived session that serves many
requests depends on both: a key that leaves a conf or a view behind
changes what every later request sees.
"""

from __future__ import annotations

import pytest

from presto_weather_spark.registry import all_queries
from presto_weather_spark.session import conf_scope

# keys that change conf for their own run (s23 bloom, s25 skew, s42 dynamic
# overwrite, s77 scripting) and one memory-sink stream key (s14b)
CONF_KEYS = [
    "s23_bloom_filtered_join",
    "s25_skew_join_aqe",
    "s42_dynamic_partition_overwrite",
    "s77_sql_scripting",
    "s14b_stream_latest_board",
]


@pytest.mark.parametrize("key", CONF_KEYS)
def test_key_leaves_session_conf_unchanged(spark, sf_dir, key):
    before = dict(spark.conf.getAll)
    all_queries()[key].fn(spark, sf_dir).collect()
    assert dict(spark.conf.getAll) == before


def test_conf_scope_restores_on_exception(spark):
    present, absent = "spark.sql.shuffle.partitions", "spark.sql.scripting.enabled"
    before = dict(spark.conf.getAll)
    assert present in before and absent not in before
    with pytest.raises(RuntimeError):
        with conf_scope(spark, {present: "3", absent: "false"}):
            assert spark.conf.get(present) == "3"
            assert spark.conf.get(absent) == "false"
            raise RuntimeError("request failed mid-scope")
    assert dict(spark.conf.getAll) == before


def test_stream_calls_leave_no_sink_view(spark, sf_dir):
    for key in ("s14b_stream_latest_board", "s14c_stream_dedup_within_watermark"):
        # the frame still holds the sink's rows after its view is dropped
        assert all_queries()[key].fn(spark, sf_dir).count() > 0
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("sink_")]
    assert views == []
