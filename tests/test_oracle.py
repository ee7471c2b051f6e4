"""The development-loop mirror of the driver's t2 correctness gate.

For every registered query with an oracle, run the Spark DataFrame pipeline
AND the DuckDB SQL over the same parquet, then compare row count, sorted
column names, and order-insensitive values — the same comparison shape the
driver applies at sf0.01. Queries without an oracle get a rows-run check.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from conftest import driver_norm

from presto_weather_spark.registry import all_queries
from presto_weather_spark.session import TABLE_NAMES

QUERIES = all_queries()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_query_matches_oracle(spark, sf_dir, name):
    q = QUERIES[name]
    sdf = q.fn(spark, sf_dir).toPandas()
    if q.oracle is None:
        # rows-only: the query must run and be deterministic across reruns
        sdf2 = q.fn(spark, sf_dir).toPandas()
        assert driver_norm(sdf) == driver_norm(sdf2), f"{name}: nondeterministic result"
        return
    con = duck_con(sf_dir)
    ddf = con.execute(q.oracle).fetchdf()
    assert len(sdf) == len(ddf), f"{name}: row count {len(sdf)} != oracle {len(ddf)}"
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"{name}: columns {sorted(sdf.columns)} != oracle {sorted(ddf.columns)}"
    )
    s_rows, d_rows = driver_norm(sdf), driver_norm(ddf)
    mism = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    assert s_rows == d_rows, f"{name}: value mismatch; first diffs: {mism[:3]}"
