"""``session.local_rows`` is the one way driver-side rows enter the engine.
For every type the package passes, it must give the rows and schema of the
Python-list ``createDataFrame`` it replaced, while planning as a
``LocalTableScan`` that runs no Spark job and no Python worker."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql.types import StructType

from conftest import jobs_run
from presto_weather_spark.functions.weather import weather_codes_dim
from presto_weather_spark.session import local_rows

# The shape of a ``grand_total_if_empty`` row against an aggregate's
# schema: a non-nullable count beside nullable keys and sums.
PROFILE_SCHEMA = StructType.fromJson(
    {
        "type": "struct",
        "fields": [
            {"name": "key", "type": "string", "nullable": True, "metadata": {}},
            {"name": "n", "type": "long", "nullable": False, "metadata": {}},
            {"name": "total", "type": "double", "nullable": True, "metadata": {}},
        ],
    }
)

CASES = {
    "int_string": ([(1, "a"), (-2, "b")], "a int, b string"),
    "bigint_double": ([(2**40, 1.5), (-(2**40), -0.25)], "a bigint, b double"),
    "decimal": ([(Decimal("1234.56"),), (Decimal("-0.01"),)], "d decimal(18,2)"),
    "nulls": (
        [(None, None, None, None, None)],
        "a int, b bigint, c double, d decimal(18,2), e string",
    ),
    "empty": ([], "a int, b string"),
    "struct_from_json": ([(None, 0, None), ("ALL", 3, 2.5)], PROFILE_SCHEMA),
}


@pytest.mark.parametrize("rows,schema", CASES.values(), ids=CASES.keys())
def test_local_rows_matches_list_path(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_rows(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_rows_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="2 fields"):
        local_rows(spark, [(1, "a"), (2,)], "a int, b string")


def test_weather_dim_runs_no_spark_job(spark):
    dim = weather_codes_dim(spark)
    rows = []
    assert jobs_run(spark, lambda: rows.extend(dim.collect())) == 0
    assert len(rows) == 19
    assert "LocalTableScan" in dim._jdf.queryExecution().executedPlan().toString()
