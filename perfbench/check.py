"""Output check: each workload key's result against its DuckDB oracle.

The comparison has the shape of the repository's oracle tests: sort the
columns by name, stringify the values (floats through ``repr`` with -0.0
collapsed and NaN spelled out) and sort the rows. It is restated here
because the benchmark does not import the test suite. Keys without an
oracle must return the same rows on two runs.
"""

from __future__ import annotations

import math
import os


def normalize(pdf) -> list[tuple]:
    """Order-insensitive comparison form of a pandas result."""
    pdf = pdf[sorted(pdf.columns)]

    def norm(v):
        if v is None:
            return None
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v + 0.0)
        return str(v)

    rows = [tuple(norm(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    # None-safe total order: NULLs sort before every string.
    return sorted(rows, key=lambda row: tuple("\x00" if v is None else "\x01" + v for v in row))


def duck_connection(sf_dir: str):
    import duckdb

    from presto_weather_spark.session import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(name: str, columns: list[str], rows: list[tuple], oracle_sql: str, con) -> str | None:
    """None when the Spark result equals the oracle's, else a one-line reason."""
    oracle = con.execute(oracle_sql).fetchdf()
    o_columns, o_rows = sorted(oracle.columns), normalize(oracle)
    if columns != o_columns:
        return f"{name}: columns {columns} != oracle {o_columns}"
    if len(rows) != len(o_rows):
        return f"{name}: {len(rows)} rows != oracle {len(o_rows)}"
    if rows != o_rows:
        first = next(i for i, (a, b) in enumerate(zip(rows, o_rows)) if a != b)
        return f"{name}: row {first} {rows[first]} != oracle {o_rows[first]}"
    return None
