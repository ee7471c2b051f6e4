from __future__ import annotations

import math
import os
import re
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from presto_weather_spark.session import build_session, conf_scope  # noqa: E402

SF_DIR = os.environ.get("PWS_TEST_SF_DIR", "/root/testdata/sf0.001")


def driver_norm(df):
    """The grading driver's value normalization (tools/drive_contract.py:43):
    sort columns by name, stringify values (floats via repr with -0.0
    collapsed, NaN spelled out), sort rows. Tests that claim driver-parity
    must compare through THIS function, not an ad-hoc one."""
    df = df[sorted(df.columns)]

    def nv(v):
        if v is None:
            return None
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v + 0.0)
        return str(v)

    rows = [
        tuple(nv(v) for v in r) for r in df.itertuples(index=False, name=None)
    ]
    # None-safe total order (NULL-heavy degenerate outputs would crash the
    # plain tuple sort on None-vs-str). Any consistent total order preserves
    # the driver's multiset-equality semantics.
    return sorted(
        rows, key=lambda row: tuple("\x00" if v is None else "\x01" + v for v in row)
    )


def jobs_run(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted in a job group of its
    own once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"jobs-run-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def simple_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_broadcast_join(df) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def count_codegen_stages(spark, build) -> int:
    """Number of WholeStageCodegen subtrees in the plan ``build()`` produces.

    Under AQE the codegen wrappers are only inserted when each query stage
    materializes, so no explain mode shows them pre-execution. We re-plan
    with AQE off purely for inspection: the stages AQE materializes at run
    time go through the exact same CollapseCodegenStages rule.
    """
    with conf_scope(spark, {"spark.sql.adaptive.enabled": "false"}):
        df = build()
        cg = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    m = re.match(r"Found (\d+) WholeStageCodegen", cg)
    return int(m.group(1)) if m else 0


@pytest.fixture(scope="session")
def spark():
    s = build_session("pws-tests", cpus=8)
    yield s


@pytest.fixture(scope="module")
def nanos_dir(tmp_path_factory):
    """An sf dir whose ``events.parquet`` stores ``ts`` as TIMESTAMP(NANOS)."""
    d = tmp_path_factory.mktemp("nanos_sf")
    ts = pa.array(
        [1704067200_000000000 + i * 3600_000000000 for i in range(10)],
        pa.timestamp("ns"),
    )
    t = pa.table(
        {
            "event_id": pa.array(range(10), pa.int64()),
            "ts": ts,
            "value": pa.array([float(i) for i in range(10)]),
        }
    )
    pq.write_table(t, str(d / "events.parquet"))
    return str(d)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
