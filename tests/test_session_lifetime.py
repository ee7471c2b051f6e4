"""A long-lived session pays its fixed per-session work once.

The reference re-runs one request forever, so whatever a call redoes that
the session could keep is paid again on every request:

- generated classes: Spark caches compiled codegen classes, and a cache
  smaller than the registry's working set recompiles byte-identical code
  with Janino (and the JIT compiles each new class again);
- the Open-Meteo DataSource: registering it again replaces it and logs a
  WARN on every r01/r02/r21 call;
- the driver heap is sized once, at start-up, and must fit the host.
"""

from __future__ import annotations

from conftest import SF_DIR


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_classes_compile_once_per_session(spark):
    """More than Spark's default 100 distinct generated classes, run twice:
    the second round finds every class in the cache."""
    frames = [spark.range(8).selectExpr(f"id * {i} + {i} AS v") for i in range(120)]
    for df in frames:
        df.collect()
    before = _compiles(spark)
    for i, df in enumerate(frames):
        assert df.collect()[-1].v == 7 * i + i
    assert _compiles(spark) - before == 0


def test_open_meteo_registers_once_per_session(spark, monkeypatch):
    from pyspark.sql.datasource import DataSourceRegistration

    from presto_weather_spark.registry import all_queries

    registered = []
    original = DataSourceRegistration.register

    def counting(self, data_source):
        registered.append(data_source.name())
        return original(self, data_source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    fn = all_queries()["r01_open_meteo_geocode"].fn
    for _ in range(2):
        assert [r.name for r in fn(spark, SF_DIR).collect()] == ["London"]
    # Once if no earlier test used the source in this session, else never.
    assert registered in (["open_meteo"], [])


def test_driver_heap_fits_host(spark):
    with open("/proc/meminfo") as f:
        mem_total = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    jvm = spark.sparkContext._jvm
    assert jvm.java.lang.Runtime.getRuntime().maxMemory() <= mem_total * 1024
