"""Query registry — the single source of truth for the judged contract.

Every implemented operator from SURVEY.md §2 registers here with:
  - ``name``:   stable key (R/S/X-series id + slug)
  - ``fn``:     (spark, sf_dir) -> DataFrame  (the Spark-first implementation)
  - ``oracle``: equivalent ANSI SQL for the DuckDB oracle, or ``None`` for
                genuinely non-SQL-expressible ops (driver then records a
                weaker rows-only check), or a function that composes the SQL
                from other keys' oracles (below).

A composed oracle wraps the SQL of keys it builds on, so the two cannot
drift. Declare it in ``register`` as a function from the plain (string)
oracles, by key, to SQL::

    @register("x133_...", oracle=lambda o: f"WITH labels AS ({o['x02f_...']}) ...")

``_load_all`` calls each such function once, after every module has been
imported, so the base may live in any module. It may read only plain
oracles: naming an unknown, rows-only or composed key fails the load.

``__spark_entry__.py`` derives ``queries()`` / ``oracle_sql()`` from this
registry; the pytest oracle harness (tests/test_oracle.py) runs the same
comparison the driver runs, at sf0.001, so the correctness gate is the
development loop.

Determinism conventions (see SURVEY.md §7.0):
  - alias every computed column identically on both sides;
  - money-style double sums go through DECIMAL(18,2) inside the SUM and are
    cast back to double — decimal addition is exact and associative, so the
    result is identical regardless of Spark's partial-aggregation order;
  - avg/ratio outputs are rounded to a fixed scale on both sides;
  - DuckDB integer sums are cast to BIGINT (DuckDB widens to HUGEINT);
  - timestamps leave the engine as formatted strings or DATEs.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
Oracle = str | Callable[[Mapping[str, str]], str] | None


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: Oracle  # str | None once _load_all has composed the functions
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: Oracle, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


def all_queries() -> dict[str, Query]:
    _load_all()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in all_queries().values()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in all_queries().values() if q.oracle is not None}


def _compose(oracles: Mapping[str, Oracle]) -> dict[str, str]:
    """The SQL of every composed oracle in ``oracles``, each built from the
    plain (string) ones."""
    plain = {k: o for k, o in oracles.items() if isinstance(o, str)}
    composed = {}
    for name, build in oracles.items():
        if not callable(build):
            continue
        try:
            composed[name] = build(plain)
        except KeyError as e:
            base = e.args[0]
            kind = (
                "an unknown" if base not in oracles
                else "a composed" if callable(oracles[base])
                else "a rows-only"
            )
            raise ValueError(f"{name}: composed oracle reads {kind} key {base!r}") from None
    return composed


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries, then resolve the
    composed oracles (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from presto_weather_spark.operators import (  # noqa: F401
        corpus_pipeline,
        corpus_stats,
        dedup,
        multimodal,
        parity_extras,
        relational,
        scalar_functions,
        similarity,
        text_analysis,
        tpch_extra,
    )
    from presto_weather_spark import flagship  # noqa: F401
    from presto_weather_spark.functions import weather  # noqa: F401
    from presto_weather_spark.sources import open_meteo  # noqa: F401
    from presto_weather_spark.streaming import pipeline  # noqa: F401

    for name, sql in _compose({k: q.oracle for k, q in _REGISTRY.items()}).items():
        _REGISTRY[name] = replace(_REGISTRY[name], oracle=sql)
    _LOADED = True
