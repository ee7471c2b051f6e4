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

Prepared requests. ``register`` wraps each ``fn`` (``functools.wraps``, so
``Query.fn.__module__`` is still the key's module and ``Query.fn.__wrapped__``
is the raw build). The wrapper builds the key's frame once and, while its
validity key holds, hands out ``df.select("*")``: a new Dataset, optimized,
planned and executed afresh, so every action still reads the tables and
runs the Python DataSource's ``read()``; only the build and its analysis
are skipped. A build is kept only when all of these hold:

  - it started no Spark job. ``fn`` runs under a job tag unique to the call
    (``SparkContext.addJobTag``, which holds for the calling thread only,
    removed when ``fn`` returns). When the scheduler's next job id has not
    moved, no job started anywhere; when it has, the build is refused only
    if the status tracker lists a job with that tag, read once the listener
    bus is empty. A job another thread ran meanwhile does not refuse it, so
    concurrent clients keep their builds. A thread that ``fn`` starts itself
    does not carry the tag, so a build runs its jobs on the calling thread;
  - its analyzed plan is deterministic and not streaming;
  - every leaf, subqueries included, is a ``LogicalRelation`` over local
    ``file:`` paths, a Python DataSource scan, a ``LocalRelation``, a
    ``Range`` or a ``OneRowRelation``. Any other leaf refuses the build:
    a ``LogicalRDD`` (``materialize``), a catalog table, a stream.

The validity key is the session (by identity), ``sf_dir``, the
``session.table_stamp`` of each leaf's root path and the text of the
session's SQL conf map. A table rewritten in place, a part file added or
removed, a conf set or unset, another session or another ``sf_dir`` all
build afresh. A rewrite that keeps a file's size and lands in the same
``mtime_ns`` tick is not seen. Each key has one slot, emptied or replaced
on every fresh build, so the store never holds more frames than the
registry has keys; it holds a ``select("*")`` of the frame that is never
run itself. A frame may therefore depend only on its tables, the session
conf and code; a tool that patches code between two builds of one key
(such as ``plan_digest.checkpoints_inlined``) calls ``Query.fn.__wrapped__``.

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

import functools
import uuid
from collections.abc import Callable, Mapping
from dataclasses import dataclass, replace

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

from presto_weather_spark.session import table_stamp

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
        _REGISTRY[name] = Query(
            name=name, fn=_prepared(fn), oracle=oracle, doc=doc or (fn.__doc__ or "")
        )
        return fn

    return wrap


# Leaves a prepared frame may stand on besides local parquet and the Python
# DataSource: driver-side rows and generated ones.
_ROW_LEAVES = ("LocalRelation", "Range", "OneRowRelation")


def _prepared(fn: QueryFn) -> QueryFn:
    """``fn`` with one prepared slot (see "Prepared requests" above)."""
    slot: tuple | None = None  # (validity key, table paths, frame)

    @functools.wraps(fn)
    def call(spark: SparkSession, sf_dir: str) -> DataFrame:
        nonlocal slot
        held = slot
        if held is not None:
            key, paths, df = held
            if _validity(spark, sf_dir, paths) == key:
                return df.select("*")
            slot = None
        sc = spark.sparkContext
        start = sc._jsc.sc().dagScheduler().nextJobId()
        tag = f"pws-build-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            df = fn(spark, sf_dir)
        finally:
            sc.removeJobTag(tag)
        if not _started_jobs(sc, start, tag):
            paths = _table_paths(df)
            key = None if paths is None else _validity(spark, sf_dir, paths)
            if key is not None:
                # a projection, not the frame handed out: once the caller
                # runs that frame, its executed plan keeps the run's shuffle
                # files and broadcasts from being cleaned up
                slot = (key, paths, df.select("*"))
        return df

    return call


def _started_jobs(sc: SparkContext, start: int, tag: str) -> bool:
    """Whether the build that ran under the job tag ``tag`` started a Spark
    job, given the scheduler's next job id ``start`` from before it."""
    jsc = sc._jsc.sc()
    if jsc.dagScheduler().nextJobId() == start:
        return False
    jsc.listenerBus().waitUntilEmpty()
    return len(jsc.statusTracker().getJobIdsForTag(tag)) > 0


def _table_paths(df: DataFrame) -> tuple[str, ...] | None:
    """The local table paths under ``df``'s analyzed plan, or None when a
    leaf or the plan itself rules out preparing it."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.isStreaming() or not plan.deterministic():
        return None
    subqueries = plan.subqueriesAll()
    paths = set()
    for p in [plan, *(subqueries.apply(i) for i in range(subqueries.size()))]:
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            kind = leaf.nodeName()
            if kind == "LogicalRelation":
                relation = leaf.relation()
                if (
                    relation.getClass().getSimpleName() != "HadoopFsRelation"
                    or leaf.catalogTable().isDefined()
                ):
                    return None
                roots = relation.location().rootPaths()
                for j in range(roots.size()):
                    uri = roots.apply(j).toUri()
                    if uri.getScheme() != "file":
                        return None
                    paths.add(uri.getPath())
            elif kind == "DataSourceV2Relation":
                if leaf.table().getClass().getSimpleName() != "PythonTable":
                    return None
            elif kind not in _ROW_LEAVES:
                return None
    return tuple(sorted(paths))


def _validity(spark: SparkSession, sf_dir: str, paths: tuple[str, ...]) -> tuple | None:
    """What a prepared frame over ``paths`` is valid for: the session, the
    ``sf_dir``, each table's stamp and the session's SQL conf map. None when
    a table cannot be stamped."""
    stamps = tuple(table_stamp(p) for p in paths)
    if None in stamps:
        return None
    confs = spark._jvm.java.util.TreeMap(spark.conf._jconf.getAllAsJava()).toString()
    return spark, sf_dir, stamps, confs


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
