#!/usr/bin/env python
"""Print ``key sha(oracle) sha(optimized plan) sha(inlined plan) jobs`` for
every registry key.

Usage: python tools/plan_digest.py > digests.txt

Each key's frame is built with ``fn(spark, sf_dir)`` on ``build_session``
over ``$SPARK_GRAFT_SF_DIR`` (default: the bundled ``perfbench/data/sf0.001``)
and never collected; keys whose fn runs a stream or an eager probe still
execute that part. The plan digest covers the "Optimized Logical Plan"
section of the public ``df.explain("extended")``, with the per-process parts
normalized away: the scratch base (``session.scratch_base()``, which stream
state-store paths name) becomes ``<scratch>``, and expression ids (``#12``,
``#12L``), lambda variable suffixes (``x_3``) and runs of 12+ hex digits
(scratch-dir tokens, checkpoint ids) are dropped. The oracle digest covers
the SQL text with its layout normalized away: whitespace runs become one
space, and whitespace next to a parenthesis or comma is dropped, so
re-wrapping a query changes no digest.

A subtree above a ``localCheckpoint`` shows in the plan column as a
``LogicalRDD`` stub, which says where the checkpoints sit but hides what
they hold. The inlined-plan column digests the same key's frame built a
second time while ``localCheckpoint`` returns its frame unchanged, so every
checkpointed subtree is spelled out in full. That build calls the raw
``fn.__wrapped__``: the registered ``fn`` may hand out a prepared frame (see
``registry.py``), which would be the first build's, and an inlined build it
kept would later be handed out in place of the real one. The patch goes on
the classic ``DataFrame`` class: it overrides the method, so patching
``pyspark.sql.DataFrame`` would miss every call.

The jobs column counts the Spark jobs that ``fn`` started while building the
frame (the scheduler's next job id before and after, each read once the
listener bus is empty). An eager checkpoint, a driver probe or a stream
counts here, and so does a lazy checkpoint over a shuffle: Spark runs the
shuffle's map stage when the checkpoint takes the frame's RDD. A key that
counts 0 starts no job until an action runs.

A refactor that claims "no plan changed" diffs two runs of this tool, one
per checkout, both over the same ``$SPARK_GRAFT_SF_DIR`` and the same
scratch base.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame  # noqa: E402

from presto_weather_spark.registry import all_queries  # noqa: E402
from presto_weather_spark.session import build_session, scratch_base  # noqa: E402

_SQL_LAYOUT = (
    (re.compile(r"\s+"), " "),
    (re.compile(r" ?([(),]) ?"), r"\1"),
)
_NORMALIZE = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"(lambda [xyz])_\d+"), r"\1"),
    (re.compile(r"[0-9a-f]{12,}"), "<hex>"),
)


def _sha(text: str | None) -> str:
    if text is None:
        return "-"
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _sub_all(text: str, rules) -> str:
    for pattern, repl in rules:
        text = pattern.sub(repl, text)
    return text


def explain_text(df, mode: str) -> str:
    """``df.explain(mode)`` as a string, through the public API only."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def normalize_plan(text: str, scratch: str) -> str:
    """``text`` with the scratch base ``scratch`` and the per-process ids
    replaced by fixed tokens."""
    return _sub_all(text.replace(scratch, "<scratch>"), _NORMALIZE)


def optimized_plan(df) -> str:
    text = explain_text(df, "extended")
    start = text.index("== Optimized Logical Plan ==")
    end = text.index("== Physical Plan ==", start)
    return normalize_plan(text[start:end], scratch_base())


@contextlib.contextmanager
def checkpoints_inlined():
    """``localCheckpoint`` returns its frame unchanged inside the block."""
    saved = ClassicDataFrame.localCheckpoint
    ClassicDataFrame.localCheckpoint = lambda self, *args, **kwargs: self
    try:
        yield
    finally:
        ClassicDataFrame.localCheckpoint = saved


def _next_job_id(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.dagScheduler().nextJobId()


def built(fn, spark, sf_dir: str):
    """``fn(spark, sf_dir)`` and the number of jobs building it started."""
    start = _next_job_id(spark)
    df = fn(spark, sf_dir)
    return df, _next_job_id(spark) - start


def _plan_sha(fn, spark, sf_dir: str) -> tuple[str, str]:
    """The optimized-plan digest of ``fn``'s frame and its build-time jobs."""
    try:
        df, jobs = built(fn, spark, sf_dir)
        return _sha(optimized_plan(df)), str(jobs)
    except Exception as e:  # a broken key must not hide the others
        return f"ERROR:{type(e).__name__}", "-"


def main() -> None:
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(ROOT, "perfbench", "data", "sf0.001")
    )
    spark = build_session("pws-plan-digest")
    spark.sparkContext.setLogLevel("ERROR")
    for key, q in sorted(all_queries().items()):
        plan, jobs = _plan_sha(q.fn, spark, sf_dir)
        with checkpoints_inlined():
            inlined, _ = _plan_sha(q.fn.__wrapped__, spark, sf_dir)
        oracle = None if q.oracle is None else _sub_all(q.oracle, _SQL_LAYOUT)
        print(f"{key} {_sha(oracle)} {plan} {inlined} {jobs}", flush=True)


if __name__ == "__main__":
    main()
