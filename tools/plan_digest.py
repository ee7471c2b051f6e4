#!/usr/bin/env python
"""Print ``key sha(oracle) sha(optimized plan)`` for every registry key.

Usage: python tools/plan_digest.py > digests.txt

Each key's frame is built with ``fn(spark, sf_dir)`` on ``build_session``
over ``$SPARK_GRAFT_SF_DIR`` (default: the bundled ``perfbench/data/sf0.001``)
and never collected; keys whose fn runs a stream or an eager probe still
execute that part. The plan digest covers the "Optimized Logical Plan"
section of the public ``df.explain("extended")``, with the per-process parts
normalized away: expression ids (``#12``, ``#12L``), lambda variable
suffixes (``x_3``) and runs of 12+ hex digits (scratch-dir tokens,
checkpoint ids). The oracle digest covers the SQL text with its layout
normalized away: whitespace runs become one space, and whitespace next to a
parenthesis or comma is dropped, so re-wrapping a query changes no digest.

A refactor that claims "no plan changed" diffs two runs of this tool, one
per checkout, both over the same ``$SPARK_GRAFT_SF_DIR``. A subtree above an
eager ``localCheckpoint`` shows as a ``LogicalRDD``, so the oracle sweep
covers what sits below it.
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

from presto_weather_spark.registry import all_queries  # noqa: E402
from presto_weather_spark.session import build_session  # noqa: E402

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


def optimized_plan(df) -> str:
    text = explain_text(df, "extended")
    start = text.index("== Optimized Logical Plan ==")
    end = text.index("== Physical Plan ==", start)
    return _sub_all(text[start:end], _NORMALIZE)


def main() -> None:
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(ROOT, "perfbench", "data", "sf0.001")
    )
    spark = build_session("pws-plan-digest")
    spark.sparkContext.setLogLevel("ERROR")
    for key, q in sorted(all_queries().items()):
        try:
            plan = _sha(optimized_plan(q.fn(spark, sf_dir)))
        except Exception as e:  # a broken key must not hide the others
            plan = f"ERROR:{type(e).__name__}"
        oracle = None if q.oracle is None else _sub_all(q.oracle, _SQL_LAYOUT)
        print(f"{key} {_sha(oracle)} {plan}", flush=True)


if __name__ == "__main__":
    main()
