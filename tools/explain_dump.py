#!/usr/bin/env python
"""Dump .explain("formatted") for named query keys to plans/<tag>/<key>_<suffix>.txt,
and the same key's plan with every ``localCheckpoint`` inlined (built under
``plan_digest.checkpoints_inlined()``) to plans/<tag>/<key>_<suffix>_inlined.txt,
so a dump shows what sits below each checkpoint and not a ``LogicalRDD`` stub.

Usage: python tools/explain_dump.py <tag> <suffix> <key> [<key> ...]

e.g.  python tools/explain_dump.py r10 before x45_naive_bayes_lang x152_nb_hash_fidelity

Plans are captured WITHOUT executing the query (explain is planning-only),
against $SPARK_GRAFT_SF_DIR (default sf0.1) — the same data the bench times.
Streaming keys (whose fn drives a stream to completion) execute as a side
effect of building their return frame; their dumped plan is the plan of the
returned batch frame.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from plan_digest import checkpoints_inlined, explain_text  # noqa: E402
from presto_weather_spark.registry import all_queries  # noqa: E402
from presto_weather_spark.session import build_session  # noqa: E402


def main() -> None:
    tag, suffix, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session("pws-explain")
    queries = all_queries()
    for key in keys:
        plan = explain_text(queries[key].fn(spark, sf_dir), "formatted")
        with checkpoints_inlined():
            inlined = explain_text(queries[key].fn(spark, sf_dir), "formatted")
        for name, text in ((f"{key}_{suffix}", plan), (f"{key}_{suffix}_inlined", inlined)):
            path = os.path.join(out_dir, f"{name}.txt")
            with open(path, "w") as f:
                f.write(text)
            print(f"wrote {path} ({len(text.splitlines())} lines)")


if __name__ == "__main__":
    main()
