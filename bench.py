#!/usr/bin/env python
"""Benchmark harness — times every registered query at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS], printing ONE JSON line:

    {"metric": "total_query_seconds", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1, ...}

Each query executes fully via the noop sink (no driver collect — measures
the distributed plan, not result transfer). One warm-up run of the flagship
amortizes JVM/codegen start-up, matching BASELINE.md's protocol.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from presto_weather_spark.registry import all_queries
from presto_weather_spark.session import build_session


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = build_session("pws-bench")

    queries = all_queries()

    # Warm-up: flagship once (JVM + codegen + parquet footer caches), plus
    # one tiny custom-source read (the first Python DataSource use pays a
    # ~5 s Python-worker spin-up that is session start-up, not query cost).
    queries["r14_conditions_board"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    queries["r01_open_meteo_geocode"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # Per-query warm-up + MIN of 3 back-to-back timed runs. The warm-up run
    # is discarded: a query's generated code JIT-compiles during its first
    # execution(s) — compute-heavy codegen runs interpreted until C2 kicks
    # in, swinging first-run times up to ~7x over steady state. Runs must be
    # back-to-back per query (NOT interleaved whole-list passes): with ~100
    # queries the C2 queue thrashes between passes and mid-pass queries run
    # interpreted (observed 1.2s queries reading 27s). Min — not median —
    # because host noise is one-sided: transient VM noise bursts only ever
    # ADD time, and the steady-state minimum is the number that predicts
    # cluster cost.
    timings: dict[str, float] = {}
    for name, q in sorted(queries.items()):
        # Per-query warm-up, then min of up-to-3 timed runs with an early
        # stop: when the first two timed runs agree within 8%, the query
        # is at steady state and a third sample cannot move the min
        # meaningfully — only noisy/still-JITing queries pay for run 3.
        # Keeps total bench wall-time bounded as the registry grows
        # (220+ queries x 4 unconditional runs overran a 10-min budget).
        runs = []
        for i in range(4):
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            if i > 0:  # run 0 is the per-query warm-up
                runs.append(time.perf_counter() - t0)
            if len(runs) == 2 and abs(runs[0] - runs[1]) <= 0.08 * min(runs):
                break
        timings[name] = round(min(runs), 3)
        # ~10 queries localCheckpoint intermediates; 4 runs each x 133
        # queries accumulates blocks in the block manager for the whole
        # session and degrades late-running queries — drop them now.
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_query_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_queries": len(timings),
                "spark_version": spark.version,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
            }
        )
    )


if __name__ == "__main__":
    main()
