"""Measure s14s's streaming windowed-top-k state, don't argue it.

s14s's docstring claims its complete-mode MV state is windows x
event_types — a function of the stream's TIME SPAN and type cardinality,
not its event volume. The synthetic scale fixtures are built to test
exactly that claim: tools/synth_scale.py grows events by adding user
blocks in the SAME time window (constant span, constant type set), so
if the claim holds the state row count must be IDENTICAL at sf0.1, sf1
(10x events) and sf3 (30x events).

This probe drives the registered key's aggregate (complete mode,
availableNow) at each scale, records max numRowsTotal from the state
operator alongside the event count, and with ``--update`` merges the
result into SCALE_REHEARSAL.json["s14s_state"].

Usage: python tools/s14s_state_probe.py [--update]
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from presto_weather_spark.session import build_session  # noqa: E402
from presto_weather_spark.streaming.pipeline import (  # noqa: E402
    WINDOW_SECONDS,
    _run_stream,
    events_stream,
)

SF_DIRS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": "/tmp/pws_scale/sf1",
    "sf3": "/tmp/pws_scale/sf3",
}


def _drive(spark, agg):
    """Run the complete-mode MV to a memory sink; return state stats."""
    name = f"probe_{uuid.uuid4().hex[:10]}"
    t0 = time.monotonic()
    q = _run_stream(
        spark, agg.writeStream.outputMode("complete").format("memory").queryName(name)
    )
    dt = time.monotonic() - t0
    rows = [
        op["numRowsTotal"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    ]
    mv_rows = spark.table(name).count()
    return (max(rows) if rows else 0, mv_rows, round(dt, 3))


def main() -> None:
    spark = build_session("s14s_state_probe")
    out: dict = {}

    for sf, d in SF_DIRS.items():
        if not os.path.isdir(d):
            print(f"skip {sf}: {d} missing (run tools/synth_scale.py)")
            continue
        stream = events_stream(spark, d)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(
                F.window("ts", f"{WINDOW_SECONDS} seconds").alias("win"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        state, mv_rows, secs = _drive(spark, agg)
        n_events = spark.read.parquet(
            os.path.join(d, "events.parquet")
        ).count()
        out[sf] = {
            "state_rows_max": state,
            "mv_rows": mv_rows,
            "n_events": n_events,
            "sec": secs,
        }
        print(
            f"{sf}: state={state} mv_rows={mv_rows} "
            f"events={n_events} {secs}s"
        )

    out["bound"] = (
        "complete-mode MV state = windows x event_types = f(time span, "
        "type cardinality); the scale fixtures densify a FIXED span, so "
        "state must be identical at 10x/30x event volume"
    )

    if "--update" in sys.argv:
        path = os.path.join(
            os.path.dirname(__file__), "..", "SCALE_REHEARSAL.json"
        )
        with open(path) as f:
            data = json.load(f)
        data["s14s_state"] = out
        with open(path, "w") as f:
            json.dump(data, f, indent=1)
            f.write("\n")
        print(f"merged into {os.path.normpath(path)}")


if __name__ == "__main__":
    main()
