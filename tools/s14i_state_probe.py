"""Measure s14i's stream-stream LEFT OUTER join state, don't argue it.

Round-8 verdict watch item: s14i was the only rehearsal key whose scaling
exponent ROSE at sf3 (alpha 0.23 -> 0.79). This probe explains it with
state-store numbers instead of prose, recording into SCALE_REHEARSAL.json:

1. ``single_batch``: the registered key ingests each events fixture as ONE
   availableNow micro-batch (one parquet file -> one trigger), so the
   watermark never advances mid-run and the join retains EVERY click and
   purchase until the trailing no-data batch: state rows are linear in
   input. The sf3 curvature is therefore state-store volume (HDFS-backed
   store scan/commit per batch grows with rows held), not a plan defect.

2. ``multi_batch``: the same join driven the way a production stream
   actually arrives — bounded files per trigger in event-time order, so
   the watermark advances between batches and eviction runs. State rows
   stay CONSTANT as stream length grows (the horizon bound that
   tests/test_state_bounds.py::test_stream_stream_left_outer_state_is_
   horizon_bounded pins in CI: rows <= f(watermark horizon, arrival rate,
   batch span), never f(stream length)).

Usage: python tools/s14i_state_probe.py [--update]  (--update merges the
results into SCALE_REHEARSAL.json; default prints them)
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from presto_weather_spark.session import build_session  # noqa: E402
from presto_weather_spark.streaming.pipeline import (  # noqa: E402
    _run_stream,
    s14i_joined_stream,
)

SF_DIRS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": "/tmp/pws_scale/sf1",
    "sf3": "/tmp/pws_scale/sf3",
}


def _drive(spark, joined, mode: str = "append"):
    """Start the stream, return (max numRowsTotal, wall seconds)."""
    name = f"probe_{uuid.uuid4().hex[:10]}"
    t0 = time.monotonic()
    q = _run_stream(
        spark, joined.writeStream.outputMode(mode).format("memory").queryName(name)
    )
    dt = time.monotonic() - t0
    rows = [
        op["numRowsTotal"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    ]
    return (max(rows) if rows else 0, round(dt, 3))


def main() -> None:
    spark = build_session("s14i_state_probe")
    out: dict = {"single_batch": {}, "multi_batch": {}}

    for sf, d in SF_DIRS.items():
        if not os.path.isdir(d):
            print(f"skip {sf}: {d} missing (run tools/synth_scale.py)")
            continue
        state, secs = _drive(spark, s14i_joined_stream(spark, d))
        n_events = spark.read.parquet(os.path.join(d, "events.parquet")).count()
        out["single_batch"][sf] = {
            "state_rows_max": state,
            "n_events": n_events,
            "state_per_event": round(state / n_events, 4),
            "sec": secs,
        }
        print(f"single-batch {sf}: state={state} events={n_events} {secs}s")

    # multi-batch: the test's drive shape, scaled up — constant per-file
    # span, growing file count; state must not grow with stream length
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))
    import pyspark.sql.functions as F
    from test_state_bounds import _events_source, _max_state_rows

    tmp = f"/tmp/pws_s14i_probe_{uuid.uuid4().hex[:8]}"
    for n_rows, n_files in [(400, 2), (2400, 12), (9600, 48)]:
        stream = _events_source(spark, tmp, n_rows, n_files)
        clicks = (
            stream.filter(F.col("event_type") == "type0")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "2 hours")
        )
        purchases = (
            stream.filter(F.col("event_type") == "type1")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "2 hours")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
            "left_outer",
        ).select("click_id", "purchase_id")
        state = _max_state_rows(spark, joined, "append")
        out["multi_batch"][f"rows{n_rows}_files{n_files}"] = state
        print(f"multi-batch rows={n_rows} files={n_files}: state={state}")

    out["bound"] = (
        "multi-batch state <= 2 sides * (delay+window+batch_span)/arrival "
        "= f(horizon, rate), constant in stream length (CI-pinned in "
        "test_state_bounds); single-batch state is linear in input because "
        "one availableNow file = one trigger = no mid-run watermark "
        "advance — the sf3 alpha rise is state-store IO volume, not an "
        "unbounded-plan defect"
    )

    if "--update" in sys.argv:
        path = os.path.join(os.path.dirname(__file__), "..", "SCALE_REHEARSAL.json")
        with open(path) as f:
            data = json.load(f)
        data["s14i_state_rows"] = out
        with open(path, "w") as f:
            json.dump(data, f, indent=2, sort_keys=True)
        print(f"merged into {path}")


if __name__ == "__main__":
    main()
