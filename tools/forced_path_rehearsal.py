"""Measure the FORCED distributed paths of the driver-or-cluster keys.

x43, x65, x91, x92 and x98 each solve on the driver when their input
``fits_driver`` and run a per-round cluster loop otherwise; the tests pin
both halves to equal rows. This tool times the cluster half, forced the
way the tests force it (``_util.DRIVER_ROWS = 0``), at sf0.1 and the
synthesized sf1, recording alphas into
SCALE_REHEARSAL.json["forced_distributed_paths"].

x02g (the new banding-recall audit key) is measured on its normal path —
its audit subset is fixed by design, so its alpha documents that the
audit cost is corpus-size-invariant.

Usage: python tools/synth_scale.py  (once), then
       python tools/forced_path_rehearsal.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from presto_weather_spark.operators import _util  # noqa: E402
from presto_weather_spark.registry import all_queries  # noqa: E402
from presto_weather_spark.session import build_session  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = os.environ.get("PWS_SF1_DIR", "/tmp/pws_scale/sf1")
# Optional third point (30x): measured when the synthesized sf3 dir exists
# (tools/synth_scale.py --mult 30 --out /tmp/pws_scale/sf3) — round-9
# verdict task #7 extends the round-9-new machinery to three points.
SF3 = os.environ.get("PWS_SF3_DIR", "/tmp/pws_scale/sf3")
REPS = 2
FORCED = (
    "x43_bpe_merges",
    "x65_kcenter_coreset",
    "x91_weak_label_classifier",
    "x92_textrank_keywords",
    "x98_mmr_diverse_topk",
)


def _time(fn, spark, sf_dir: str) -> float:
    best = float("inf")
    for _ in range(REPS):
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return best


def main() -> None:
    spark = build_session("forced_path_rehearsal")
    q = all_queries()
    spark.read.parquet(os.path.join(SF01, "documents.parquet")).count()
    spark.read.parquet(os.path.join(SF1, "documents.parquet")).count()

    out = {}
    has_sf3 = os.path.isdir(SF3)
    if has_sf3:
        spark.read.parquet(os.path.join(SF3, "documents.parquet")).count()

    def three_point(key: str) -> dict:
        t_small = _time(q[key].fn, spark, SF01)
        t_big = _time(q[key].fn, spark, SF1)
        row = {
            "sf0.1": round(t_small, 3),
            "sf1": round(t_big, 3),
            "alpha": round(math.log(t_big / t_small) / math.log(10), 2),
        }
        if has_sf3:
            t_sf3 = _time(q[key].fn, spark, SF3)
            row["sf3"] = round(t_sf3, 3)
            row["alpha_1_to_3"] = round(
                math.log(t_sf3 / t_big) / math.log(3), 2
            )
        return row

    saved = _util.DRIVER_ROWS
    try:
        _util.DRIVER_ROWS = 0
        for key in FORCED:
            out[key + "__forced_distributed"] = three_point(key)
            print(key, out[key + "__forced_distributed"], flush=True)
    finally:
        _util.DRIVER_ROWS = saved

    out["x02g_banding_recall_gate"] = three_point("x02g_banding_recall_gate")
    out["x02g_banding_recall_gate"]["note"] = (
        "fixed 2000-doc audit subset by design — alpha ~0 expected"
    )
    print("x02g", out["x02g_banding_recall_gate"], flush=True)

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_REHEARSAL.json",
    )
    merged = json.load(open(path)) if os.path.exists(path) else {}
    merged.setdefault("forced_distributed_paths", {}).update(out)
    with open(path, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
