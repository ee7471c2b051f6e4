"""Streaming state must be KEY-bounded, asserted from progress metrics —
not prose (round-7 verdict task #5).

s14o (quantile sketch), s14p (weighted sample), and s14c (dedup within
watermark) all claim constant/key-bounded GroupState. These tests drive
the same operators over a multi-file source with ``maxFilesPerTrigger=1``
(so availableNow splits into real micro-batches) at TWO batch counts and
TWO data volumes, then read ``stateOperators[].numRowsTotal`` from the
query's progress events and pin:

  * state rows == number of DISTINCT KEYS — for both batchings;
  * doubling the ROW volume (same key set) leaves state rows unchanged.

A regression that starts buffering per-row state (the failure mode the
sketch/sample design exists to avoid) fails these assertions immediately.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from presto_weather_spark.streaming.pipeline import _run_stream

N_TYPES = 5
T0_US = 1_700_000_000 * 1_000_000


def _write_events(base: str, n_rows: int, n_files: int) -> str:
    os.makedirs(base)
    per = n_rows // n_files
    for f in range(n_files):
        rows = range(f * per, (f + 1) * per)
        path = os.path.join(base, f"part-{f:03d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([i for i in rows], pa.int64()),
                    "event_type": pa.array(
                        [f"type{i % N_TYPES}" for i in rows], pa.string()
                    ),
                    "user_id": pa.array([i % 7 for i in rows], pa.int64()),
                    "value": pa.array([float(i % 97) for i in rows]),
                    # files arrive in event-time order so the watermark
                    # advances between micro-batches (the s14c eviction path)
                    "ts": pa.array(
                        [T0_US + i * 60_000_000 for i in rows],
                        pa.timestamp("us"),
                    ),
                }
            ),
            path,
        )
        # Spark's file stream orders candidate files by MODIFICATION TIME;
        # under a loaded host several files can land on the same mtime tick
        # and batch out of event-time order, stalling the watermark and
        # inflating retained state (observed as a full-suite-only flake).
        # Pin strictly increasing mtimes so micro-batch order == file order.
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    return base


def _max_state_rows(spark, stream_df, mode: str) -> int:
    name = f"sb_{uuid.uuid4().hex[:10]}"
    q = _run_stream(
        spark,
        stream_df.writeStream.outputMode(mode).format("memory").queryName(name),
    )
    rows = [
        op["numRowsTotal"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    ]
    assert rows, "no stateOperators in progress — not a stateful query?"
    return max(rows)


def _events_source(spark, src: str, n_rows: int, n_files: int):
    path = _write_events(
        f"{src}/r{n_rows}_f{n_files}", n_rows=n_rows, n_files=n_files
    )
    schema = (
        "event_id long, event_type string, user_id long, "
        "value double, ts timestamp"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def test_quantile_sketch_state_is_key_bounded(spark, tmp_path):
    from pyspark.sql.streaming.state import GroupStateTimeout

    from presto_weather_spark.streaming.pipeline import qsketch_stream_fold

    def drive(n_rows: int, n_files: int) -> int:
        stream = _events_source(spark, str(tmp_path), n_rows, n_files)
        out = (
            stream.select("event_type", "value")
            .groupBy("event_type")
            .applyInPandasWithState(
                qsketch_stream_fold,
                outputStructType="event_type string, q double, est_value double",
                stateStructType="v array<double>, w array<double>",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        return _max_state_rows(spark, out, "update")

    one_batch = drive(400, 1)
    four_batches = drive(400, 4)
    double_volume = drive(800, 4)
    # one state row per event_type — independent of batching AND volume
    assert one_batch == four_batches == double_volume == N_TYPES


def test_weighted_sample_state_is_key_bounded(spark, tmp_path):
    from pyspark.sql.streaming.state import GroupStateTimeout

    from presto_weather_spark.streaming.pipeline import aes_stream_fold

    def drive(n_rows: int, n_files: int) -> int:
        stream = _events_source(spark, str(tmp_path), n_rows, n_files)
        # reuse event_type as the sample's source key; text from event_id
        src = stream.selectExpr(
            "event_type AS source",
            "event_id AS doc_id",
            "CAST(event_id AS STRING) AS text",
            "CAST(20 + event_id % 50 AS LONG) AS n_chars",
        )
        out = src.groupBy("source").applyInPandasWithState(
            aes_stream_fold,
            outputStructType=(
                "source string, doc_id long, n_chars long, "
                "aes_key double, sample_rank int, n_seen long"
            ),
            stateStructType=(
                "ids array<long>, chars array<long>, "
                "keys array<double>, seen long"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return _max_state_rows(spark, out, "update")

    one_batch = drive(400, 1)
    four_batches = drive(400, 4)
    double_volume = drive(800, 4)
    # one state row (<= k retained triples inside it) per source key
    assert one_batch == four_batches == double_volume == N_TYPES


def test_sample_quantiles_state_bounded_and_batching_invariant(spark, tmp_path):
    # s14r: the bottom-k hash sample is a mergeable MINIMUM, so (a) state
    # stays one row (<= k retained triples inside it) per event_type, and
    # (b) the FINAL emission per key is byte-identical no matter how the
    # stream is batched — the property that lets a stateful streaming
    # quantile operator carry a full SQL oracle (unlike the s14o sketch,
    # whose summary depends on batch boundaries).
    import uuid as _uuid

    import pyspark.sql.functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from presto_weather_spark.streaming.pipeline import (
        sample_quantiles_stream_fold,
    )

    def drive(n_rows: int, n_files: int):
        stream = _events_source(spark, str(tmp_path), n_rows, n_files)
        src = stream.select(
            "event_type",
            "event_id",
            "value",
            F.md5(
                F.concat(F.lit("sq:"), F.col("event_id").cast("string"))
            ).alias("hkey"),
        )
        out = src.groupBy("event_type").applyInPandasWithState(
            sample_quantiles_stream_fold,
            outputStructType=(
                "event_type string, q double, est_value double, "
                "n_sample int, n_seen long"
            ),
            stateStructType=(
                "ids array<long>, keys array<string>, "
                "vals array<double>, seen long"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        name = f"sq_{_uuid.uuid4().hex[:10]}"
        q = _run_stream(
            spark,
            out.writeStream.outputMode("update").format("memory").queryName(name),
        )
        state_rows = max(
            op["numRowsTotal"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        emitted = spark.table(name).collect()
        latest_seen = {}
        for r in emitted:
            latest_seen[r["event_type"]] = max(
                latest_seen.get(r["event_type"], 0), r["n_seen"]
            )
        final = {
            (r["event_type"], r["q"], r["est_value"], r["n_sample"], r["n_seen"])
            for r in emitted
            if r["n_seen"] == latest_seen[r["event_type"]]
        }
        return state_rows, final

    s1, f1 = drive(400, 1)
    s4, f4 = drive(400, 4)
    assert s1 == s4 == N_TYPES  # one state row per key, any batching
    assert f1 == f4 and len(f1) > 0  # final sample quantiles byte-identical


def test_dedup_state_is_bounded_by_keys_and_watermark(spark, tmp_path):
    import pyspark.sql.functions as F

    n_keys = 7 * N_TYPES  # distinct (user_id, event_type) pairs

    def drive(n_rows: int, n_files: int) -> int:
        stream = _events_source(spark, str(tmp_path), n_rows, n_files)
        deduped = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicates(["user_id", "event_type"])
            .select("user_id", "event_type", F.col("ts"))
        )
        return _max_state_rows(spark, deduped, "append")

    one_batch = drive(400, 1)
    four_batches = drive(400, 4)
    double_volume = drive(800, 4)
    # state carries the distinct keys inside the watermark horizon: never
    # more than the key count, and NOT growing when the row volume doubles
    assert one_batch == n_keys
    assert four_batches <= n_keys
    assert double_volume <= n_keys


def test_stream_stream_left_outer_state_is_horizon_bounded(spark, tmp_path):
    # s14i (round-8 verdict task #3): the LEFT OUTER join's state must be
    # bounded by the watermark horizon x arrival rate, not by stream
    # length. Fixture arrives at 1 row/minute in event-time order, one
    # 200-row (200-minute) file per micro-batch; clicks/purchases are the
    # type0/type1 slices (1 per 5 minutes each side). A side's row is
    # evictable once the watermark passes its join horizon, so live state
    # never exceeds
    #   2 sides * (delay 2h + window 1h + one batch's 200min span) / 5min
    #   = 2 * 76 = 152 rows
    # regardless of how many batches have run.
    import pyspark.sql.functions as F

    def drive(n_rows: int, n_files: int) -> int:
        stream = _events_source(spark, str(tmp_path), n_rows, n_files)
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
        return _max_state_rows(spark, joined, "append")

    HORIZON_BOUND = 152  # 2 * (180min horizon + 200min batch span) / 5min
    two_batches = drive(400, 2)
    six_batches = drive(1200, 6)
    twelve_batches = drive(2400, 12)
    # constant across a 6x stream-length growth...
    assert two_batches == six_batches == twelve_batches
    # ...and within the analytic horizon bound
    assert twelve_batches <= HORIZON_BOUND


def test_sample_quantiles_fold_emits_nothing_for_an_all_empty_group():
    # s14r's k == 0 guard must EXECUTE, not just exist: an existing group
    # whose micro-batch chunks are all empty (state-store timeout replays,
    # empty file slices) yields NO emission rather than a 0-sample frame.
    import pandas as pd

    from presto_weather_spark.streaming.pipeline import (
        sample_quantiles_stream_fold,
    )

    class _State:
        exists = False

        def update(self, v):
            self.val = v

    st = _State()
    out = list(
        sample_quantiles_stream_fold(
            ("type0",),
            iter([pd.DataFrame({"event_id": [], "hkey": [], "value": []})]),
            st,
        )
    )
    assert out == []
    assert st.val == ([], [], [], 0)  # state still written (idempotent)


def test_statestore_read_equals_sink_mv(spark):
    """s14t's promise: complete-mode aggregation STATE is the MV, so the
    statestore batch source must return byte-identical rows to the s14
    tumbling-count sink (projected to the shared columns)."""
    from presto_weather_spark.registry import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    state = set(
        map(tuple, qs["s14t_statestore_read"].fn(spark, sf).collect())
    )
    sink = set(
        map(
            tuple,
            qs["s14_stream_tumbling_counts"]
            .fn(spark, sf)
            .select("window_start", "event_type", "n_events")
            .collect(),
        )
    )
    assert state == sink
    assert len(state) > 0
