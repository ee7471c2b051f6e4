"""Structured Streaming layer — the reference's refresh loop, generalized
(R13/R14/R15, S14 of SURVEY.md §2).

The reference app is logically a stream: one reading per 600 s tick, latest
value wins, errors absorbed per tick (/root/reference/weather.py:324-333).
Here that becomes:

- file-source micro-batches over the ``events`` table,
- event-time tumbling windows with a watermark (late data dropped),
- latest-value-per-station aggregation (the board, complete mode),
- a ``foreachBatch`` display sink with per-batch error absorption (R13).

Tests drive these with ``trigger(availableNow=True)`` so they terminate.
The registered queries run the stream to completion into a memory sink and
return the sink table — judged by the driver as batch-equivalent results
(oracle SQL provided where semantics align; single-file sources mean a
single micro-batch, so no rows are watermark-dropped at test scale).

Scale: windowed aggs shuffle once on (window, key); watermarks bound state.
``complete`` mode is only for the tiny board dimension — at 100 TB the
board would be ``update`` mode into a keyed store.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from presto_weather_spark.registry import register
from presto_weather_spark.operators._util import scratch_root
from presto_weather_spark.session import conf_scope, load_table

WINDOW_SECONDS = 6 * 3600  # 6-hour tumbling windows over the events fixture


def _stage_stream_dir(path: str) -> str:
    """Stage a parquet TABLE (bare file or directory of part files) as a
    directory of file symlinks for the file-stream source.

    The file source lists FILES in the given directory and does not
    recurse: symlinking a directory-shaped table (the normal production
    layout, and what Spark's own writers produce) made the stream silently
    read ZERO rows — the round-10 degenerate-parity find. So: a bare file
    (the read-only testdata layout) symlinks as itself; a directory
    symlinks each of its part files. The stage name folds in the part-file
    listing, so a rewritten table (new part names) gets a fresh stage
    instead of dangling stale links."""
    import hashlib

    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
    else:
        parts = None
    token = hashlib.md5(repr((path, parts)).encode()).hexdigest()[:16]
    stage = os.path.join(scratch_root(), f"pws_stream_{token}")
    os.makedirs(stage, exist_ok=True)
    if parts is None:
        link = os.path.join(stage, os.path.basename(path))
        if not os.path.exists(link):
            os.symlink(path, link)
    else:
        for f in parts:
            link = os.path.join(stage, f)
            if not os.path.exists(link):
                os.symlink(os.path.join(path, f), link)
    return stage


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (schema from batch read)."""
    path = os.path.join(sf_dir, "events.parquet")
    from presto_weather_spark.session import _normalize_nanos, _prepare_parquet_read

    stage = _stage_stream_dir(path)
    nanos_cols = _prepare_parquet_read(spark, path)
    schema = spark.read.parquet(path).schema  # raw on-disk schema (long/NTZ)
    return _normalize_nanos(spark.readStream.schema(schema).parquet(stage), nanos_cols)


STREAM_STATE_PARTITIONS = "4"  # state stores per stateful operator in tests


def _run_stream(
    spark: SparkSession, writer: DataStreamWriter, checkpoint: str | None = None
) -> StreamingQuery:
    """Run ``writer`` to completion (availableNow) and return the finished
    query; its ``recentProgress`` holds the per-batch metrics. Every stream
    in the package starts here.

    Stateful operators allocate one state store per shuffle partition, each
    with per-batch checkpoint commit IO — at test scale that fixed cost
    dominates (a stream-stream join carries two stateful operators: 32
    partitions cost ~8 s, 4 cost ~2 s). The partition count is pinned low
    for the harness while the query runs (micro-batches plan async, so the
    scope ends only after termination); a production deployment sizes it to
    state volume / executor count instead (it is baked into the checkpoint
    at first start, exactly like this)."""
    writer = writer.trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    with conf_scope(spark, {"spark.sql.shuffle.partitions": STREAM_STATE_PARTITIONS}):
        q = writer.start()
        q.awaitTermination()
    return q


def _run_to_memory(
    stream_df: DataFrame, mode: str, checkpoint: str | None = None
) -> DataFrame:
    """Drive a streaming frame to completion into a memory sink; return the
    sink contents as a batch DataFrame. The sink's temp view is dropped once
    the frame is resolved (the frame keeps the sink's rows), so repeated
    calls leave nothing in the catalog."""
    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    writer = stream_df.writeStream.outputMode(mode).format("memory").queryName(name)
    _run_stream(spark, writer, checkpoint)
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


@register(
    "s14_stream_tumbling_counts",
    oracle=f"""
SELECT CAST(date_trunc('second', TIMESTAMP '1970-01-01 00:00:00'
                + CAST((epoch_us(ts) // {WINDOW_SECONDS * 1000000}) * {WINDOW_SECONDS} AS BIGINT) * INTERVAL 1 SECOND) AS VARCHAR) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="S14: event-time tumbling-window aggregation with watermark, driven "
    "availableNow to completion — batch-equivalent because the single-file "
    "source is one micro-batch (no late drops at test scale). Oracle: "
    "epoch-aligned 6h buckets, matching Spark's window() origin.",
)
def s14_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", f"{WINDOW_SECONDS} seconds").alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete")


@register(
    "s14b_stream_latest_board",
    oracle="""
WITH ranked AS (
  SELECT user_id, ts, value, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id AS station_id,
       CAST(date_trunc('second', ts) AS VARCHAR) AS last_seen,
       round(value, 6) AS last_value,
       event_type AS last_event_type
FROM ranked WHERE rn = 1
""",
    doc="S14+R14: streaming latest-value board — max_by over (ts, event_id) "
    "per station in complete mode, the streaming form of the reference's "
    "latest-reading display. Deterministic via the unique event_id "
    "tiebreak.",
)
def s14b_stream_latest_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    latest = (
        stream.groupBy(F.col("user_id").alias("station_id"))
        .agg(
            F.max(
                F.struct("ts", "event_id", "value", "event_type")
            ).alias("latest")
        )
        .select(
            "station_id",
            F.date_format("latest.ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
            F.round("latest.value", 6).alias("last_value"),
            F.col("latest.event_type").alias("last_event_type"),
        )
    )
    return _run_to_memory(latest, "complete")


@register(
    "s14c_stream_dedup_within_watermark",
    oracle=None,  # stateful streaming dedup has no DuckDB analogue ->
    # rows-only; pytest asserts set equality with batch dropDuplicates.
    doc="S14: stateful streaming deduplication — dropDuplicates on "
    "(user_id, event_type) within a watermark; state is bounded by the "
    "watermark horizon, the scalable exactly-once ingest pattern.",
)
def s14c_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select(
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        )
    )
    return _run_to_memory(deduped, "append")


def run_display_pipeline(
    spark: SparkSession, sf_dir: str, inject_error: bool = False
) -> list[dict]:
    """R13/R15: the display sink — foreachBatch formats each micro-batch
    onto the 'screen' (a captured list), absorbing per-batch errors exactly
    like the reference's try/except tick loop (weather.py:325-331)."""
    from presto_weather_spark.functions import formatting as fmt

    screen: list[dict] = []
    stream = events_stream(spark, sf_dir)
    board = stream.select(
        "user_id",
        fmt.fmt_temperature(F.col("value")).alias("temp_display"),
        F.date_format("ts", "yyyy-MM-dd HH:mm").alias("tick"),
    )

    def draw(batch_df: DataFrame, epoch_id: int) -> None:
        try:
            if inject_error:
                raise RuntimeError("simulated tick failure")
            rows = batch_df.limit(3).collect()
            screen.append(
                {"epoch": epoch_id, "ok": True, "lines": [r.asDict() for r in rows]}
            )
        except Exception as e:  # absorb per tick — reference weather.py:330-331
            screen.append(
                {"epoch": epoch_id, "ok": False, "lines": [{"error": f"Error: {e}"}]}
            )

    _run_stream(
        spark,
        board.writeStream.foreachBatch(draw),
        os.path.join(scratch_root(), f"pws_ckpt_{uuid.uuid4().hex[:8]}"),
    )
    return screen


@register(
    "s14e_stateful_running_totals",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       round(MAX(value), 6) AS max_value,
       CAST(date_trunc('second', MAX(ts)) AS VARCHAR) AS last_ts
FROM events
GROUP BY user_id
""",
    doc="S14/S15: custom stateful streaming operator via "
    "applyInPandasWithState — per-station running totals (count, max, "
    "last-seen) carried in explicit GroupState across micro-batches; each "
    "update emits the station's current totals. Driven availableNow (one "
    "micro-batch), the final emission equals the batch aggregate, so the "
    "oracle stays SQL-expressible. Outputs are count/max/timestamp only — "
    "exact values, no float-sum ordering risk. State is per-key and "
    "watermark-free here; a production deployment bounds it with a "
    "timeout.",
)
def s14e_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = events_stream(spark, sf_dir)

    def totals(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            n, mx, last = state.get
        else:
            n, mx, last = 0, float("-inf"), None
        for pdf in pdfs:
            n += len(pdf)
            mx = max(mx, float(pdf["value"].max()))
            batch_last = pdf["ts"].max()
            last = batch_last if last is None else max(last, batch_last)
        state.update((n, mx, last))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "max_value": [round(mx, 6)],
                "last_ts": [pd.Timestamp(last).strftime("%Y-%m-%d %H:%M:%S")],
            }
        )

    out = (
        stream.select("user_id", "value", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            totals,
            outputStructType="user_id bigint, n_events bigint, "
            "max_value double, last_ts string",
            stateStructType="n bigint, mx double, last timestamp",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(out, "update")


SLIDE_SECONDS = WINDOW_SECONDS // 2  # 6h windows sliding every 3h


@register(
    "s14f_stream_sliding_counts",
    oracle=f"""
WITH shifts AS (SELECT unnest([0, 1]) AS shift),
slid AS (
  SELECT (CAST(epoch_us(ts) // {SLIDE_SECONDS * 1000000} AS BIGINT) - shift)
           * {SLIDE_SECONDS} AS wstart,
         event_type, value
  FROM events CROSS JOIN shifts
)
SELECT CAST(date_trunc('second', TIMESTAMP '1970-01-01 00:00:00' + wstart * INTERVAL 1 SECOND) AS VARCHAR) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM slid
GROUP BY 1, 2
""",
    doc="S14: event-time SLIDING-window aggregation (6 h windows every 3 h) "
    "with watermark — each event lands in window/slide = 2 overlapping "
    "windows. Oracle replays Spark's epoch-aligned window assignment: with "
    "W = 2S, an event at t belongs to starts (floor(t/S)-k)*S for k in "
    "{0,1}. Completes the tumbling/sliding/session window triple of "
    "SURVEY.md §2 S14. Scale: state is bounded by watermark x overlap "
    "factor; the shuffle key is (window, event_type).",
)
def s14f_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.window(
                "ts", f"{WINDOW_SECONDS} seconds", f"{SLIDE_SECONDS} seconds"
            ).alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete")


@register(
    "s14g_stream_stream_join",
    oracle="""
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_seconds
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
    doc="S14: watermarked STREAM-STREAM inner join — clicks joined to the "
    "same user's purchases within 1 h, both sides watermarked so the "
    "state store evicts rows once the event-time horizon passes (the "
    "time-range predicate bounds state; without it stream-stream state "
    "grows forever). availableNow = one micro-batch, so the result "
    "equals the batch self-join oracle. Scale: state is per-user rows "
    "within the 1 h + watermark horizon only; the join shuffles both "
    "streams on user_id once.",
)
def s14g_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
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
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        ((F.unix_micros("purchase_ts") - F.unix_micros("click_ts")) / 1000000)
        .cast("bigint")
        .alias("gap_seconds"),
    )
    return _run_to_memory(joined, "append")


# NOTE: a transformWithStateInPandas (Spark 4 typed-state API) twin of
# s14e was attempted and reverted: the API's driver worker needs a working
# google.protobuf, which this container lacks (STREAMING_PYTHON_RUNNER_
# INITIALIZATION_FAILURE). s14e's applyInPandasWithState covers the custom
# stateful operator surface; migrate to transformWithState where protobuf
# is available (typed value/list/map state, timers, TTL).


@register(
    "s14h_stream_static_enrich",
    oracle="""
SELECT c.c_mktsegment, e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
""",
    doc="S14h: stream-static join — the streaming enrichment pattern: each "
    "micro-batch of the event stream joins the static customer dimension "
    "(broadcast hash join, re-planned per batch so dim updates are picked "
    "up), then aggregates per (segment, event_type). Unlike the "
    "stream-stream join (s14g) the static side holds NO state store — "
    "scale cost is the stream side's aggregation state only. Driven "
    "availableNow; oracle is the batch-equivalent join.",
)
def s14h_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.session import load_table

    stream = events_stream(spark, sf_dir)
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    enriched = stream.join(cust, stream.user_id == cust.c_custkey)
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    return _run_to_memory(agg, "complete")


@register(
    "s14i_stream_stream_left_outer",
    oracle=None,  # append-mode outer join cannot emit null-padded rows for
    # left rows still inside the watermark horizon when the stream ends —
    # the held-back tail makes it differ from the batch join by exactly
    # those rows. tests/test_stream_outer.py pins that relationship
    # precisely (matches identical; missing = unclosed-horizon clicks).
    doc="S14: watermarked stream-stream LEFT OUTER join — clicks with or "
    "without a purchase within 1 h. Matched pairs emit like s14g; "
    "unmatched clicks emit null-padded ONLY once the watermark passes "
    "their join horizon (click_ts + 1 h), which Spark detects in the "
    "trailing no-data micro-batch. Clicks newer than max_ts - (delay + "
    "window) remain in state at availableNow termination — the honest "
    "streaming semantics, asserted exactly in tests. Scale: same "
    "single-shuffle-per-side profile as the inner join; outer state "
    "eviction is what bounds memory.",
)
def s14i_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(s14i_joined_stream(spark, sf_dir), "append")


def s14i_joined_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s14i join as an un-started streaming frame — split out so
    tools/s14i_state_probe.py can start it itself and read the state-store
    metrics (stateOperators[].numRowsTotal) from the query's progress."""
    stream = events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
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
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        "click_id",
        "user_id",
        "purchase_id",
        ((F.unix_micros("purchase_ts") - F.unix_micros("click_ts")) / 1000000)
        .cast("bigint")
        .alias("gap_seconds"),
    )
    return joined


SESSION_GAP_SECONDS = 4 * 3600  # same 4h gap as the batch twin (s14d)


@register(
    "s14j_stream_session_window",
    oracle=f"""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                   >= {SESSION_GAP_SECONDS}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM o
)
SELECT user_id,
       CAST(date_trunc('second', MIN(ts)) AS VARCHAR) AS session_start,
       CAST(date_trunc('second', MAX(ts) + INTERVAL {SESSION_GAP_SECONDS} SECOND) AS VARCHAR) AS session_end,
       COUNT(*) AS n_events
FROM s
GROUP BY user_id, sess_id
""",
    doc="S14: STREAMING session_window aggregation — the streaming form of "
    "s14d: per-user sessions merge while event gaps stay under 4 h, with "
    "a watermark bounding state in append/update deployments. Driven "
    "availableNow in complete mode (single micro-batch, no late drops), "
    "so the result equals the batch gaps-and-islands oracle; "
    "session_window.end is last-event + gap, mirrored in the oracle. "
    "Scale: sessions merge inside the state store per user_id — one "
    "shuffle on the session key, state bounded by the watermark in "
    "append mode.",
)
def s14j_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds").alias("sw"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "complete")


@register(
    "s24_file_sink_exactly_once",
    oracle="""
SELECT event_id, user_id, event_type,
       CAST(date_trunc('second', ts) AS VARCHAR) AS ts_str,
       round(value, 6) AS value
FROM events
""",
    doc="S24: exactly-once streaming FILE sink — the stream appends parquet "
    "through a checkpointed file sink, then the SAME stream+checkpoint is "
    "started a second time (a restart/replay): the source's committed "
    "offsets make the replay a no-op and the sink's _spark_metadata log "
    "defines the committed file set, so readers see each input row "
    "exactly once. The oracle is the plain batch projection — equality "
    "IS the exactly-once guarantee. Scale: the metadata log is the "
    "coordination point (object stores have no atomic rename); "
    "compaction intervals bound its growth.",
)
def s24_file_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    stream = events_stream(spark, sf_dir)
    out = stream.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.round("value", 6).alias("value"),
    )
    base = os.path.join(scratch_root(), f"pws_eo_{uuid.uuid4().hex[:12]}")
    sink_dir, ckpt = f"{base}/data", f"{base}/ckpt"
    try:
        for _ in range(2):  # second start = restart/replay; must add nothing
            _run_stream(
                spark, out.writeStream.format("parquet").option("path", sink_dir), ckpt
            )
        # localCheckpoint so the returned frame outlives the tmp cleanup;
        # explicit schema: an empty stream commits no part files and
        # inference would fail (the s02b read-back convention)
        return spark.read.schema(out.schema).parquet(sink_dir).localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


HOUR_SECONDS = 3600


@register(
    "s14k_stream_window_reagg",
    oracle=f"""
WITH m AS (SELECT MAX(ts) AS mx FROM events),
b AS (
  SELECT CAST(epoch_us(ts) // {WINDOW_SECONDS * 1000000} AS BIGINT) * {WINDOW_SECONDS} AS bucket,
         CAST(epoch_us(ts) // {HOUR_SECONDS * 1000000} AS BIGINT) AS hr,
         event_type, value
  FROM events
)
SELECT CAST(date_trunc('second', TIMESTAMP '1970-01-01 00:00:00' + bucket * INTERVAL 1 SECOND) AS VARCHAR) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT hr) AS INT) AS n_hours_active,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM b CROSS JOIN m
WHERE bucket + {WINDOW_SECONDS} <= epoch(mx)
GROUP BY bucket, event_type
""",
    doc="S14: CHAINED streaming window aggregation (Spark >= 3.4 multiple "
    "stateful operators): an hourly tumbling pre-aggregation feeds a "
    "6-hour rollup in the SAME streaming query via "
    "window(window_time(w1)) — the streaming form of the s05m batch "
    "time-hierarchy rollup. Level 1 must run in append semantics, so "
    "only windows the watermark has closed flow downstream; with a "
    "0-second delay the final no-data micro-batch flushes every window "
    "ending at or before max(ts), and the oracle applies exactly that "
    "cutoff to the raw table. Scale: the rollup's input is one row per "
    "(hour, type) — pre-aggregation shrinks the second shuffle by the "
    "events-per-hour factor, the reason chained window aggs exist.",
)
def s14k_stream_window_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    hourly = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(
            F.window("ts", f"{HOUR_SECONDS} seconds").alias("w1"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("hour_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("hour_sum"),
        )
    )
    six = (
        hourly.groupBy(
            F.window(F.window_time("w1"), f"{WINDOW_SECONDS} seconds").alias("w6"),
            "event_type",
        )
        .agg(
            F.sum("hour_events").alias("n_events"),
            F.count(F.lit(1)).cast("int").alias("n_hours_active"),
            F.sum("hour_sum").cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w6.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "n_hours_active",
            "sum_value",
        )
    )
    return _run_to_memory(six, "append")


@register(
    "s14l_stream_observed_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_high,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_value
FROM events
""",
    doc="S14l: STREAMING observed metrics — df.observe() on a streaming "
    "frame publishes per-micro-batch counters through the progress "
    "events (StreamingQueryProgress.observedMetrics), the production "
    "stream-health surface: rows ingested, gate hit rates, control "
    "totals per tick, with no second pass and no state store. The "
    "stream runs availableNow to the noop sink; the counters are summed "
    "across micro-batches (counts and DECIMAL sums are associative, so "
    "the batch boundaries don't matter) and re-emitted as a one-row "
    "frame whose oracle is the batch aggregate — equality proves every "
    "row was observed exactly once across the whole run.",
)
def s14l_stream_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from decimal import Decimal

    stream = events_stream(spark, sf_dir)
    observed = stream.observe(
        "tick_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0)).alias("n_high"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
    )
    q = _run_stream(
        spark,
        observed.writeStream.format("noop"),
        os.path.join(scratch_root(), f"pws_obs_{uuid.uuid4().hex[:8]}"),
    )
    n_rows, n_high, total = 0, 0, Decimal(0)
    for progress in q.recentProgress:
        om = progress.observedMetrics.get("tick_metrics")
        if om is None or om["total_value"] is None:
            continue  # empty trailing micro-batch (count 0, null sums)
        n_rows += int(om["n_rows"])
        n_high += int(om["n_high"])
        total += Decimal(str(om["total_value"]))
    return spark.createDataFrame(
        [(n_rows, n_high, float(total))],
        "n_rows bigint, n_high bigint, total_value double",
    )


@register(
    "s14m_dedup_within_watermark_ttl",
    oracle=None,  # which duplicate survives is arrival-order dependent (no
    # engine-stable tiebreak exists for streaming dedup); pytest pins key-set
    # equality with batch dropDuplicates in tests/test_watermark_drop.py.
    doc="S14: dropDuplicatesWithinWatermark (Spark 3.5+) — dedup state "
    "with an explicit event-time TTL: unlike s14c's dropDuplicates "
    "(whose per-key state lives for the life of the query unless the "
    "key columns include the event-time column), this variant evicts a "
    "key's state once the watermark passes its event time + delay, so "
    "duplicates are only suppressed within the deduplication window — "
    "the at-least-once-ingest contract (retries land within seconds, "
    "not days). At 100 TB this is THE streaming dedup to run: state is "
    "bounded by (keys per watermark horizon), not (all keys ever).",
)
def s14m_dedup_within_watermark_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select(
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("seen_at"),
        )
    )
    return _run_to_memory(deduped, "append")


MV_DELTA_DAYS = 3  # matches the batch MV (s37) refresh horizon


@register(
    "s14n_stream_mv_maintenance",
    oracle=f"""
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="S14n: STREAMING materialized-view maintenance — the streaming "
    "twin of s37, killing the lambda-architecture split: each "
    "micro-batch aggregates its own rows by (day, type) in "
    "foreachBatch, then merges the algebraic partials (COUNT, DECIMAL "
    "SUM) into the stored MV parquet by re-aggregating MV UNION delta. "
    "Because the merge is associative, ANY micro-batch slicing yields "
    "the same final MV as one batch pass — which the batch-aggregate "
    "oracle proves exactly. foreachBatch is the right tool because MV "
    "maintenance needs read-modify-write of an external table, which "
    "no streaming sink mode expresses. At 100 TB the rewrite narrows "
    "to only the (day, type) cells present in the delta — days outside "
    "the micro-batch are untouched partitions.",
)
def s14n_stream_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    stream = events_stream(spark, sf_dir)
    base = _os.path.join(
        scratch_root(),
        "pws_stream_mv",
        _os.path.basename(_os.path.normpath(sf_dir)),
    )
    shutil.rmtree(base, ignore_errors=True)
    mv_path = _os.path.join(base, "mv")

    def day_agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"),
        )

    def merge_into_mv(batch_df: DataFrame, epoch_id: int) -> None:
        delta = day_agg(batch_df)
        if _os.path.isdir(mv_path):
            merged = (
                spark.read.parquet(mv_path)
                .unionByName(delta)
                .groupBy("day", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_value_dec").alias("sum_value_dec"),
                )
            )
        else:
            merged = delta
        # Write-new-then-swap: readers never see a half-written MV.
        tmp = f"{mv_path}_epoch{epoch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if _os.path.isdir(mv_path):
            shutil.rmtree(mv_path)
        _os.replace(tmp, mv_path)

    ckpt = _os.path.join(base, "ckpt")
    _run_stream(spark, stream.writeStream.foreachBatch(merge_into_mv), ckpt)
    if not _os.path.isdir(mv_path):
        # an EMPTY stream triggers no batch, so the MV was never created:
        # the view over nothing is the empty view, typed
        return spark.createDataFrame(
            [], "day string, event_type string, n_events bigint, sum_value double"
        )
    return (
        spark.read.parquet(mv_path)
        .select(
            "day",
            "event_type",
            "n_events",
            F.col("sum_value_dec").cast("double").alias("sum_value"),
        )
        .localCheckpoint()
    )


# ---------------------------------------------------------------------------
# S14o: streaming mergeable quantile sketch (x100's summary as GroupState)
# ---------------------------------------------------------------------------


def qsketch_stream_fold(key, pdfs, state):
    """s14o's GroupState fold, module-level so the state-bound test can
    re-drive it under controlled micro-batching (tests/test_state_bounds)."""
    import numpy as np
    import pandas as pd

    from presto_weather_spark.operators.relational import (
        QSKETCH_M,
        QSKETCH_QS,
        qsketch_compact,
        qsketch_quantiles,
    )

    qs = list(QSKETCH_QS)
    (event_type,) = key
    if state.exists:
        sv, sw = state.get
        sv = np.asarray(sv, dtype=np.float64)
        sw = np.asarray(sw, dtype=np.float64)
    else:
        sv = np.empty(0)
        sw = np.empty(0)
    for pdf in pdfs:
        vals = pdf["value"].to_numpy(dtype=np.float64)
        if len(vals) == 0:
            continue
        bv, bw = qsketch_compact(vals, np.ones(len(vals)))
        sv = np.concatenate([sv, bv])
        sw = np.concatenate([sw, bw])
        if len(sv) > QSKETCH_M:  # state stays <= 2m floats per key
            sv, sw = qsketch_compact(sv, sw)
    state.update((sv.tolist(), sw.tolist()))
    ests = qsketch_quantiles(sv, sw, qs)
    yield pd.DataFrame(
        {
            "event_type": [event_type] * len(qs),
            "q": qs,
            "est_value": ests,
        }
    )



@register(
    "s14o_stream_quantile_sketch",
    # Sketch estimates are batching-dependent by construction -> rows-only;
    # tests/test_properties.py::test_stream_quantile_sketch_rank_error pins
    # the rank-error bound against the exact empirical CDF.
    oracle=None,
    doc="S14/X100: STREAMING quantile sketch — the x100 equi-depth "
    "summary carried as explicit GroupState across micro-batches via "
    "applyInPandasWithState: per event_type, each micro-batch's values "
    "compact to m=64 weighted samples (qsketch_compact, the exact "
    "kernel x100 uses), merge-compact with the state summary, and the "
    "state NEVER exceeds 2 x m floats per key regardless of stream "
    "length — the mergeability that makes the sketch family the "
    "streaming answer where exact percentiles (s05f) would buffer "
    "unbounded groups. Each update emits the current quantile "
    "estimates, so a live dashboard reads monotonically improving "
    "answers. Rank error adds one 1/m granule per micro-batch "
    "compaction (bounded by stream length in micro-batches, not "
    "rows); driven availableNow here (one batch), so the bound "
    "matches x100's and the pytest pin is the same 0.04.",
)
def s14o_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = events_stream(spark, sf_dir)

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
    return _run_to_memory(out, "update")


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (schema from batch)."""
    path = os.path.join(sf_dir, "documents.parquet")
    stage = _stage_stream_dir(path)
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(stage)


def _aes_sample_key(doc_id: int, text: str, n_chars: int) -> float:
    import hashlib
    import math

    v = int(hashlib.md5(f"aes:{doc_id}:{text}".encode()).hexdigest()[:12], 16)
    u = (v + 1) / 281474976710656.0
    return round(math.log(u) / max(n_chars, 1), 12)


def aes_stream_fold(key, pdfs, state):
    """s14p's GroupState fold, module-level so the state-bound test can
    re-drive it under controlled micro-batching (tests/test_state_bounds)."""
    import pandas as pd

    from presto_weather_spark.operators.corpus_stats import AES_TOPK

    (source,) = key
    if state.exists:
        ids, chars, keys, seen = state.get
        ids, chars, keys = list(ids), list(chars), list(keys)
    else:
        ids, chars, keys, seen = [], [], [], 0
    for pdf in pdfs:
        seen += len(pdf)
        for doc_id, text, n_chars in zip(
            pdf["doc_id"], pdf["text"], pdf["n_chars"]
        ):
            ids.append(int(doc_id))
            chars.append(int(n_chars))
            keys.append(_aes_sample_key(int(doc_id), text, int(n_chars)))
        order = sorted(
            range(len(ids)), key=lambda i: (-keys[i], ids[i])
        )[:AES_TOPK]
        ids = [ids[i] for i in order]
        chars = [chars[i] for i in order]
        keys = [keys[i] for i in order]
    state.update((ids, chars, keys, seen))
    yield pd.DataFrame(
        {
            "source": source,
            "doc_id": ids,
            "n_chars": chars,
            "aes_key": keys,
            "sample_rank": range(1, len(ids) + 1),
            "n_seen": seen,
        }
    )



@register(
    "s14p_stream_weighted_sample",
    # The SAME oracle as x109: A-ES top-k keys are a mergeable maximum, so
    # the streaming fold is EXACTLY batching-independent — a streaming
    # stateful operator with a full SQL oracle, not a rows-only check.
    oracle=f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         round(
           ln((CAST(('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR) || ':' || text), 1, 12)) AS BIGINT) + 1)
              / 281474976710656.0)
           / greatest(n_chars, 1), 12) AS aes_key
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_chars, aes_key,
         row_number() OVER (PARTITION BY source
                            ORDER BY aes_key DESC, doc_id) AS sample_rank
  FROM keyed
)
SELECT source, doc_id, n_chars, aes_key, sample_rank
FROM ranked WHERE sample_rank <= 10
""",
    doc="S14/X109: STREAMING weighted sampling — x109's Efraimidis-"
    "Spirakis top-k carried as GroupState across micro-batches via "
    "applyInPandasWithState: per source, each batch computes its A-ES "
    "keys (the same md5-48-bit u and ln(u)/n_chars as batch x109, "
    "12dp-rounded), merges them with the <= k retained (key, doc_id, "
    "n_chars) triples, and keeps the top k by (key DESC, doc_id). "
    "Because a weighted sample's keys form a MERGEABLE maximum "
    "(Efraimidis & Spirakis 2006 §3: top-k of a union = top-k of "
    "per-part top-k's), the stream result is byte-identical to the "
    "batch query no matter how the stream is batched — so this "
    "stateful streaming operator carries x109's full SQL oracle, not "
    "a rows-only check. State per source is k triples, constant in "
    "stream length; each update emits the current sample (n_seen "
    "tags the newest emission; the final filter keeps it).",
)
def s14p_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window as W

    stream = documents_stream(spark, sf_dir)

    out = (
        stream.select("source", "doc_id", "text", "n_chars")
        .groupBy("source")
        .applyInPandasWithState(
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
    )
    emitted = _run_to_memory(out, "update")
    latest = W.partitionBy("source").orderBy(F.col("n_seen").desc())
    return (
        emitted.withColumn("max_seen", F.max("n_seen").over(latest))
        .filter(F.col("n_seen") == F.col("max_seen"))
        .select("source", "doc_id", "n_chars", "aes_key", "sample_rank")
    )


SQ_SAMPLE_K = 256  # retained bottom-k hash sample per event_type
# quantile probes as EXACT integer rationals (numerator, denominator) so the
# sample rank ceil(q * k) is integer arithmetic in both engines
SQ_QS = ((1, 10), (1, 4), (1, 2), (3, 4), (9, 10), (99, 100))


def sample_quantiles_stream_fold(key, pdfs, state):
    """s14r's GroupState fold, module-level so state-bound tests can
    re-drive it under controlled micro-batching. The md5 sample key
    arrives as the JVM-computed ``hkey`` column (one codegen expression
    per row beats a per-row Python hashlib loop ~30x)."""
    import pandas as pd

    (event_type,) = key
    if state.exists:
        ids, keys, vals, seen = state.get
        ids, keys, vals = list(ids), list(keys), list(vals)
    else:
        ids, keys, vals, seen = [], [], [], 0
    for pdf in pdfs:
        seen += len(pdf)
        for eid, hk, val in zip(pdf["event_id"], pdf["hkey"], pdf["value"]):
            ids.append(int(eid))
            keys.append(str(hk))
            vals.append(float(val))
        order = sorted(range(len(ids)), key=lambda i: (keys[i], ids[i]))[
            :SQ_SAMPLE_K
        ]
        ids = [ids[i] for i in order]
        keys = [keys[i] for i in order]
        vals = [vals[i] for i in order]
    state.update((ids, keys, vals, seen))
    k = len(vals)
    if k == 0:
        return
    svals = sorted(vals)
    rows = {"event_type": [], "q": [], "est_value": [], "n_sample": [], "n_seen": []}
    for num, den in SQ_QS:
        r = max((num * k + den - 1) // den, 1)  # ceil(q*k), integer-exact
        rows["event_type"].append(event_type)
        rows["q"].append(num / den)
        rows["est_value"].append(svals[r - 1])
        rows["n_sample"].append(k)
        rows["n_seen"].append(seen)
    yield pd.DataFrame(rows)


@register(
    "s14r_stream_sample_quantiles",
    # The bottom-k hash sample is a MERGEABLE MINIMUM (top-k of a union =
    # top-k of per-part top-k's, the s14p/x109 argument), so the stream
    # result is byte-identical to the batch query under ANY batching — a
    # stateful streaming QUANTILE operator with a full SQL oracle, the
    # hash-green sibling the rows-only s14o/x100 sketch family lacked
    # (round-9 verdict task #4).
    oracle=f"""
WITH keyed AS (
  SELECT event_type, event_id, value,
         md5('sq:' || CAST(event_id AS VARCHAR)) AS hkey
  FROM events
),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY hkey, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n_seen
  FROM keyed
),
sample AS (
  SELECT event_type, value, n_seen FROM ranked WHERE rk <= {SQ_SAMPLE_K}
),
vr AS (
  SELECT event_type, value, n_seen,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS vrank,
         COUNT(*) OVER (PARTITION BY event_type) AS n_sample
  FROM sample
),
qs(qn, qd) AS (VALUES {', '.join(f'({n}, {d})' for n, d in SQ_QS)})
SELECT v.event_type,
       CAST(qs.qn AS DOUBLE) / qs.qd AS q,
       v.value AS est_value,
       CAST(v.n_sample AS INT) AS n_sample,
       CAST(v.n_seen AS BIGINT) AS n_seen
FROM vr v JOIN qs
  ON v.vrank = greatest((qs.qn * v.n_sample + qs.qd - 1) // qs.qd, 1)
""",
    doc="S14r: STREAMING sample quantiles with a FULL SQL oracle — the "
    "hash-verified sibling of the rows-only s14o sketch (round-9 verdict "
    "task #4): per event_type, GroupState retains the k=256 rows with "
    "the SMALLEST md5('sq:'||event_id) keys (a bottom-k hash sample — "
    "uniform without coordination, and a mergeable minimum: bottom-k of "
    "a union is the bottom-k of per-batch bottom-k's, Efraimidis-"
    "Spirakis §3 symmetric to s14p's top-k), and each update emits the "
    "sample order statistics at q in {{0.1..0.99}}, rank ceil(q*k) "
    "computed as the exact integer rational (qn*k + qd - 1) DIV qd in "
    "BOTH engines — no float rank anywhere, values pass through "
    "untouched from parquet. Because the retained set is a pure "
    "function of event_ids (batching- and order-independent), the "
    "stream result is byte-identical to the batch/oracle query — "
    "unlike a compaction sketch, whose summary depends on batch "
    "boundaries. State per key is k (id, key, value) triples, constant "
    "in stream length; sample error is the classic O(1/sqrt(k)) rank "
    "error with high probability. The final filter keeps the newest "
    "emission per key (max n_seen), the s14p presentation contract.",
)
def s14r_stream_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window as W

    stream = events_stream(spark, sf_dir)

    out = (
        stream.select(
            "event_type",
            "event_id",
            "value",
            # the sample key, JVM-side (same expression as the oracle)
            F.md5(
                F.concat(F.lit("sq:"), F.col("event_id").cast("string"))
            ).alias("hkey"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
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
    )
    emitted = _run_to_memory(out, "update")
    latest = W.partitionBy("event_type").orderBy(F.col("n_seen").desc())
    return (
        emitted.withColumn("max_seen", F.max("n_seen").over(latest))
        .filter(F.col("n_seen") == F.col("max_seen"))
        .select("event_type", "q", "est_value", "n_sample", "n_seen")
    )


@register(
    "s14q_stream_checkpoint_recovery",
    # Exactly-once resume makes the final MV equal the batch aggregate, so
    # the recovery scenario carries a full SQL oracle.
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
FROM events
GROUP BY event_type
""",
    doc="S14q: CHECKPOINT RECOVERY — the property streaming correctness "
    "actually rests on, executed end to end: the events table is staged "
    "as two files; run 1 streams file A into a foreachBatch MV merge "
    "under a checkpoint; run 2 starts a NEW query against the SAME "
    "checkpoint after file B lands, and the file-source offset log "
    "replays NOTHING from A — only B's rows merge (per-epoch processed "
    "counts are journaled and the no-reprocessing claim is pinned in "
    "tests/test_stream_recovery.py). Because resume is exactly-once, "
    "the final MV is byte-equal to the batch aggregate over the whole "
    "table — a full SQL oracle for a crash-recovery scenario. Scale: "
    "this is the operational shape of every production stream (restart "
    "beats rewind); state is the MV itself, merge cost is per-batch "
    "partials, and the checkpoint holds offsets, not data.",
)
def s14q_stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os
    import shutil

    from presto_weather_spark.session import load_table as _load

    base = _os.path.join(
        scratch_root(),
        "pws_stream_recovery",
        _os.path.basename(_os.path.normpath(sf_dir)),
    )
    shutil.rmtree(base, ignore_errors=True)
    stream_dir = _os.path.join(base, "in")
    mv_path = _os.path.join(base, "mv")
    ckpt = _os.path.join(base, "ckpt")
    journal = _os.path.join(base, "journal.jsonl")
    _os.makedirs(stream_dir, exist_ok=True)

    e = _load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # two arrival waves: A (even ids) lands before the first run, B after
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(_os.path.join(stream_dir, "wave_a"))

    schema = "event_id bigint, event_type string, value double"

    def merge_into_mv(batch_df: DataFrame, epoch_id: int) -> None:
        delta = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value_dec"),
        )
        if _os.path.isdir(mv_path):
            merged = (
                batch_df.sparkSession.read.parquet(mv_path)
                .unionByName(delta)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_value_dec").alias("sum_value_dec"),
                )
            )
        else:
            merged = delta
        tmp = f"{mv_path}_epoch{epoch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if _os.path.isdir(mv_path):
            shutil.rmtree(mv_path)
        _os.replace(tmp, mv_path)
        with open(journal, "a") as fh:
            fh.write(_json.dumps({"epoch": int(epoch_id), "rows": batch_df.count()}) + "\n")

    def run_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(stream_dir)
        )
        _run_stream(spark, stream.writeStream.foreachBatch(merge_into_mv), ckpt)

    run_once()  # processes wave A only
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(_os.path.join(stream_dir, "wave_b"))
    run_once()  # SAME checkpoint: must replay nothing, merge only wave B

    return (
        spark.read.parquet(mv_path)
        .select(
            "event_type",
            "n_events",
            F.round(F.col("sum_value_dec").cast("double"), 6).alias("total_value"),
        )
        .localCheckpoint()
    )


def recovery_journal_path(sf_dir: str) -> str:
    """Where s14q journals per-epoch processed row counts (for the
    no-reprocessing pin in tests/test_stream_recovery.py)."""
    import os as _os

    return _os.path.join(
        scratch_root(),
        "pws_stream_recovery",
        _os.path.basename(_os.path.normpath(sf_dir)),
        "journal.jsonl",
    )


# ---------------------------------------------------------------------------
# Exactly-once foreachBatch sink with an explicit commit protocol
# ---------------------------------------------------------------------------
#
# s24 proves exactly-once through Spark's built-in file sink, whose
# write->commit window lives inside _spark_metadata and cannot be crashed
# deterministically from a test. This helper makes the same two-phase
# protocol explicit (the board_sink.py task-commit pattern, lifted to
# foreachBatch): phase 1 writes the batch under an attempt-unique directory,
# phase 2 fsync-appends a manifest record naming that attempt. Readers
# consume ONLY manifest paths, so a crash between the phases leaves an
# orphan data directory that is invisible to readers, and the replayed
# batch (same batch_id, offsets uncommitted) commits exactly once.
# `fail_after_write_on_batch` is the planted mid-batch hard-kill for
# tests/test_stream_crash.py.


def exactly_once_sink_run(
    out: DataFrame, base: str, fail_after_write_on_batch: int | None = None
) -> None:
    """Drive ``out`` (availableNow) through the two-phase foreachBatch sink
    rooted at ``base``; raises if the planted crash fires."""
    import json as _json

    data_dir = os.path.join(base, "data")
    manifest = os.path.join(base, "manifest.jsonl")
    os.makedirs(data_dir, exist_ok=True)
    # Persist the sink schema up front (before any batch runs) so the
    # reader can return a correctly-typed EMPTY frame when a crash leaves
    # the manifest empty — a hardcoded fallback schema would break any
    # projection other than the one it guessed (round-8 ADVICE item).
    schema_path = os.path.join(base, "_schema.json")
    with open(schema_path, "w") as f:
        f.write(out.schema.json())

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        committed = set()
        if os.path.exists(manifest):
            committed = {
                _json.loads(line)["batch_id"]
                for line in open(manifest)
                if line.strip()
            }
        if batch_id in committed:
            return  # replay of a committed batch: exactly-once no-op
        # phase 1: attempt-unique data write (never overwrites a previous
        # attempt — object-store semantics, no atomic rename assumed)
        attempt = os.path.join(
            data_dir, f"batch={batch_id}", f"attempt-{uuid.uuid4().hex[:8]}"
        )
        bdf.write.mode("overwrite").parquet(attempt)
        if fail_after_write_on_batch == batch_id:
            raise RuntimeError(
                "planted crash: after the batch data write, before commit"
            )
        # phase 2: fsync-appended commit record — the atomic commit point
        with open(manifest, "a") as f:
            f.write(_json.dumps({"batch_id": batch_id, "path": attempt}) + "\n")
            f.flush()
            os.fsync(f.fileno())

    _run_stream(
        out.sparkSession,
        out.writeStream.foreachBatch(write_batch),
        os.path.join(base, "ckpt"),
    )


def exactly_once_sink_read(spark: SparkSession, base: str) -> DataFrame:
    """The reader half of the protocol: committed manifest paths only —
    orphan attempt directories from crashed batches are invisible."""
    import json as _json

    manifest = os.path.join(base, "manifest.jsonl")
    paths = (
        [
            _json.loads(line)["path"]
            for line in open(manifest)
            if line.strip()
        ]
        if os.path.exists(manifest)
        else []
    )
    if not paths:
        # Empty manifest (fresh sink, or crash before the first commit):
        # use the schema the writer persisted at start-up so selections /
        # unions against the real sink projection still analyze. The
        # legacy single-column fallback only fires when no _schema.json
        # exists (a pre-round-9 sink directory).
        schema_path = os.path.join(base, "_schema.json")
        if os.path.exists(schema_path):
            from pyspark.sql.types import StructType

            with open(schema_path) as f:
                return spark.createDataFrame(
                    [], StructType.fromJson(_json.loads(f.read()))
                )
        return spark.createDataFrame([], "event_id bigint")
    return spark.read.parquet(*paths)


# ---------------------------------------------------------------------------
# S14s — streaming windowed top-k (heavy hitters per tumbling window)
# ---------------------------------------------------------------------------

TOPK_PER_WINDOW = 3


@register(
    "s14s_stream_windowed_topk",
    oracle=f"""
WITH counts AS (
  SELECT CAST(date_trunc('second', TIMESTAMP '1970-01-01 00:00:00'
              + CAST((epoch_us(ts) // {WINDOW_SECONDS * 1000000})
                     * {WINDOW_SECONDS} AS BIGINT)
              * INTERVAL 1 SECOND) AS VARCHAR) AS window_start,
         event_type, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type) AS rnk
  FROM counts
)
SELECT window_start, event_type, n_events, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {TOPK_PER_WINDOW}
""",
    doc="S14s: STREAMING windowed top-k — the per-window heavy-hitters "
    "board a monitoring pipeline serves (which event types dominate "
    "each 6h window): the streamed watermarked tumbling-count MV (the "
    "s14 aggregate) lands in the sink, and the serving-side rank takes "
    f"the top {TOPK_PER_WINDOW} per window under the deterministic "
    "(count DESC, event_type) order — exact counts, so unlike the x26 "
    "frequency sketch there is no approximation to audit, and the "
    "result is batch-equivalent with a full SQL oracle (the s14r "
    "argument: a streamed exact aggregate is batching-invariant). "
    "Scale: in complete mode the streaming state IS the MV — windows x "
    "event types, growing with the stream's TIME SPAN, not its event "
    "volume (production bounds served history by retention, the s14n "
    "note; append+watermark would bound state but never emits the "
    "still-open final window, breaking batch equivalence). The serving "
    "rank runs on that MV, never on event rows, and its "
    "WindowGroupLimit prunes each window to k before the sort.",
)
def s14s_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", f"{WINDOW_SECONDS} seconds").alias("win"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )
    mv = _run_to_memory(agg, "complete")
    w = W.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        mv.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK_PER_WINDOW)
        .select("window_start", "event_type", "n_events", "rnk")
    )


@register(
    "s14t_statestore_read",
    oracle=f"""
SELECT CAST(date_trunc('second', TIMESTAMP '1970-01-01 00:00:00'
                + CAST((epoch_us(ts) // {WINDOW_SECONDS}000000) * {WINDOW_SECONDS} AS BIGINT) * INTERVAL 1 SECOND) AS VARCHAR) AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
""",
    doc="S14t: state-store introspection — Spark 4's `statestore` batch "
    "source reads a streaming checkpoint's state AS A DATAFRAME. The key "
    "drives the tumbling-count MV (the s14 aggregate, complete mode) to "
    "completion against a durable checkpoint, then returns the state "
    "store's contents — (window, event_type) keys with their running "
    "counts — rather than the sink's. Because complete-mode aggregation "
    "state IS the MV, the state contents equal the batch aggregate, so "
    "the debugging surface itself is driver-hash-verified against plain "
    "SQL (no other key checks state VALUES; the probes check state "
    "SIZE). Operationally this is how a 100-TB deployment answers 'why "
    "is this window's count wrong' or 'what keys dominate my 2 TB of "
    "state' — query the store offline, no stream restart, reads "
    "parallelized per state-store partition.",
)
def s14t_statestore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", f"{WINDOW_SECONDS} seconds").alias("win"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    ckpt = os.path.join(
        scratch_root(),
        "pws_s14t_ckpt",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    _run_to_memory(agg, "complete", ckpt)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.date_format(F.col("key.window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
    )
