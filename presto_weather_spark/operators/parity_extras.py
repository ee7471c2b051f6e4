"""Reference-parity extras and sink/session-window coverage.

Completes the SURVEY.md §2 rows that were exercised only inside the flagship
pipeline, as individually judged queries:

- R9-R12 (display formatting: numeric round-to-string, templating, suffix
  substring, null fallback — /root/reference/weather.py:268,301,306,264-265)
- R18 (running offset = cumulative sum over prior rows —
  /root/reference/weather.py:233-238)
- S2 (a real write sink: parquet roundtrip, the engine-side analogue of the
  reference's display flush at /root/reference/weather.py:308)
- S14 session windows (gap-based sessionization, the event-time counterpart
  of the reference's latest-value refresh loop)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_weather_spark.functions.formatting import iso_minute
from presto_weather_spark.operators._util import materialize, sql_dsum
from presto_weather_spark.registry import register
from presto_weather_spark.session import load_table, local_rows, stage_dir


@register(
    "r09_12_display_formatting",
    oracle="""
SELECT event_id,
       CASE WHEN event_type = 'error' THEN '--'
            ELSE CAST(CAST(round(value * 100) AS BIGINT) // 100 AS VARCHAR)
            END AS temp_display,
       'Chance of rain: ' ||
         CAST(CAST(round(value * 100) AS BIGINT) // 100 AS VARCHAR)
         || '%' AS rain_line,
       right(printf('%04d-%02d-%02dT%02d:%02d', year(ts), month(ts), day(ts),
                    hour(ts), minute(ts)), 5) AS updated_hhmm
FROM events
WHERE event_id < 500
""",
    doc="R9-R12 parity: round-to-int display string (weather.py:268), "
    "string templating (weather.py:301), HH:MM suffix of the ISO timestamp "
    "(weather.py:306), and the '--' null fallback (weather.py:264-265). "
    "Display truncation runs in INTEGER space (cents DIV 100 — events. "
    "value is a positive 2dp reading, so this equals floor exactly): "
    "printf('%.0f') rounding modes differ across engines (half-even vs "
    "half-up), and float floor is type-divergent (DuckDB double, Spark "
    "bigint); exact cents are neither.",
)
def r09_12_display_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    # cents DIV 100 equals floor ONLY for value >= 0 (truncation rounds
    # toward zero): enforce the positivity assumption loudly (x141
    # pattern) so a future fixture with negative readings (temperatures)
    # cannot silently shift display from floor(-3.5)=-4 to trunc=-3 —
    # a drift both engines would share, invisible to the parity hash.
    as_int_str = F.expr(
        "CASE WHEN value < 0 THEN raise_error("
        "'r09_12: display truncation assumes value >= 0 — negative "
        "readings need floor, not DIV') "
        "ELSE CAST(round(value * 100) AS BIGINT) DIV 100 END"
    ).cast("string")
    # engine-shared rendering (registry.py determinism notes): the ISO
    # string is printf'd from integer date parts, not a format function —
    # keeps the R11 suffix-slice parity while removing the strftime/
    # date_format pattern-language divergence class entirely.
    iso = iso_minute("ts")
    return e.select(
        "event_id",
        # weather.py:264-265: None -> '--'; the 'error' type plays the
        # missing-reading role (driver events have no NULL values).
        F.when(F.col("event_type") == "error", F.lit("--"))
        .otherwise(as_int_str)
        .alias("temp_display"),
        F.concat(F.lit("Chance of rain: "), as_int_str, F.lit("%")).alias("rain_line"),
        # weather.py:306 is updated[-5:]; substring(-5, 5) is the direct
        # Spark spelling of that suffix slice.
        F.substring(iso, -5, 5).alias("updated_hhmm"),
    )


@register(
    "r18_running_offset",
    oracle="""
SELECT l_orderkey,
       l_linenumber,
       l_quantity,
       CAST(COALESCE(SUM(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) AS offset_qty
FROM lineitem
WHERE l_orderkey < 2000
""",
    doc="R18 parity: each row placed at the running sum of *prior* row "
    "widths (weather.py:233-238, the draw-cursor advance) — a window SUM "
    "over ROWS UNBOUNDED PRECEDING .. 1 PRECEDING with 0 for the first "
    "row. lineitem has duplicate (orderkey, linenumber) pairs, so the "
    "ordering uses the full composite key for determinism.",
)
def r18_running_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(
            "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        # quantities are integer-valued: sum BIGINTs (risk burn-down —
        # exact in both engines, no double accumulation order to reason about)
        F.coalesce(
            F.sum(F.col("l_quantity").cast("bigint")).over(w), F.lit(0)
        ).alias("offset_qty"),
    )


@register(
    "s02_parquet_sink_roundtrip",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY o_orderpriority
""",
    doc="S2: a real write sink — aggregate, write parquet, read it back and "
    "return the re-read result (proves the sink preserves schema + values; "
    "the engine analogue of the reference's display flush, weather.py:308). "
    "At scale the write is the shuffle boundary: output partitioning (here "
    "a single small aggregate) is what downstream consumers inherit.",
)
def s02_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.operators._util import dsum

    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )
    out = stage_dir("sink_roundtrip", sf_dir)
    agg.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


# s14d/s14j oracle CTE: each user's session number sess_id, the running
# sum of o(user_id, ts, new_sess)'s session starts in ts order.
SQL_SESSION_IDS = """s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM o
)"""


@register(
    "s14d_session_window",
    oracle=f"""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 14400
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
{SQL_SESSION_IDS}
SELECT user_id,
       CAST(date_trunc('second', MIN(ts)) AS VARCHAR) AS session_start,
       CAST(date_trunc('second', MAX(ts)) AS VARCHAR) AS session_end,
       COUNT(*) AS n_events
FROM s
GROUP BY user_id, sess_id
""",
    doc="S14: gap-based sessionization — Spark's native session_window "
    "(dynamic-gap merging aggregate, 4h gap) vs the classic gaps-and-"
    "islands SQL. Outputs are timestamps+counts only: exact types, no "
    "float-ordering risk. In streaming the same expression runs with a "
    "watermark; batch mode proves the session semantics.",
)
def s14d_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "4 hours").alias("sw"))
        .agg(
            F.min("ts").alias("mn"),
            F.max("ts").alias("mx"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("mn", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("mx", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


# R19: the reference's draw_icon router (weather.py:205-219) — a 7-way
# if/elif on the icon class selecting a drawing routine. The dispatch table
# below encodes, per icon, the routine name, the primary pen RGB it sets
# first, and whether it composes on the cloud base shape (rain/snow/storm/
# fog all call draw_cloud first — weather.py:163-196).
ICON_DISPATCH: list[tuple[str, str, str, bool]] = [
    ("sun", "draw_sun", "255,220,0", False),
    ("cloud", "draw_cloud", "220,220,230", True),
    ("rain", "draw_rain", "100,180,255", True),
    ("snow", "draw_snow", "255,255,255", True),
    ("storm", "draw_storm", "255,220,0", True),
    ("fog", "draw_fog", "180,180,200", True),
]
_UNKNOWN_DISPATCH = ("draw_unknown", "255,255,255", False)


def _r19_oracle() -> str:
    from presto_weather_spark.functions.weather import code_sql, icon_case_sql

    def case_over(idx: int, default, quote: bool = True) -> str:
        fmt = (lambda v: f"'{v}'") if quote else (lambda v: str(v).upper())
        whens = "\n         ".join(
            f"WHEN icon = '{icon}' THEN {fmt((fn, rgb, base)[idx])}"
            for icon, fn, rgb, base in ICON_DISPATCH
        )
        return f"CASE {whens} ELSE {fmt(default)} END"

    u_fn, u_rgb, u_base = _UNKNOWN_DISPATCH
    return f"""
WITH coded AS (
  SELECT event_id, {code_sql('event_id')} AS code FROM events
),
classified AS (
  SELECT event_id, {icon_case_sql('code')} AS icon FROM coded
)
SELECT event_id, icon,
       {case_over(0, u_fn)} AS routine,
       {case_over(1, u_rgb)} AS pen_rgb,
       {case_over(2, u_base, quote=False)} AS on_cloud_base
FROM classified
"""


@register(
    "r19_icon_dispatch",
    oracle=_r19_oracle(),
    doc="R19 parity: category dispatch — the reference's 7-way if/elif "
    "icon router (/root/reference/weather.py:205-219) as a CASE selecting "
    "the rendering routine plus its pen color and cloud-base flag. Pure "
    "codegen CASE over the 6-row dispatch table; at any scale this is a "
    "scan-local expression, zero shuffles.",
)
def r19_icon_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.functions.weather import code_expr, icon_case_expr

    events = load_table(spark, sf_dir, "events")
    coded = events.select(
        "event_id", code_expr(F.col("event_id")).alias("code")
    ).select("event_id", "code", icon_case_expr(F.col("code")).alias("icon"))

    routine = None
    pen = None
    base = None
    for icon, fn, rgb, has_base in ICON_DISPATCH:
        cond = F.col("icon") == icon
        routine = F.when(cond, fn) if routine is None else routine.when(cond, fn)
        pen = F.when(cond, rgb) if pen is None else pen.when(cond, rgb)
        base = F.when(cond, has_base) if base is None else base.when(cond, has_base)
    u_fn, u_rgb, u_base = _UNKNOWN_DISPATCH
    return coded.select(
        "event_id",
        "icon",
        routine.otherwise(F.lit(u_fn)).alias("routine"),
        pen.otherwise(F.lit(u_rgb)).alias("pen_rgb"),
        base.otherwise(F.lit(u_base)).alias("on_cloud_base"),
    )


@register(
    "s01b_csv_roundtrip",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders
WHERE o_orderkey < 5000
""",
    doc="S1/S2: CSV source + sink — project a slice of orders, write it as "
    "headered CSV, read it back with an explicit schema (no inference "
    "scan) and return the re-read frame. Doubles survive because Spark "
    "writes the shortest round-trippable decimal form. At scale CSV is "
    "the interchange-only path — splittable but schema-less and "
    "row-parsed; parquet stays the storage format (s02).",
)
def s01b_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 5000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    out = stage_dir("csv_roundtrip", sf_dir)
    o.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema(
        "o_orderkey bigint, o_orderpriority string, o_totalprice double"
    ).option("header", True).csv(out)


@register(
    "s01e_xml_roundtrip",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal
FROM customer
WHERE c_custkey < 500
""",
    doc="S1/S2: XML source + sink (native in Spark 4, no external package) "
    "— project a customer slice, write it as rowTag-delimited XML, read "
    "it back with an explicit schema and return the re-read frame. "
    "Doubles survive the stringify/parse cycle exactly (same shortest "
    "round-trippable rendering as CSV, s01b), and an EMPTY slice "
    "round-trips to an empty typed frame (the writer still emits the "
    "rootTag document). At scale XML is interchange-only — row-parsed "
    "and verbose, but splittable by rowTag, so ingestion parallelizes; "
    "parquet remains the storage format (s02).",
)
def s01e_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 500)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    out = stage_dir("xml_roundtrip", sf_dir)
    c.write.mode("overwrite").format("xml").option("rootTag", "customers").option(
        "rowTag", "customer"
    ).save(out)
    return (
        spark.read.schema("c_custkey bigint, c_mktsegment string, c_acctbal double")
        .option("rowTag", "customer")
        .format("xml")
        .load(out)
    )


@register(
    "s02b_partitioned_write_pruning",
    oracle="""
SELECT event_id, user_id, round(value, 6) AS value, event_type
FROM events
WHERE event_type IN ('click', 'purchase')
""",
    doc="S2/S3: hive-partitioned parquet sink + partition-pruned read — "
    "events written partitionBy(event_type); the read-back filter on the "
    "partition column prunes directories before any IO (PartitionFilters "
    "in the scan node, vs PushedFilters for row groups). At 100 TB this "
    "is THE layout lever: a pruned partition costs zero bytes read.",
)
def s02b_partitioned_write_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 6).alias("value"), "event_type"
    )
    out = stage_dir("part_write", sf_dir)
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # explicit schema on read-back: an EMPTY source writes no part files
    # and schema inference would fail — the writer's schema IS the
    # contract either way (and inference is a production anti-pattern)
    back = spark.read.schema(e.schema).parquet(out)
    return back.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "value", "event_type"
    )


@register(
    "r13_error_absorbing_parse",
    oracle="""
WITH payloads(station_id, body) AS (
  VALUES (1, '{"current": {"temperature_2m": 13.4, "weather_code": 3}}'),
         (2, '{"current": {"temperature_2m": -2.0, "weather_code": 71}}'),
         (3, '{broken json'),
         (4, ''),
         (5, '{"current": {"weather_code": 95}}')
)
, parsed AS (
  SELECT station_id,
         CASE WHEN json_valid(body) THEN body END AS jbody
  FROM payloads
)
SELECT station_id,
       COALESCE(printf('%.0f', CAST(json_extract(jbody, '$.current.temperature_2m') AS DOUBLE)), '--') AS temp_display,
       CAST(CAST(json_extract(jbody, '$.current.weather_code') AS DOUBLE) AS INT) AS weather_code,
       json_extract(jbody, '$.current') IS NULL AS is_error
FROM parsed
""",
    doc="R13: error-absorbing parse — the reference's per-tick try/except "
    "(/root/reference/weather.py:325-331: any failure renders an error "
    "record, never crashes the loop) as a set operation: PERMISSIVE "
    "from_json turns corrupt payloads into NULL rows, the null-fallback "
    "projection (R12, weather.py:264-265) renders '--', and is_error "
    "routes bad records — per-ROW tolerance, so one poison record in "
    "100 TB cannot fail a job (the scale analogue of mode=PERMISSIVE + "
    "_corrupt_record on file sources).",
)
def r13_error_absorbing_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        (1, '{"current": {"temperature_2m": 13.4, "weather_code": 3}}'),
        (2, '{"current": {"temperature_2m": -2.0, "weather_code": 71}}'),
        (3, "{broken json"),
        (4, ""),
        (5, '{"current": {"weather_code": 95}}'),
    ]
    df = local_rows(spark, rows, "station_id int, body string")
    parsed = F.from_json(  # PERMISSIVE (default): corrupt input -> NULL struct
        F.col("body"),
        "struct<current: struct<temperature_2m: double, weather_code: double>>",
    )
    temp = parsed["current"]["temperature_2m"]
    # from_json (PERMISSIVE) yields an all-NULL struct for malformed input,
    # so "record absent" is `current IS NULL`, not `parsed IS NULL`; and
    # format_string does not NULL-propagate, so the R12 fallback must be an
    # explicit null test rather than coalesce.
    return df.select(
        "station_id",
        F.when(temp.isNull(), "--")
        .otherwise(F.format_string("%.0f", temp))
        .alias("temp_display"),
        parsed["current"]["weather_code"].cast("int").alias("weather_code"),
        parsed["current"].isNull().alias("is_error"),
    )


@register(
    "s01c_orc_roundtrip",
    oracle="""
SELECT c_custkey, c_name, c_acctbal, c_nationkey
FROM customer
WHERE c_acctbal > 0
""",
    doc="S1/S2: ORC source + sink — project positive-balance customers, "
    "write ORC, read back and return the re-read frame. ORC is Spark's "
    "second first-class columnar format (vectorized reader, predicate "
    "pushdown, splittable stripes) — same scan-time pruning guarantees as "
    "parquet (s02), exercised here so format choice is a config, not a "
    "code change.",
)
def s01c_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    )
    out = stage_dir("orc_roundtrip", sf_dir)
    c.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@register(
    "s36_custom_sink_roundtrip",
    oracle="""
SELECT event_id, user_id, event_type,
       round(value, 6) AS value,
       CAST(date_trunc('second', ts) AS VARCHAR) AS ts_str
FROM events
WHERE event_type IN ('click', 'purchase')
""",
    doc="S2/S36: custom Python DataSource WRITER roundtrip — the "
    "reference's display render path (weather.py:214-273) as a real V2 "
    "sink connector: format('weather_board') writes JSON-lines display "
    "frames with the two-phase task-commit protocol (temp file per "
    "task, driver-side rename-on-commit, delete-on-abort), so readers "
    "never see a torn write. Read-back equality with the source "
    "projection proves the sink is lossless and the commit published "
    "every task's output exactly once. Completes the connector matrix: "
    "custom batch reader (r01/r02), custom stream reader (r21), custom "
    "batch writer (here).",
)
def s36_custom_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import types as T

    from presto_weather_spark.sources.board_sink import register_board_sink

    register_board_sink(spark)
    out = stage_dir("board_sink", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    frames = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        )
    )
    frames.write.format("weather_board").mode("append").option("path", out).save()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts_str", T.StringType()),
        ]
    )
    return spark.read.schema(schema).json(f"{out}/*.jsonl")


@register(
    "s43_format_federated_union",
    oracle="""
SELECT o_orderkey AS record_key, 'parquet' AS fmt, round(o_totalprice, 2) AS amount
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT o_orderkey, 'csv', round(o_totalprice, 2)
FROM orders WHERE o_orderkey % 3 = 1
UNION ALL
SELECT o_orderkey, 'orc', round(o_totalprice, 2)
FROM orders WHERE o_orderkey % 3 = 2
""",
    doc="S43: FORMAT-FEDERATED union — one logical table whose shards live "
    "in three physical formats (parquet, CSV, ORC), read through their "
    "own connectors and unioned by name into a single frame: the "
    "data-lake reality where history sits in legacy CSV exports, the "
    "warm tier in ORC from an old Hive pipeline, and the current tier "
    "in parquet. Each branch keeps its own pushdown capabilities "
    "(parquet/ORC prune + push predicates; CSV at least prunes "
    "columns), and Catalyst plans the union's branches independently — "
    "adding a format never rewrites the query. The oracle replays the "
    "three-way split from the source table.",
)
def s43_format_federated_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = stage_dir("federated", sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("record_key"),
        F.round("o_totalprice", 2).alias("amount"),
    )
    shards = {
        "parquet": o.filter(F.col("record_key") % 3 == 0),
        "csv": o.filter(F.col("record_key") % 3 == 1),
        "orc": o.filter(F.col("record_key") % 3 == 2),
    }
    shards["parquet"].write.mode("overwrite").parquet(f"{base}/parquet")
    shards["csv"].write.mode("overwrite").option("header", True).csv(f"{base}/csv")
    shards["orc"].write.mode("overwrite").orc(f"{base}/orc")
    pq = spark.read.parquet(f"{base}/parquet").withColumn("fmt", F.lit("parquet"))
    cs = (
        spark.read.schema("record_key bigint, amount double")
        .option("header", True)
        .csv(f"{base}/csv")
        .withColumn("fmt", F.lit("csv"))
    )
    oc = spark.read.orc(f"{base}/orc").withColumn("fmt", F.lit("orc"))
    return pq.unionByName(cs).unionByName(oc).select("record_key", "fmt", "amount")


@register(
    "s44_csv_malformed_modes",
    oracle="""
WITH rows(line_no, record_key, amount, corrupt) AS (
  VALUES (1, 101, 12.5, FALSE),
         (2, NULL, NULL, TRUE),
         (3, 103, 7.25, FALSE),
         (4, NULL, NULL, TRUE),
         (5, 105, 99.0, FALSE)
)
SELECT CAST(SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
       CAST(SUM(CASE WHEN NOT corrupt THEN amount ELSE 0 END)
            AS DECIMAL(18,2)) AS good_amount
FROM rows
""",
    doc="S44: MALFORMED-RECORD handling — the ingest-robustness contract "
    "for text formats: a CSV with planted corrupt lines is read in "
    "PERMISSIVE mode (bad rows null-filled and captured verbatim in "
    "_corrupt_record for a quarantine table) and cross-checked against "
    "DROPMALFORMED (bad rows silently gone — good count must agree). "
    "The report is good/corrupt counts plus the good-row control "
    "total; at 100 TB the quarantine column is what makes bad input "
    "debuggable without re-reading the source (the badRecordsPath "
    "pattern with the same semantics). The reference's equivalent is "
    "absorbing malformed JSON per tick (weather.py:325-331, r13's "
    "batch twin).",
)
def s44_csv_malformed_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw_dir = stage_dir("malformed", sf_dir)
    with open(os.path.join(raw_dir, "feed.csv"), "w") as f:
        f.write(
            "record_key,amount\n"
            "101,12.5\n"
            "not-a-number,oops,extra\n"
            "103,7.25\n"
            "garbage-line-without-comma-value\n"
            "105,99.0\n"
        )
    schema = "record_key bigint, amount double, _corrupt_record string"
    permissive = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(raw_dir)
        .cache()  # one pass feeds both counts; Spark requires caching when
        # filtering on the corrupt-record column alone (SPARK-21610)
    )
    n_good = permissive.filter(F.col("_corrupt_record").isNull()).count()
    n_corrupt = permissive.filter(F.col("_corrupt_record").isNotNull()).count()
    dropped = (
        spark.read.schema("record_key bigint, amount double")
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(raw_dir)
    )
    # A bare count() short-circuits CSV parsing (rows are counted without
    # being parsed, so DROPMALFORMED never fires — a classic CSV-mode
    # trap); referencing a data column forces the parse.
    n_dropped_mode = dropped.filter(
        F.col("record_key").isNotNull() | F.col("amount").isNotNull()
    ).count()
    assert n_dropped_mode == n_good, "PERMISSIVE and DROPMALFORMED disagree"
    good_amount = (
        permissive.filter(F.col("_corrupt_record").isNull())
        .agg(F.sum(F.col("amount").cast("decimal(18,2)")).alias("s"))
        .first()["s"]
    )
    permissive.unpersist()
    return local_rows(
        spark,
        [(n_good, n_corrupt, good_amount)],
        "n_good bigint, n_corrupt bigint, good_amount decimal(18,2)",
    )


@register(
    "s01d_jsonl_roundtrip",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_custkey < 3000
""",
    doc="S1/S2: JSON Lines source + sink — project a customer slice, "
    "write it as newline-delimited JSON, read it back with an explicit "
    "schema (no inference scan — at scale schema inference is a full "
    "extra pass) and return the re-read frame. Doubles survive because "
    "Spark emits the shortest round-trippable decimal form; the "
    "round(.., 2) happens BEFORE the write so the JSON carries exact "
    "2dp values. JSONL is splittable (one record per line) so reads "
    "parallelize like CSV; parquet remains the storage format (s02) — "
    "this is the interchange/ingest path.",
)
def s01d_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 3000)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
    )
    out = stage_dir("jsonl_roundtrip", sf_dir)
    c.write.mode("overwrite").json(out)
    return spark.read.schema(
        "c_custkey bigint, c_name string, c_mktsegment string, acctbal double"
    ).json(out)


@register(
    "s75_dynamic_partition_pruning",
    oracle="""
WITH stages(event_type, funnel_stage) AS (
  VALUES ('view', 'awareness'), ('click', 'conversion'),
         ('purchase', 'conversion'), ('signup', 'acquisition'),
         ('logout', 'retention')
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
FROM events e
JOIN stages ON stages.event_type = e.event_type
WHERE stages.funnel_stage = 'conversion'
GROUP BY e.event_type
""",
    doc="S75: DYNAMIC partition pruning — s02b prunes on a literal "
    "predicate the planner sees; this is the join-driven case: the "
    "fact is laid out partitionBy(event_type), the filter lives on a "
    "DIMENSION attribute (funnel_stage = 'conversion'), so which fact "
    "partitions survive is unknowable at plan time. Spark inserts a "
    "DynamicPruningSubquery: the broadcast dim executes first and its "
    "surviving join keys prune fact DIRECTORIES before any fact IO — "
    "at 100 TB the difference between scanning 2 of N partitions and "
    "scanning all of them, with no literal predicate anywhere. The "
    "dynamicpruning expression in the scan's PartitionFilters is "
    "plan-asserted; value sums ride DECIMAL for order-exactness.",
)
def s75_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    out = stage_dir("dpp_fact", sf_dir)
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # explicit read-back schema (the s02b convention): an empty source
    # writes no part files and inference would fail
    fact = spark.read.schema(e.schema).parquet(out)
    stages = local_rows(
        spark,
        [
            ("view", "awareness"),
            ("click", "conversion"),
            ("purchase", "conversion"),
            ("signup", "acquisition"),
            ("logout", "retention"),
        ],
        "event_type string, funnel_stage string",
    ).transform(materialize, "barrier")
    # The barrier keeps the dim a scan under its filter: over the bare
    # LocalTableScan the optimizer folds the filter into the rows, which
    # leaves no dimension predicate for DPP to prune on.
    dim = stages.filter(F.col("funnel_stage") == "conversion")
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("total_value"),
        )
    )


@register(
    "x118_pseudonymized_export",
    oracle="""
SELECT event_id,
       substr(sha256('pws:' || CAST(user_id AS VARCHAR)), 1, 16) AS pseudo_user,
       event_type,
       CAST(CAST(ts AS DATE) AS VARCHAR) AS day
FROM events
""",
    doc="X118: pseudonymized EXPORT — the privacy-preserving share shape "
    "for training/analytics data: user_id replaced by a salted SHA-256 "
    "digest (16 hex chars), timestamps coarsened to days, everything "
    "else intact. The pseudonym is deterministic, so joins and "
    "per-user aggregations still work downstream (same user -> same "
    "token) while the raw id never leaves the engine — and because "
    "the hash is content-derived it is stable across exports and "
    "repartitionings, unlike a monotonically_increasing_id remap. "
    "Both engines compute the identical lowercase-hex SHA-256 of the "
    "same salted string, so the export is hash-verified end to end. "
    "Scale: pure scan-side projection, zero shuffles; at 16 hex chars "
    "(64 bits) the birthday collision odds at 10^9 users are ~3%, and "
    "the full digest is one substr away when that matters.",
)
def x118_pseudonymized_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pseudo = F.substring(
        F.sha2(F.concat(F.lit("pws:"), F.col("user_id").cast("string")), 256),
        1,
        16,
    )
    return e.select(
        "event_id",
        pseudo.alias("pseudo_user"),
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    )
