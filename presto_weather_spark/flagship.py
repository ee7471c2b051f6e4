"""Flagship query — the "current conditions board" (SURVEY.md §7.1).

The reference app's essence — poll readings, keep the latest value per
station, classify the weather code through lookup tables, format for display
(/root/reference/weather.py:324-333 loop; :92-130 classification; :240-308
formatting) — re-expressed over the driver's ``events`` table:

  events (ts, user_id as station, value as temperature, props JSON)
    -> latest reading per station     (window row_number, latest-value R14)
    -> derived WMO code               (deterministic fixture mapping)
    -> map-literal text lookup        (R7 expression form) + banded CASE icon (R8)
    -> display strings                (R9-R12)

The code-to-text lookup is a map literal (``text_map_expr``, the form r07b
proves equivalent), not a join against the broadcast 19-row dimension: the
board then runs no job to build or broadcast the dimension. The R7 join
itself stays in r07.

Scale: the latest-reading aggregate groups by station id — at 100 TB this
is a single shuffle on a high-cardinality key (no skew: one partition per
station); classification is a per-row expression and adds no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_weather_spark.functions import formatting as fmt
from presto_weather_spark.functions.weather import (
    code_expr,
    code_sql,
    icon_case_expr,
    icon_case_sql,
    text_case_sql,
    text_map_expr,
)
from presto_weather_spark.registry import register
from presto_weather_spark.session import load_table


def conditions_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")

    # Round-10 optimization: the latest-reading pick ran as a row_number
    # window (exchange + per-station sort of every event) with the
    # rain_prob JSON parse projected BELOW it — every event paid
    # get_json_object, then all but one per station were discarded. The
    # same survivor comes from max(struct(ts, event_id, ...)): struct
    # ordering compares ts then event_id exactly like ORDER BY ts DESC,
    # event_id DESC picks its first row ((ts, event_id) is unique per
    # station, so the carried value/props fields never tip a comparison;
    # an all-NULL-ts station degenerates to max event_id in both shapes).
    # The JSON parse now runs on ONE surviving row per station.
    readings = (
        events.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.col("ts").alias("ts"),
                    F.col("event_id").alias("event_id"),
                    F.col("value").alias("value"),
                    F.col("props").alias("props"),
                )
            ).alias("m")
        )
        .select(
            F.col("m.event_id").alias("event_id"),
            "user_id",
            F.col("m.ts").alias("ts"),
            F.col("m.value").alias("value"),
            F.get_json_object(F.col("m.props"), "$.k")
            .cast("int")
            .alias("rain_prob"),
        )
        .withColumn("code", code_expr(F.col("event_id")))
    )

    return readings.select(
        F.col("user_id").alias("station_id"),
        text_map_expr(F.col("code")).alias("conditions"),
        icon_case_expr(F.col("code")).alias("icon"),
        fmt.fmt_temperature(F.col("value")).alias("temp_display"),
        fmt.fmt_rain_line(F.col("rain_prob")).alias("rain_line"),
        fmt.fmt_updated_hhmm(fmt.iso_minute("ts", sep=" ")).alias("updated_hhmm"),
    )


_ORACLE = f"""
WITH latest AS (
  SELECT event_id, user_id, ts, value,
         CAST(json_extract_string(props, '$.k') AS INT) AS rain_prob,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
coded AS (
  SELECT *, {code_sql('event_id')} AS code FROM latest WHERE rn = 1
)
SELECT user_id AS station_id,
       {text_case_sql('code')} AS conditions,
       {icon_case_sql('code')} AS icon,
       {fmt.SQL_FMT_TEMPERATURE.format(t='value')} AS temp_display,
       {fmt.SQL_FMT_RAIN.format(p='rain_prob')} AS rain_line,
       {fmt.SQL_FMT_HHMM.format(s=fmt.sql_iso_minute('ts', sep=' '))} AS updated_hhmm
FROM coded
"""

register("r14_conditions_board", oracle=_ORACLE, doc=conditions_board.__doc__ or "")(
    conditions_board
)
