"""Custom Python Data Source: offline Open-Meteo replay (R1/R2 of SURVEY §2).

Spark 4 ``pyspark.sql.datasource`` implementation of the reference's two
REST reads (/root/reference/weather.py:31-39 http_get_json, :42-59 geocode,
:62-85 forecast) as a declarative source:

    spark.read.format("open_meteo")
         .option("endpoint", "geocoding").option("name", "London")
         .option("country_code", "GB").option("count", "1").load()

Pushdown-by-option, exactly as the reference pushes work into its URL
parameters: ``count`` ≙ limit pushdown (weather.py:45), ``fields`` ≙ column
pruning (weather.py:66-67), ``temperature_unit`` ≙ computation pushdown
(weather.py:69-70). The Python DS API has no planner pruning hook yet, so
options are the contract — same moral status as URL construction.

A ``simpleStreamReader`` replays forecast ticks one micro-batch at a time,
mirroring the 600 s refresh loop (weather.py:324-333).

``.option("mode", "live")`` switches either endpoint to a real HTTP GET
against the public Open-Meteo API with the reference's fail-fast non-200
semantics (weather.py:34-35), same schema and URL construction
(weather.py:42-46, :61-69). Default is fixture replay, so CI and the
oracle contract never touch the network.
"""

from __future__ import annotations

import weakref

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

GEOCODE_SCHEMA = StructType(
    [
        StructField("latitude", DoubleType()),
        StructField("longitude", DoubleType()),
        StructField("name", StringType()),
        StructField("admin1", StringType()),
        StructField("country_code", StringType()),
    ]
)

FORECAST_SCHEMA = StructType(
    [
        StructField("temperature_2m", DoubleType()),
        StructField("weather_code", IntegerType()),
        StructField("time", StringType()),
        StructField("rain_prob", IntegerType()),
    ]
)


# ---------------------------------------------------------------------------
# Live transport (mode="live") — the reference's defining behavior is a real
# HTTP GET with fail-fast on non-200 (weather.py:31-39). Default stays
# fixture replay so CI never touches the network; the transport is a
# module-level hook so unit tests can exercise the status-check path with a
# fake (tests/test_open_meteo_live.py).
# ---------------------------------------------------------------------------


def _default_transport(url: str) -> tuple[int, bytes]:
    import urllib.request

    with urllib.request.urlopen(url, timeout=10) as resp:
        return resp.status, resp.read()


_TRANSPORT = _default_transport


def _http_get_json(url: str) -> dict:
    """GET url → parsed JSON; fail-fast on non-200 (weather.py:34-35)."""
    import json

    status, body = _TRANSPORT(url)
    if status != 200:
        raise RuntimeError(f"HTTP {status}: {body[:200]!r}")
    return json.loads(body)


def _geocode_url(name: str, country: str, count: int) -> str:
    # Same URL the reference builds (weather.py:42-46), except count is the
    # pushed-down limit option rather than the hard-coded 1, and values are
    # RFC-3986-escaped via urlencode: the reference only escapes spaces,
    # which lets '&'/'#'/'=' or non-ASCII in a user-supplied .option() value
    # inject extra query parameters or produce a malformed URL.
    from urllib.parse import quote, urlencode

    qs = urlencode(
        {
            "name": name,
            "count": count,
            "language": "en",
            "format": "json",
            "country": country,
        },
        quote_via=quote,
    )
    return f"https://geocoding-api.open-meteo.com/v1/search?{qs}"


def _forecast_url(lat: float, lon: float, unit: str) -> str:
    # weather.py:61-69 — temperature_unit rides the URL: the API converts,
    # the client never does (computation pushdown).
    return (
        "https://api.open-meteo.com/v1/forecast"
        f"?latitude={lat}&longitude={lon}"
        "&current=temperature_2m,weather_code"
        "&daily=precipitation_probability_max"
        "&timezone=auto"
        f"&temperature_unit={unit}"
    )


def _geocode_rows(options: dict) -> list[tuple]:
    from presto_weather_spark.sources.fixtures import GEOCODE_FIXTURES

    name = options.get("name", "London")
    country = options.get("country_code", "GB")
    count = int(options.get("count", "10"))  # limit pushdown (weather.py:45)
    if options.get("mode", "replay") == "live":
        payload = _http_get_json(_geocode_url(name, country, count))
        results = payload.get("results", [])
    else:
        results = GEOCODE_FIXTURES.get((name, country), [])
    if not results and options.get("fail_on_empty", "false") == "true":
        # fail-fast read, reference weather.py:50-51
        raise ValueError(f"Could not find location: {name}")
    fields = options.get("fields")  # column pruning (weather.py:66-67)
    keep = fields.split(",") if fields else [f.name for f in GEOCODE_SCHEMA.fields]
    rows = []
    for r in results[:count]:
        rows.append(
            tuple(
                (float(r[f.name]) if f.name in ("latitude", "longitude") else r.get(f.name))
                if f.name in keep and f.name in r
                else None
                for f in GEOCODE_SCHEMA.fields
            )
        )
    return rows


def _forecast_tuple(payload: dict, unit: str) -> tuple:
    cur = payload.get("current", {})
    temp = cur.get("temperature_2m")
    if temp is not None and unit == "fahrenheit":
        # computation pushdown: the source converts, client never does
        # (reference weather.py:23,69-70)
        temp = temp * 9 / 5 + 32
    probs = payload.get("daily", {}).get("precipitation_probability_max", [])
    rain = probs[0] if probs else None  # guarded head, weather.py:79-83
    return (temp, cur.get("weather_code"), cur.get("time"), rain)


def _forecast_rows(options: dict) -> list[tuple]:
    from presto_weather_spark.sources.fixtures import FORECAST_FIXTURES

    lat = round(float(options.get("latitude", "51.51")), 2)
    lon = round(float(options.get("longitude", "-0.13")), 2)
    unit = options.get("temperature_unit", "celsius")
    if options.get("mode", "replay") == "live":
        payload = _http_get_json(_forecast_url(lat, lon, unit))
        # The URL already carried temperature_unit — the API converted, so
        # the client-side conversion must NOT run again (pass "celsius" =
        # identity), mirroring the reference's pushdown (weather.py:69-70).
        return [_forecast_tuple(payload, "celsius")]
    ticks = FORECAST_FIXTURES.get((lat, lon), [])
    return [_forecast_tuple(p, unit) for p in ticks]


class OpenMeteoReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options

    def partitions(self):
        # Single logical request per read — one partition, like one GET.
        return [InputPartition(0)]

    def read(self, partition):
        if self.options.get("endpoint", "geocoding") == "geocoding":
            yield from _geocode_rows(self.options)
        else:
            yield from _forecast_rows(self.options)


class OpenMeteoStreamReader(DataSourceStreamReader):
    """Replays forecast ticks one per micro-batch (the 600 s loop)."""

    def __init__(self, options: dict):
        self.options = options
        from presto_weather_spark.sources.fixtures import FORECAST_FIXTURES

        lat = round(float(options.get("latitude", "51.51")), 2)
        lon = round(float(options.get("longitude", "-0.13")), 2)
        self._n = len(FORECAST_FIXTURES.get((lat, lon), []))

    def initialOffset(self) -> dict:
        return {"tick": 0}

    def latestOffset(self) -> dict:
        return {"tick": self._n}

    def partitions(self, start: dict, end: dict):
        return [InputPartition((start["tick"], end["tick"]))]

    def read(self, partition):
        start, end = partition.value
        rows = _forecast_rows(self.options)
        for i in range(start, min(end, len(rows))):
            yield rows[i]

    def commit(self, end: dict) -> None:
        pass


class OpenMeteoDataSource(DataSource):
    """format("open_meteo") — offline replay of the reference's REST feed."""

    @classmethod
    def name(cls) -> str:
        return "open_meteo"

    def schema(self):
        if self.options.get("endpoint", "geocoding") == "geocoding":
            return GEOCODE_SCHEMA
        return FORECAST_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return OpenMeteoReader(dict(self.options))

    def streamReader(self, schema) -> DataSourceStreamReader:
        return OpenMeteoStreamReader(dict(self.options))


_REGISTERED: weakref.WeakSet = weakref.WeakSet()


def register_open_meteo(spark) -> None:
    """Register format("open_meteo") once per SparkSession. Registering
    again would replace the source and log a WARN on every request."""
    if spark not in _REGISTERED:
        spark.dataSource.register(OpenMeteoDataSource)
        _REGISTERED.add(spark)


# ---------------------------------------------------------------------------
# Judged queries over the custom source (R1-R4, R20)
# ---------------------------------------------------------------------------

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from presto_weather_spark.registry import register  # noqa: E402


@register(
    "r01_open_meteo_geocode",
    oracle="""
SELECT 51.50853 AS latitude, -0.12574 AS longitude,
       'London' AS name, 'England' AS admin1
""",
    doc="R1-R4: custom Python DataSource read with option pushdown — "
    "geocoding endpoint, count=1 (limit pushdown, weather.py:45), top-1 "
    "projection with COALESCE defaults (weather.py:54-59). Oracle is the "
    "known fixture row.",
)
def r01_open_meteo_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_open_meteo(spark)
    df = (
        spark.read.format("open_meteo")
        .option("endpoint", "geocoding")
        .option("name", "London")
        .option("country_code", "GB")
        .option("count", "1")
        .load()
    )
    return df.select(
        F.col("latitude").cast("double").alias("latitude"),
        F.col("longitude").cast("double").alias("longitude"),
        F.coalesce(F.col("name"), F.lit("London")).alias("name"),
        F.coalesce(F.col("admin1"), F.lit("")).alias("admin1"),
    )


@register(
    "r02_open_meteo_forecast",
    oracle="""
SELECT * FROM (VALUES
  (14.3, 61, '2026-08-13T10:30', 72),
  (15.1, 3,  '2026-08-13T10:40', 55),
  (16.0, 0,  '2026-08-13T10:50', 20)
) AS t(temperature_2m, weather_code, obs_time, rain_prob)
""",
    doc="R1/R5/R6: forecast endpoint replay — nested-field extraction with "
    "null propagation and guarded array head happen source-side, exactly "
    "like the reference's fetch_current_weather (weather.py:62-85).",
)
def r02_open_meteo_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_open_meteo(spark)
    return _forecast_board(spark.read)


def _forecast_board(reader) -> DataFrame:
    """The London forecast read through ``reader`` (``spark.read`` or
    ``spark.readStream``), projected to the board's fields."""
    return (
        reader.format("open_meteo")
        .option("endpoint", "forecast")
        .option("latitude", "51.51")
        .option("longitude", "-0.13")
        .load()
        .select(
            F.col("temperature_2m").cast("double").alias("temperature_2m"),
            "weather_code",
            F.col("time").alias("obs_time"),
            "rain_prob",
        )
    )


@register(
    "r21_open_meteo_stream_replay",
    oracle=lambda o: o["r02_open_meteo_forecast"],
    doc="R14 via the custom source's DataSourceStreamReader: forecast ticks "
    "replayed one micro-batch each (the reference's 600 s refresh loop, "
    "weather.py:324-333), driven availableNow into a memory sink — the "
    "union of micro-batches equals the batch read (r02), which the shared "
    "oracle proves.",
)
def r21_open_meteo_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.streaming.pipeline import _run_to_memory

    register_open_meteo(spark)
    return _run_to_memory(_forecast_board(spark.readStream), "append")
