"""Weather-code classification — the reference's dimension semantics.

Reproduces, bit-for-bit, the two lookup functions of the reference app
(/root/reference/weather.py:92-114 ``weather_code_to_text`` and
/root/reference/weather.py:117-130 ``weather_code_to_icon``) as Spark-first
constructs:

  - a 19-row broadcast dimension table (R7: dict lookup == broadcast join),
  - a chained CASE/IN banded classifier (R8),
  - unknown-code defaults: ``format('Code %d', code)`` / ``'unknown'``.

The same Python constants generate the DuckDB oracle SQL (VALUES CTE /
CASE), so there is exactly one definition of the semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_weather_spark.registry import register
from presto_weather_spark.session import local_rows

# (code, description) — /root/reference/weather.py:93-113
WEATHER_CODE_TEXT: list[tuple[int, str]] = [
    (0, "Clear"),
    (1, "Mainly clear"),
    (2, "Partly cloudy"),
    (3, "Overcast"),
    (45, "Fog"),
    (48, "Rime fog"),
    (51, "Light drizzle"),
    (53, "Drizzle"),
    (55, "Heavy drizzle"),
    (61, "Light rain"),
    (63, "Rain"),
    (65, "Heavy rain"),
    (71, "Light snow"),
    (73, "Snow"),
    (75, "Heavy snow"),
    (80, "Rain showers"),
    (81, "Rain showers"),
    (82, "Violent showers"),
    (95, "Thunderstorm"),
]

# icon bands — /root/reference/weather.py:118-129
ICON_BANDS: list[tuple[tuple[int, ...], str]] = [
    ((0, 1), "sun"),
    ((2, 3), "cloud"),
    ((45, 48), "fog"),
    ((51, 53, 55, 61, 63, 65, 80, 81, 82), "rain"),
    ((71, 73, 75), "snow"),
    ((95,), "storm"),
]

# Deterministic event->code mapping used by the parity queries: index the 19
# known codes plus two unknown codes (77, 99) by event_id % 21.  Mirrors the
# FIXTURES.md B4 "readings" synthesis (~10% unknown codes).
CODE_CYCLE: list[int] = [c for c, _ in WEATHER_CODE_TEXT] + [77, 99]


def weather_code_to_text_py(code: int | None) -> str:
    """Plain-Python golden (semantics of /root/reference/weather.py:92-114)."""
    d = dict(WEATHER_CODE_TEXT)
    if code in d:
        return d[code]
    return "Code {}".format(code)


def weather_code_to_icon_py(code: int | None) -> str:
    """Plain-Python golden (semantics of /root/reference/weather.py:117-130)."""
    for codes, icon in ICON_BANDS:
        if code in codes:
            return icon
    return "unknown"


def weather_codes_dim(spark: SparkSession) -> DataFrame:
    """The 19-row static dimension: the broadcast-join side of R7 (r07).
    Built with ``local_rows``, so it is a ``LocalTableScan``: collecting or
    broadcasting it runs no Python worker. The flagship does not use it; it
    looks codes up with the ``text_map_expr`` map literal instead."""
    rows = [(c, t, weather_code_to_icon_py(c)) for c, t in WEATHER_CODE_TEXT]
    return local_rows(spark, rows, "code int, description string, icon string")


def code_expr(event_id: Column) -> Column:
    """Derived WMO code from an event id (deterministic fixture mapping)."""
    return F.element_at(
        F.array(*[F.lit(c) for c in CODE_CYCLE]),
        (event_id % len(CODE_CYCLE) + 1).cast("int"),
    )


def code_sql(event_id_sql: str) -> str:
    """The same derived-code mapping, as DuckDB SQL (1-based list_extract)."""
    lits = ", ".join(str(c) for c in CODE_CYCLE)
    return f"list_extract([{lits}], CAST({event_id_sql} % {len(CODE_CYCLE)} + 1 AS INT))"


def icon_case_expr(code: Column) -> Column:
    """Chained CASE/IN classifier (R8) — pure Catalyst, codegen-friendly."""
    expr = None
    for codes, icon in ICON_BANDS:
        cond = code.isin(*codes)
        expr = F.when(cond, icon) if expr is None else expr.when(cond, icon)
    return expr.otherwise(F.lit("unknown"))


def icon_case_sql(code_sql_frag: str) -> str:
    whens = "\n        ".join(
        f"WHEN {code_sql_frag} IN ({', '.join(str(c) for c in codes)}) THEN '{icon}'"
        for codes, icon in ICON_BANDS
    )
    return f"CASE {whens} ELSE 'unknown' END"


def text_map_expr(code: Column) -> Column:
    """map-literal lookup with formatted default (R7 expression form)."""
    kv = []
    for c, t in WEATHER_CODE_TEXT:
        kv.extend([F.lit(c), F.lit(t)])
    m = F.create_map(*kv)
    return F.coalesce(m[code], F.format_string("Code %d", code))


def text_case_sql(code_sql_frag: str) -> str:
    whens = "\n        ".join(
        f"WHEN {code_sql_frag} = {c} THEN '{t}'" for c, t in WEATHER_CODE_TEXT
    )
    return f"CASE {whens} ELSE 'Code ' || CAST({code_sql_frag} AS VARCHAR) END"


def weather_codes_values_cte() -> str:
    """DuckDB VALUES CTE equivalent of :func:`weather_codes_dim`."""
    rows = ",\n    ".join(
        f"({c}, '{t}', '{weather_code_to_icon_py(c)}')" for c, t in WEATHER_CODE_TEXT
    )
    return f"weather_codes(code, description, icon) AS (VALUES\n    {rows})"


# ---------------------------------------------------------------------------
# Parity queries (R7/R8): classify event-derived codes two ways.
# ---------------------------------------------------------------------------


@register(
    "r07_code_to_text_dim_join",
    oracle=f"""
WITH {weather_codes_values_cte()},
coded AS (
  SELECT event_id, {code_sql('event_id')} AS code FROM events
)
SELECT coded.event_id,
       coded.code,
       COALESCE(w.description, 'Code ' || CAST(coded.code AS VARCHAR)) AS description
FROM coded LEFT JOIN weather_codes w ON coded.code = w.code
""",
    doc="R7: dict lookup as a broadcast dim join with formatted default "
    "(/root/reference/weather.py:92-114).",
)
def r07_code_to_text_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    dim = weather_codes_dim(spark)
    coded = events.select("event_id", code_expr(F.col("event_id")).alias("code"))
    # 19-row dim: always broadcast — no shuffle at any scale.
    return (
        coded.join(F.broadcast(dim.select("code", "description")), "code", "left")
        .select(
            "event_id",
            "code",
            F.coalesce(
                F.col("description"), F.format_string("Code %d", F.col("code"))
            ).alias("description"),
        )
    )


@register(
    "r08_icon_banded_case",
    oracle=f"""
WITH coded AS (
  SELECT event_id, {code_sql('event_id')} AS code FROM events
)
SELECT event_id, code, {icon_case_sql('code')} AS icon
FROM coded
""",
    doc="R8: banded CASE/IN classification (/root/reference/weather.py:117-130).",
)
def r08_icon_banded_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    coded = events.select("event_id", code_expr(F.col("event_id")).alias("code"))
    return coded.select("event_id", "code", icon_case_expr(F.col("code")).alias("icon"))


@register(
    "r07b_code_to_text_map_expr",
    oracle=f"""
WITH coded AS (
  SELECT event_id, {code_sql('event_id')} AS code FROM events
)
SELECT event_id, {text_case_sql('code')} AS description FROM coded
""",
    doc="R7 expression form: map-literal lookup + formatted default, proving "
    "the dict lookup is expressible without a join.",
)
def r07b_code_to_text_map_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    coded = events.select("event_id", code_expr(F.col("event_id")).alias("code"))
    return coded.select("event_id", text_map_expr(F.col("code")).alias("description"))
