"""Scalar-function surface — S9-S13, S15 and the R-series function parity
queries (SURVEY.md §2.1 R5/R6/R9-R11/R16/R17/R20).

Everything here is a pure Catalyst expression pipeline over one scan — the
whole query stays inside a single WholeStageCodegen span with zero shuffles
(except the explicitly-aggregating ones, which shuffle once on the group
key). That property is scale-invariant: these queries are embarrassingly
parallel at 100 TB.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from presto_weather_spark.functions.weather import (
    code_expr,
    code_sql,
    text_case_sql,
    weather_code_to_text_py,
)
from presto_weather_spark.functions.formatting import iso_minute
from presto_weather_spark.operators._util import spread
from presto_weather_spark.registry import register
from presto_weather_spark.session import load_table


# ---------------------------------------------------------------------------
# S9 — string functions
# ---------------------------------------------------------------------------


@register(
    "s09_string_functions",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS name_upper,
       lower(p_brand) AS brand_lower,
       trim(p_type) AS type_trimmed,
       substring(p_name, 1, 8) AS name_prefix,
       p_brand || ':' || p_type AS brand_type,
       length(p_name) AS name_len,
       replace(p_name, ' ', '_') AS name_snake,
       regexp_extract(p_type, '^([A-Za-z]+)', 1) AS type_head,
       CASE WHEN p_name LIKE '%green%' THEN TRUE ELSE FALSE END AS is_green,
       split_part(p_type, ' ', 1) AS type_first_word
FROM part
""",
    doc="S9: upper/lower/trim/substring/concat/length/replace/regexp_extract"
    "/LIKE/split — the engine's string layer (reference precedent: "
    "formatting+encode, weather.py:46,268,301,306).",
)
def s09_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.trim("p_type").alias("type_trimmed"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.regexp_extract("p_type", r"^([A-Za-z]+)", 1).alias("type_head"),
        F.col("p_name").like("%green%").alias("is_green"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_first_word"),
    )


# ---------------------------------------------------------------------------
# S10 — date/time functions
# ---------------------------------------------------------------------------


@register(
    "s10_datetime_functions",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month,
       CAST(dayofweek(o_orderdate) + 1 AS INT) AS order_dow,
       CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
       CAST(date_trunc('second', o_orderdate) AS VARCHAR) AS order_ts_str,
       CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
       CAST(CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS VARCHAR) AS due_date,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_95
FROM orders
""",
    doc="S10: year/month/dayofweek/date_trunc/date_format/unix_timestamp/"
    "interval arithmetic/datediff. Spark dayofweek is 1=Sunday; DuckDB dow "
    "is 0=Sunday, reconciled with +1. (Reference only slices ISO strings, "
    "weather.py:306 — the engine uses typed timestamps.)",
)
def s10_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("order_ts_str"),
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"), "yyyy-MM-dd"
        ).alias("due_date"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
    )


# ---------------------------------------------------------------------------
# S11 — math functions (+ R16 trig, R20 unit conversion)
# ---------------------------------------------------------------------------


@register(
    "s11_math_functions",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 1) AS price_round1,
       CAST(round(l_extendedprice * 100) AS BIGINT) // 100 AS price_floor,
       (CAST(round(l_extendedprice * 100) AS BIGINT) + 99) // 100 AS price_ceil,
       abs(l_discount - 0.05) AS disc_dev,
       round(power(l_quantity, 2), 4) AS qty_sq,
       round(sqrt(l_quantity), 6) AS qty_sqrt,
       round(ln(l_extendedprice), 6) AS price_ln,
       CAST(l_quantity AS BIGINT) % 7 AS qty_mod7,
       CAST(CASE WHEN CAST(round(l_tax * 100) AS BIGINT) > 4 THEN 1
                 WHEN CAST(round(l_tax * 100) AS BIGINT) < 4 THEN -1
                 ELSE 0 END AS DOUBLE) AS tax_sign
FROM lineitem
""",
    doc="S11: round/floor/ceil/abs/pow/sqrt/ln/mod/sign (reference "
    "precedent: math.radians/cos/sin + int truncation, weather.py:143-149). "
    "Floor/ceil/sign compare in INTEGER space (risk burn-down): prices and "
    "tax are positive 2dp values, so exact cents/basis-points DIV "
    "reproduces floor/ceil/sign with no float-boundary or return-type "
    "divergence (DuckDB floor(double)->double + sign->int vs Spark "
    "bigint/double).",
)
def s11_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_round1"),
        # cents DIV 100 == floor (and the +99 variant == ceil) ONLY for
        # non-negative values; enforce positivity loudly (x141 pattern)
        # so a negative-price fixture can't silently turn floor into
        # trunc in lockstep across both engines.
        F.expr(
            "CASE WHEN l_extendedprice < 0 THEN raise_error("
            "'s11: price_floor assumes l_extendedprice >= 0') "
            "ELSE CAST(round(l_extendedprice * 100) AS BIGINT) DIV 100 END"
        ).alias("price_floor"),
        F.expr(
            "(CAST(round(l_extendedprice * 100) AS BIGINT) + 99) DIV 100"
        ).alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod7"),
        F.expr(
            "CAST(CASE WHEN CAST(round(l_tax * 100) AS BIGINT) > 4 THEN 1"
            " WHEN CAST(round(l_tax * 100) AS BIGINT) < 4 THEN -1"
            " ELSE 0 END AS DOUBLE)"
        ).alias("tax_sign"),
    )


@register(
    "r16_trig_icon_geometry",
    oracle="""
SELECT deg,
       round(radians(deg), 9) AS rad,
       round(cos(radians(deg)), 9) AS cos_v,
       round(sin(radians(deg)), 9) AS sin_v
FROM (SELECT unnest(range(0, 360, 45)) AS deg)
""",
    doc="R16: the sun-ray geometry loop (weather.py:143-149) — "
    "radians/cos/sin over a generated 0..315 step-45 sequence, via "
    "sequence+explode instead of a Python loop.",
)
def r16_trig_icon_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    degs = spark.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(315), F.lit(45))).alias("deg")
    )
    return degs.select(
        F.col("deg").cast("bigint").alias("deg"),
        F.round(F.radians("deg"), 9).alias("rad"),
        F.round(F.cos(F.radians("deg")), 9).alias("cos_v"),
        F.round(F.sin(F.radians("deg")), 9).alias("sin_v"),
    )


@register(
    "r20_unit_conversion",
    oracle="""
SELECT event_id,
       round(value, 2) AS celsius,
       round(value * 1.8 + 32, 2) AS fahrenheit,
       round((value * 1.8 + 32 - 32) * 0.5555555555555556, 2) AS roundtrip_celsius
FROM events
""",
    doc="R20: client-side C<->F conversion — the computation the reference "
    "pushes to its source via temperature_unit= (weather.py:23,69-70); both "
    "paths must agree, checked by the roundtrip column.",
)
def r20_unit_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # multiplicative constants only (round-7 risk burn-down): both
    # engines parse the identical double literals, so no runtime
    # division feeds a round() — the 2dp round absorbs the ulp-level
    # difference from folding 9/5 and 5/9 into literals
    f_expr = F.col("value") * 1.8 + 32
    return e.select(
        "event_id",
        F.round("value", 2).alias("celsius"),
        F.round(f_expr, 2).alias("fahrenheit"),
        F.round((f_expr - 32) * 0.5555555555555556, 2).alias(
            "roundtrip_celsius"
        ),
    )


# ---------------------------------------------------------------------------
# S12 — array functions
# ---------------------------------------------------------------------------


@register(
    "s12_array_functions",
    oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       round(CAST(embedding[1] AS DOUBLE), 6) AS first_component,
       round(CAST(embedding[64] AS DOUBLE), 6) AS last_component,
       round(CAST(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS DOUBLE), 6) AS sq_norm,
       round(CAST(list_aggregate(list_transform(list_slice(embedding, 1, 8), x -> CAST(x AS DOUBLE)), 'sum') AS DOUBLE), 6) AS head_sum,
       CAST(list_aggregate(list_transform(embedding, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END), 'sum') AS BIGINT) AS n_positive
FROM embeddings
""",
    doc="S12: size/element_at/slice/transform/aggregate over the 64-dim "
    "embedding vectors — all JVM-side higher-order functions, no UDF "
    "(reference precedent: guarded array head, weather.py:79-83).",
)
def s12_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at(dbl, 1), 6).alias("first_component"),
        F.round(F.element_at(dbl, 64), 6).alias("last_component"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x), 6
        ).alias("sq_norm"),
        F.round(
            F.aggregate(F.slice(dbl, 1, 8), F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("head_sum"),
        F.aggregate(
            F.col("embedding"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.when(x > 0, 1).otherwise(0),
        ).alias("n_positive"),
    )


# ---------------------------------------------------------------------------
# S13 — JSON / map functions (+ R5/R6 nested extraction)
# ---------------------------------------------------------------------------


@register(
    "s13_json_extraction",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
       CAST(json_extract_string(props, '$.missing') AS INT) AS prop_missing
FROM events
""",
    doc="S13: schema-on-read JSON extraction from the events.props payload "
    "column with NULL propagation for absent paths (reference: .get() "
    "defaults, weather.py:73-77).",
)
def s13_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # json_tuple parses the payload ONCE for both paths (it's a generator,
    # so Catalyst can't inline-duplicate it the way per-path
    # get_json_object calls get collapsed into N parses of the same doc).
    return e.select(
        "event_id", F.json_tuple("props", "k", "missing").alias("k", "missing")
    ).select(
        "event_id",
        F.col("k").cast("int").alias("prop_k"),
        F.col("missing").cast("int").alias("prop_missing"),
    )


@register(
    "r05_forecast_json_roundtrip",
    oracle="""
WITH payload AS (
  SELECT event_id,
         printf('{"current": {"temperature_2m": %.1f, "weather_code": %d, "time": "%s"}, "daily": {"precipitation_probability_max": [%d]}}',
                round(value, 1),
                """
    + code_sql("event_id")
    + """,
                printf('%04d-%02d-%02dT%02d:%02d', year(ts), month(ts), day(ts), hour(ts), minute(ts)),
                CAST(json_extract_string(props, '$.k') AS INT) % 101) AS body
  FROM events
)
SELECT event_id,
       CAST(json_extract_string(body, '$.current.temperature_2m') AS DOUBLE) AS temperature,
       CAST(json_extract_string(body, '$.current.weather_code') AS INT) AS weather_code,
       json_extract_string(body, '$.current.time') AS obs_time,
       CAST(json_extract(body, '$.daily.precipitation_probability_max[0]') AS INT) AS rain_prob
FROM payload
""",
    doc="R5+R6: build an Open-Meteo-shaped JSON document per event, then "
    "extract nested fields (current.temperature_2m, current.weather_code, "
    "current.time) and the guarded array head "
    "daily.precipitation_probability_max[0] — the reference's exact "
    "response shape (weather.py:72-85).",
)
def r05_forecast_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # The JSON build+parse is CPU-bound per row.
    e = spread(e, "event_id")
    body = F.format_string(
        '{"current": {"temperature_2m": %.1f, "weather_code": %d, "time": "%s"}, '
        '"daily": {"precipitation_probability_max": [%d]}}',
        F.round("value", 1),
        code_expr(F.col("event_id")),
        iso_minute("ts"),
        F.get_json_object("props", "$.k").cast("int") % 101,
    )
    payload = e.select("event_id", body.alias("body"))
    # Parse the document ONCE with a schema (from_json), then take struct
    # fields — four get_json_object calls would each re-parse the body, and
    # worse, projection collapse would inline the whole body-builder
    # expression (19-branch CASE included) into every extraction.
    schema = (
        "current struct<temperature_2m: double, weather_code: int, time: string>, "
        "daily struct<precipitation_probability_max: array<int>>"
    )
    parsed = payload.select("event_id", F.from_json("body", schema).alias("j"))
    return parsed.select(
        "event_id",
        F.col("j.current.temperature_2m").alias("temperature"),
        F.col("j.current.weather_code").alias("weather_code"),
        F.col("j.current.time").alias("obs_time"),
        # R6: guarded array head — element_at returns NULL on absent/empty
        F.element_at("j.daily.precipitation_probability_max", 1).alias("rain_prob"),
    )


@register(
    "s13b_map_functions",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS from_map,
       2 AS n_keys
FROM events
""",
    doc="S13: map construction + element_at + map_keys (create_map over "
    "parsed JSON; the oracle checks the extracted value and key count).",
)
def s13b_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("k"),
        F.get_json_object("props", "$.k").cast("int"),
        F.lit("uid"),
        F.col("user_id").cast("int"),
    )
    return e.select(
        "event_id",
        F.element_at(m, "k").alias("from_map"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


# ---------------------------------------------------------------------------
# R17 — fold over exploded elements (the reference's only aggregation)
# ---------------------------------------------------------------------------


@register(
    "r17_token_width_fold",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents
)
SELECT doc_id,
       CAST(SUM(length(tok) + 1) - 1 AS BIGINT) AS spaced_width,
       COUNT(*) AS n_tokens
FROM toks
WHERE tok <> ''
GROUP BY doc_id
""",
    doc="R17: measure_text_spaced (weather.py:226-231) generalized — "
    "explode text into tokens, fold sum(width + spacing) with "
    "trailing-spacing correction, as a distributed explode+groupBy.",
)
def r17_token_width_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return toks.groupBy("doc_id").agg(
        (F.sum(F.length("tok") + 1) - 1).alias("spaced_width"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# S15 — UDF / pandas UDF parity
# ---------------------------------------------------------------------------


@register(
    "s15_udf_parity_classification",
    oracle=f"""
WITH coded AS (
  SELECT event_id, {code_sql('event_id')} AS code FROM events
)
SELECT event_id, code, {text_case_sql('code')} AS description
FROM coded
""",
    doc="S15: row-at-a-time Python UDF running the reference's "
    "weather_code_to_text verbatim semantics (weather.py:92-114); the "
    "oracle is the pure-SQL CASE — proving UDF and relational forms agree. "
    "(Kept off hot paths: UDFs are the slow path; see r07/r07b for the "
    "codegen-friendly forms.)",
)
def s15_udf_parity_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    to_text = F.udf(weather_code_to_text_py, T.StringType())
    coded = e.select("event_id", code_expr(F.col("event_id")).alias("code"))
    return coded.select("event_id", "code", to_text(F.col("code")).alias("description"))


@register(
    "s15b_pandas_udf_vector_norm",
    oracle="""
SELECT vec_id,
       round(sqrt(CAST(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS DOUBLE)), 6) AS l2_norm
FROM embeddings
""",
    doc="S15: vectorized (Arrow-batched) pandas UDF computing the L2 norm "
    "of each embedding — the sanctioned fast path for numeric Python; "
    "matches the pure-SQL higher-order-function form.",
)
def s15b_pandas_udf_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    @F.pandas_udf(T.DoubleType())
    def l2_norm(vecs: pd.Series) -> pd.Series:
        return vecs.map(
            lambda v: float(np.sqrt(np.sum(np.asarray(v, dtype=np.float64) ** 2)))
        )

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.round(l2_norm("embedding"), 6).alias("l2_norm"))


@register(
    "s15c_grouped_map_zscore",
    oracle="""
SELECT event_id,
       event_type,
       round((value - AVG(value) OVER (PARTITION BY event_type)) /
             stddev_samp(value) OVER (PARTITION BY event_type), 4) AS zscore
FROM events
""",
    doc="S15: grouped-map applyInPandas — per-event_type z-score "
    "normalization, each group handed to pandas as one Arrow batch (the "
    "feature-normalization shape for training pipelines). Matches the "
    "window-function form; at 100 TB groups must fit an executor, so "
    "skewed group keys get salted two-pass normalization instead.",
)
def s15c_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mean = pdf["value"].mean()
        std = pdf["value"].std(ddof=1)  # matches stddev_samp
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "zscore": ((pdf["value"] - mean) / std).round(4),
            }
        )

    return e.groupBy("event_type").applyInPandas(
        zscore, "event_id bigint, event_type string, zscore double"
    )


@register(
    "s15d_udtf_tokenize",
    oracle="""
SELECT doc_id, t.pos, t.token
FROM documents,
LATERAL (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            x -> x <> '')) AS token,
         generate_subscripts(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                         x -> x <> ''), 1) AS pos
) t
WHERE doc_id < 300
""",
    doc="S15: Python UDTF (Spark 4 user-defined *table* function) — "
    "tokenize(text) yields one (pos, token) row per whitespace token, "
    "applied per document via a LATERAL correlated call. Completes the "
    "UDF/UDAF/UDTF triple of SURVEY.md §2 S15. Row-expanding Python is "
    "the slow path by design — the codegen equivalent is "
    "posexplode(split(...)) (x04); this entry exists to prove the UDTF "
    "surface, bounded to 300 docs.",
)
def s15d_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate((text or "").lower().split()):
                yield (i + 1, tok)

    spark.udtf.register("pws_tokenize", Tokenize)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM {documents} d, LATERAL pws_tokenize(d.text) t
        WHERE d.doc_id < 300
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


@register(
    "s10b_calendar_arithmetic",
    oracle="""
SELECT o_orderkey,
       CAST(CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS VARCHAR) AS month_end,
       CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS VARCHAR) AS plus_2m,
       CAST(quarter(o_orderdate) AS INT) AS order_quarter,
       CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS iso_week,
       dayname(CAST(o_orderdate AS DATE)) AS dow_name,
       CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS INT)
           AS months_since_95
FROM orders
""",
    doc="S10b: calendar arithmetic — last_day, month addition with "
    "end-of-month clamping (both engines clamp), quarter, ISO week "
    "number, day name, and integer month delta (computed as "
    "year*12+month in both engines because Spark months_between is "
    "fractional while DuckDB date_diff('month') counts boundary "
    "crossings — the portable form avoids both). Pure scan-side "
    "projection: no shuffle at any scale.",
)
def s10b_calendar_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.add_months(d, 2), "yyyy-MM-dd").alias("plus_2m"),
        F.quarter(d).alias("order_quarter"),
        F.weekofyear(d).alias("iso_week"),
        F.date_format(d, "EEEE").alias("dow_name"),
        ((F.year(d) - 1995) * 12 + F.month(d) - 1).alias("months_since_95"),
    )


@register(
    "s13c_variant_extraction",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
       CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT) AS k_bucket,
       CAST(json_extract_string(props, '$.missing') AS INT) AS absent
FROM events
""",
    doc="S13c: semi-structured extraction through Spark 4's VARIANT type — "
    "parse_json once into a binary variant, then typed variant_get paths "
    "(the modern schema-on-read path: one parse, many typed extractions, "
    "~8x faster than repeated get_json_object on wide JSON). Missing "
    "paths yield NULL via try_variant_get, mirroring the reference's "
    ".get(key, None) semantics (weather.py:73-77). Oracle: DuckDB "
    "json_extract_string + cast. Scan-side only — no shuffle.",
)
def s13c_variant_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        (F.variant_get(v, "$.k", "int") % 10).alias("k_bucket"),
        F.try_variant_get(v, "$.missing", "int").alias("absent"),
    )


@register(
    "s15e_cogrouped_asof_enrich",
    oracle="""
WITH j AS (
  SELECT e.event_id, e.user_id, o.o_orderkey,
         (epoch_us(e.ts) - epoch_us(o.o_orderdate)) // 86400000000 AS days_since_order,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
SELECT event_id, user_id, o_orderkey, CAST(days_since_order AS BIGINT) AS days_since_order
FROM j WHERE rn = 1
""",
    doc="S15: COGROUPED map (groupBy().cogroup().applyInPandas) — the "
    "two-sided grouped-pandas API: each user's event batch and order "
    "batch arrive as aligned pandas frames and pd.merge_asof attaches "
    "the latest order at-or-before each event (deterministic tiebreak: "
    "frames pre-sorted by (date, orderkey), merge_asof keeps the last "
    "match). The per-key as-of logic the s04e join expresses relationally "
    "— here as imperative pandas where a relational form wouldn't fit "
    "(model scoring, curve interpolation). Scale: one shuffle per side "
    "on the cogroup key, Arrow both ways, per-key memory only.",
)
def s15e_cogrouped_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    COGROUP_BUCKETS = 64

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    # Cogroup invokes Python once PER KEY, so the cogroup key is a HASH
    # BUCKET, not the raw user id: 64 buckets = 64 Python calls total,
    # and pd.merge_asof(by="user_id") aligns every user inside a bucket
    # in one vectorized pass. Cogrouping on raw user_id paid per-key
    # Arrow+call overhead (~7 ms x 15k keys = 16s at sf0.1; bucketed:
    # ~1s). Orders also pre-filter to users present in events (broadcast
    # semi-join) — orders has 10x more customers than events has users.
    keys = ev.select("user_id").distinct()
    od = od.join(F.broadcast(keys), "user_id", "semi").withColumn(
        "bucket", F.pmod("user_id", F.lit(COGROUP_BUCKETS))
    )
    ev = ev.withColumn("bucket", F.pmod("user_id", F.lit(COGROUP_BUCKETS)))

    def asof(evp: pd.DataFrame, odp: pd.DataFrame) -> pd.DataFrame:
        if not len(evp) or not len(odp):
            return pd.DataFrame(
                {
                    "event_id": pd.Series(dtype="int64"),
                    "user_id": pd.Series(dtype="int64"),
                    "o_orderkey": pd.Series(dtype="int64"),
                    "days_since_order": pd.Series(dtype="int64"),
                }
            )
        evp = evp.sort_values(["ts", "event_id"])
        odp = odp.sort_values(["o_orderdate", "o_orderkey"])
        m = pd.merge_asof(
            evp, odp, left_on="ts", right_on="o_orderdate", by="user_id"
        )
        m = m[m["o_orderkey"].notna()]
        # exact integer microsecond arithmetic — float total_seconds()
        # can land an epsilon under an exact day multiple and floor wrong
        days = (
            (m["ts"].astype("int64") - m["o_orderdate"].astype("int64"))
            // (86_400 * 1_000_000 if m["ts"].dt.unit == "us" else 86_400 * 10**9)
        ).astype("int64")
        return pd.DataFrame(
            {
                "event_id": m["event_id"],
                "user_id": m["user_id"],
                "o_orderkey": m["o_orderkey"].astype("int64"),
                "days_since_order": days,
            }
        )

    return (
        ev.groupBy("bucket")
        .cogroup(od.groupBy("bucket"))
        .applyInPandas(
            asof,
            "event_id bigint, user_id bigint, o_orderkey bigint, "
            "days_since_order bigint",
        )
    )


@register(
    "s15f_grouped_agg_udaf",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS median_value,
       round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6) AS iqr
FROM events GROUP BY event_type
""",
    doc="S15: grouped-aggregate pandas UDF (the UDAF surface) — per-group "
    "Series-to-scalar aggregates (median, interquartile range) computed "
    "in Arrow-batched numpy, completing the UDF matrix: scalar UDF "
    "(s15), scalar pandas UDF (s15b), grouped map (s15c), UDTF (s15d), "
    "cogrouped map (s15e), grouped agg (here). The oracle is the "
    "equivalent quantile_cont SQL — both engines define the same linear "
    "interpolation, so results hash-match. Scale note: a grouped-agg "
    "pandas UDF buffers each group on one executor (no partial "
    "aggregation), so it's for bounded groups; unbounded keys use "
    "approx_percentile or the s05h salted two-phase shape instead.",
)
def s15f_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    @F.pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(np.median(v.to_numpy(dtype="float64")))

    @F.pandas_udf("double")
    def iqr_udaf(v: pd.Series) -> float:
        a = v.to_numpy(dtype="float64")
        return float(np.percentile(a, 75) - np.percentile(a, 25))

    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    return e.groupBy("event_type").agg(
        F.round(median_udaf("value"), 6).alias("median_value"),
        F.round(iqr_udaf("value"), 6).alias("iqr"),
    )


@register(
    "s15g_map_in_arrow",
    oracle="""
SELECT event_id, upper(event_type) AS event_type_uc,
       CAST(length(event_type) AS INT) AS type_len
FROM events
""",
    doc="S15: mapInArrow — the zero-copy Arrow RecordBatch surface below "
    "pandas UDFs: the transform receives raw Arrow batches and applies "
    "pyarrow.compute kernels (utf8_upper, utf8_length) with no "
    "pandas materialization at all, the cheapest Python hop that "
    "exists (no Series boxing, no object dtype). Use it when the "
    "kernel is expressible in Arrow compute; pandas UDFs when you need "
    "numpy/pandas semantics; builtins when Catalyst has the function "
    "(this one does — the oracle IS the builtin form, proving parity).",
)
def s15g_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def transform(batches):
        import pyarrow.compute as pc

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("event_id"),
                    pc.utf8_upper(batch.column("event_type")),
                    pc.cast(pc.utf8_length(batch.column("event_type")), pa.int32()),
                ],
                ["event_id", "event_type_uc", "type_len"],
            )

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    return e.mapInArrow(
        transform, "event_id bigint, event_type_uc string, type_len int"
    )


@register(
    "s45_sql_registered_udf",
    oracle="""
SELECT event_id, value,
       CASE WHEN value >= 100 THEN 'high'
            WHEN value >= 10 THEN 'mid'
            ELSE 'low' END AS band
FROM events
""",
    doc="S45: SQL-REGISTERED Python UDF — spark.udf.register makes a "
    "Python function callable from SQL TEXT (the escape hatch for "
    "SQL-first users and BI tools that can't call the DataFrame API), "
    "here banding values through a registered classifier invoked from "
    "spark.sql(). The oracle is the pure-SQL CASE — proving the "
    "registered form agrees with the relational form, the same parity "
    "contract as s15. Production note: a registered scalar Python UDF "
    "is row-at-a-time (ser/de per row); register the pandas_udf form "
    "for hot paths — registration works identically for both.",
)
def s45_sql_registered_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.session import register_views

    def band(v: float) -> str:
        if v is None:
            return None
        if v >= 100:
            return "high"
        if v >= 10:
            return "mid"
        return "low"

    spark.udf.register("pws_band", band, T.StringType())
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT event_id, value, pws_band(value) AS band FROM events"
    )


@register(
    "s15h_polymorphic_udtf",
    oracle="""
SELECT doc_id, 'lang' AS field, lang AS value FROM documents WHERE doc_id < 100
UNION ALL
SELECT doc_id, 'source', source FROM documents WHERE doc_id < 100
UNION ALL
SELECT doc_id, 'n_chars', CAST(n_chars AS VARCHAR) FROM documents WHERE doc_id < 100
""",
    doc="S15: POLYMORPHIC UDTF — a Python table function whose OUTPUT "
    "SCHEMA is computed at analysis time by a static analyze() method "
    "from its call-site arguments (Spark 4 surface): here a generic "
    "melt/unpivot-to-rows UDTF that reads WHICH fields to emit from "
    "the constant argument list at plan time. The planner calls "
    "analyze() once, gets the row type, and the relational layer "
    "above sees an ordinary table — the mechanism behind reusable "
    "table functions that adapt to their inputs (one UDTF serves any "
    "field list, no per-shape copies). The oracle is the static "
    "UNION-ALL melt of the same three fields.",
)
def s15h_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class Melt:
        @staticmethod
        def analyze(*args: AnalyzeArgument) -> AnalyzeResult:
            # args[0] is the doc_id, args[1:] the fields to melt; schema is
            # derived from the call site at plan time.
            schema = StructType()
            schema = schema.add("doc_id", "long").add("field", "string").add(
                "value", "string"
            )
            return AnalyzeResult(schema=schema)

        def eval(self, doc_id, lang, source, n_chars):
            yield (doc_id, "lang", lang)
            yield (doc_id, "source", source)
            yield (doc_id, "n_chars", str(n_chars))

    spark.udtf.register("pws_melt", udtf(Melt))
    return spark.sql(
        """
        SELECT t.doc_id, t.field, t.value
        FROM {documents} d, LATERAL pws_melt(d.doc_id, d.lang, d.source, d.n_chars) t
        WHERE d.doc_id < 100
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


# ---------------------------------------------------------------------------
# X139 — haversine nearest station (spatial join over the station table)
# ---------------------------------------------------------------------------

# Public city coordinates (the reference's weather-station domain).
STATIONS: tuple[tuple[str, float, float], ...] = (
    ("London", 51.50853, -0.12574),
    ("Bristol", 51.45523, -2.59665),
    ("Manchester", 53.48095, -2.23743),
    ("Edinburgh", 55.95206, -3.19648),
    ("Dublin", 53.33306, -6.24889),
    ("Paris", 48.85341, 2.3488),
    ("Amsterdam", 52.37403, 4.88969),
    ("Berlin", 52.52437, 13.41053),
)

_STATION_VALUES = ", ".join(
    f"('{n}', {la}, {lo})" for n, la, lo in STATIONS
)


@register(
    "x139_haversine_nearest_station",
    oracle=f"""
WITH st(name, lat, lon) AS (VALUES {_STATION_VALUES}),
pairs AS (
  SELECT a.name AS station, b.name AS neighbor,
         round(2 * 6371.0088 * asin(sqrt(
           pow(sin(radians(b.lat - a.lat) / 2), 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * pow(sin(radians(b.lon - a.lon) / 2), 2))), 6) AS dist_km
  FROM st a JOIN st b ON a.name <> b.name
)
SELECT station, neighbor, dist_km
FROM (
  SELECT *, row_number() OVER (PARTITION BY station
                               ORDER BY dist_km, neighbor) AS rn
  FROM pairs
) WHERE rn = 1
""",
    doc="X139: HAVERSINE nearest station — the spatial primitive the "
    "reference's domain implies (weather.py geocodes a city to lat/lon; "
    "a fleet of stations needs 'which station covers this point'): "
    "great-circle distance between every station pair and each "
    "station's nearest neighbor. The haversine runs as one shared "
    "trig expression (radians/sin/cos/asin are the r16 scalar "
    "surface), 6dp-rounded before the argmin so the winner is "
    "engine-exact, tie-break (dist, neighbor). The station table is a "
    "shared VALUES literal of public coordinates. Scale: an all-pairs "
    "join is right for a station DIMENSION (thousands); for "
    "point-to-station assignment at event volume the documented plan "
    "is geohash-prefix bucketing — band each point to its cell + "
    "neighbor cells and join on the cell key, turning the cross join "
    "into a bounded equi-join (the x36 orthant-blocking idea on a "
    "sphere).",
)
def x139_haversine_nearest_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pure-JVM literal relation (LocalTableScan, one partition), like
    # session.local_rows. Never a Python-list DataFrame: that plans
    # defaultParallelism pickled partitions a Python worker maps on every
    # action — measured ~4.5 s of fixed overhead PER ACTION for 8 rows
    # (behind a coalesce(1)).
    st = spark.sql(
        f"SELECT * FROM VALUES {_STATION_VALUES} AS t(name, lat, lon)"
    )
    a, b = st.alias("a"), st.alias("b")
    dlat = F.radians(F.col("b.lat") - F.col("a.lat"))
    dlon = F.radians(F.col("b.lon") - F.col("a.lon"))
    h = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(F.col("a.lat")))
        * F.cos(F.radians(F.col("b.lat")))
        * F.pow(F.sin(dlon / 2), 2)
    )
    dist = F.round(2 * 6371.0088 * F.asin(F.sqrt(h)), 6)
    pairs = (
        a.join(b, F.col("a.name") != F.col("b.name"))
        .select(
            F.col("a.name").alias("station"),
            F.col("b.name").alias("neighbor"),
            dist.alias("dist_km"),
        )
    )
    w = Window.partitionBy("station").orderBy("dist_km", "neighbor")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("station", "neighbor", "dist_km")
    )

@register(
    "x139b_cell_bucketed_station_assign",
    oracle=f"""
WITH st(name, lat, lon) AS (VALUES {_STATION_VALUES}),
cells AS (
  SELECT st.name, st.lat, st.lon,
         CAST(round(st.lat * 100000) AS BIGINT) // 400000 + dy.d AS clat,
         (CAST(round(st.lon * 100000) AS BIGINT) + 800000) // 400000 + dx.d
             AS clon
  FROM st, (VALUES (-1), (0), (1)) dy(d), (VALUES (-1), (0), (1)) dx(d)
),
pts AS (
  SELECT event_id,
         48.0 + (event_id % 800) / 100.0 AS plat,
         -7.0 + (event_id % 2100) / 100.0 AS plon
  FROM events
),
cand AS (
  SELECT p.event_id, c.name,
         round(2 * 6371.0088 * asin(sqrt(
           pow(sin(radians(c.lat - p.plat) / 2), 2)
           + cos(radians(p.plat)) * cos(radians(c.lat))
             * pow(sin(radians(c.lon - p.plon) / 2), 2))), 6) AS dist_km
  FROM pts p JOIN cells c
    ON (4800 + p.event_id % 800) // 400 = c.clat
   AND (100 + p.event_id % 2100) // 400 = c.clon
),
best AS (
  SELECT event_id, name, dist_km,
         row_number() OVER (PARTITION BY event_id
                            ORDER BY dist_km, name) AS rn
  FROM cand
)
SELECT name AS station,
       count(*) AS n_points,
       min(dist_km) AS min_km,
       max(dist_km) AS max_km,
       round(CAST(SUM(CAST(dist_km AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_km
FROM best WHERE rn = 1
GROUP BY name
""",
    doc="X139b: cell-bucketed point-to-station assignment — x139's "
    "documented scale path (scalar_functions.py x139 docstring) made "
    "executable.  Point coordinates derive from event_id by an exact "
    "integer rule (lat = 48 + (id%800)/100, lon = -7 + (id%2100)/100) so "
    "both engines bucket identically.  The grid is 4-degree integer "
    "lat/lon cells computed in INTEGER space (risk burn-down: the point "
    "side is centi-degrees straight from event_id — (4800 + id%800) DIV "
    "400 — and the station side rounds 5dp literals to e5 units before "
    "the DIV; the +8-degree shift keeps every numerator positive, so "
    "truncating DIV equals floor in both engines with no float floor "
    "anywhere); "
    "each station replicates to its cell + 8 neighbor cells (8 stations "
    "x 9 = 72 rows, a broadcast dimension), points equi-join on the cell "
    "key, then a per-point argmin (6dp-rounded haversine, tie-break "
    "name) picks the winner.  Semantics: nearest station WITHIN the 3x3 "
    "cell neighborhood — the production contract where cell size bounds "
    "station coverage radius; with this grid every fixture point has a "
    "candidate.  At 100 TB the cross join of x139 becomes a broadcast "
    "hash equi-join on the cell key + one shuffle on event_id for the "
    "argmin window (WindowGroupLimit prunes to top-1 map-side), then a "
    "stations-sized aggregate.  Plan-asserted: no "
    "BroadcastNestedLoopJoin (tests/test_plans.py).",
)
def x139b_cell_bucketed_station_assign(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math

    # 8 stations x 9 cells = 72 rows — a literal dimension, built driver-
    # side (the station table is configuration, not data; at 100 TB the
    # replicated-cell table is still stations x 9 and broadcasts).  The
    # cell rule floor(lat/4) / floor((lon+8)/4) matches the point-side
    # expression bit-for-bit: same IEEE doubles, same floor.
    cell_values = ", ".join(
        f"('{n}', CAST({la!r} AS DOUBLE), CAST({lo!r} AS DOUBLE), "
        f"{math.floor(la / 4) + dy}L, {math.floor((lo + 8) / 4) + dx}L)"
        for n, la, lo in STATIONS
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
    )
    # Pure-JVM literal relation — see x139's note: a Python-list
    # DataFrame costs Python-worker round-trips on every action; VALUES,
    # like session.local_rows, is a LocalTableScan.
    cells = spark.sql(
        f"SELECT * FROM VALUES {cell_values} AS t(name, lat, lon, clat, clon)"
    )
    pts = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.lit(48.0) + (F.col("event_id") % 800) / 100.0).alias("plat"),
        (F.lit(-7.0) + (F.col("event_id") % 2100) / 100.0).alias("plon"),
    )
    joined = pts.join(
        F.broadcast(cells),
        # integer-space cell keys: (4800 + id%800) spans [4800, 5600) and
        # (100 + id%2100) spans [100, 2200) — positive, so DIV == floor
        (F.expr("(4800 + event_id % 800) DIV 400") == F.col("clat"))
        & (F.expr("(100 + event_id % 2100) DIV 400") == F.col("clon")),
    )
    dlat = F.radians(F.col("lat") - F.col("plat"))
    dlon = F.radians(F.col("lon") - F.col("plon"))
    h = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(F.col("plat")))
        * F.cos(F.radians(F.col("lat")))
        * F.pow(F.sin(dlon / 2), 2)
    )
    cand = joined.select(
        "event_id",
        "name",
        F.round(2 * 6371.0088 * F.asin(F.sqrt(h)), 6).alias("dist_km"),
    )
    w = Window.partitionBy("event_id").orderBy("dist_km", "name")
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return best.groupBy(F.col("name").alias("station")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("dist_km").alias("min_km"),
        F.max("dist_km").alias("max_km"),
        F.round(
            F.sum(F.col("dist_km").cast(T.DecimalType(18, 6))).cast("double"),
            6,
        ).alias("sum_km"),
    )
