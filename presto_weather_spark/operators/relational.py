"""Relational core — S-series operators (SURVEY.md §2.2 S3-S8, plus R18).

Every query here is declarative DataFrame API: Catalyst handles predicate
pushdown into the parquet scan, column pruning, join strategy selection
(broadcast for the small dims), and partial aggregation.  Scale notes are
given per query; the recurring ones:

- Dim tables (region/nation/supplier, weather_codes) are broadcast — no
  shuffle regardless of fact-table size.
- Fact-fact joins (lineitem x orders) shuffle on the join key; at 100 TB the
  right fix is bucketing both tables on orderkey at write time, which Spark
  then exploits to skip the exchange — noted where relevant.
- Aggregations rely on Catalyst's partial (map-side) aggregation; no
  explicit combiner code is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_weather_spark.operators._util import (
    GLOBAL_RANK_LOCAL_LIMIT,
    dec,
    distributed_global_rank,
    dsum,
    exact_ntile,
    grand_total_if_empty,
    materialize,
    spread,
    sql_dsum,
)
from presto_weather_spark.registry import register
from presto_weather_spark.session import conf_scope, load_table, local_rows, stage_dir


# ---------------------------------------------------------------------------
# S3 — projection / filter
# ---------------------------------------------------------------------------


@register(
    "s03_filter_predicates",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem
WHERE (l_returnflag IN ('A', 'R') OR l_linestatus = 'O')
  AND l_quantity BETWEEN 10 AND 40
  AND l_discount IS NOT NULL
  AND NOT (CAST(round(l_tax * 100) AS BIGINT) > 7)
""",
    doc="S3: compound predicate (AND/OR/NOT/IN/BETWEEN/IS NULL) pushed into "
    "the parquet scan (the reference's only predicates are control-flow "
    "guards, /root/reference/weather.py:50,80-82). The tax threshold "
    "compares in INTEGER basis-point space (the s11 convention, round-8 "
    "float_literal_cmp burn-down): l_tax is an exact 2dp rate, so "
    "round(tax*100) is engine-exact, whereas a 0.07 double literal sits "
    "one ulp from the stored value's boundary in either direction.",
)
def s03_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag").isin("A", "R") | (F.col("l_linestatus") == "O"))
        & F.col("l_quantity").between(10, 40)
        & F.col("l_discount").isNotNull()
        & ~(F.expr("CAST(round(l_tax * 100) AS BIGINT)") > 7)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")


# ---------------------------------------------------------------------------
# S5 — aggregation
# ---------------------------------------------------------------------------


@register(
    "s05_agg_pricing_summary",
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       ROUND(AVG(l_quantity), 2) AS avg_qty,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="S5: TPC-H-Q1-shaped hash aggregation — multi-agg groupBy with "
    "map-side partial aggregation (Catalyst-internal). Money sums in exact "
    "DECIMAL for run-order independence.",
)
def s05_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(dec(F.col("l_extendedprice")) * (1 - dec(F.col("l_discount"))))
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


@register(
    "s05b_rollup_region_nation",
    oracle="""
SELECT r.r_name AS region_name,
       n.n_name AS nation_name,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
       CAST(GROUPING(r.r_name) AS INT) + CAST(GROUPING(n.n_name) AS INT) AS grouping_level
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""",
    doc="S5: ROLLUP grouping sets over the region/nation hierarchy with "
    "GROUPING() disambiguation of the NULL subtotal rows.",
)
def s05b_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            "c_acctbal",
        )
    )
    out = joined.rollup("region_name", "nation_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum(F.col("c_acctbal")).alias("total_acctbal"),
        (
            F.grouping(F.col("region_name")).cast("int")
            + F.grouping(F.col("nation_name")).cast("int")
        ).alias("grouping_level"),
    )
    # standard-SQL () grouping set on empty input (see grand_total_if_empty)
    return grand_total_if_empty(joined, out, (None, None, 0, None, 2))


@register(
    "s05c_cube_order_status",
    oracle="""
SELECT o_orderstatus,
       o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="S5: CUBE over two low-cardinality dimensions.",
)
def s05c_cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    out = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )
    # standard-SQL () grouping set on empty input (see grand_total_if_empty)
    return grand_total_if_empty(o, out, (None, None, 0, None))


@register(
    "s05d_count_distinct",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
    doc="S5: exact COUNT(DISTINCT) — expands to a two-phase aggregate in "
    "Catalyst (distinct shuffle then count).",
)
def s05d_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "s05e_approx_count_distinct",
    oracle=None,  # HLL sketch result is engine-specific -> rows-only check
    doc="S5: approx_count_distinct (HyperLogLog++) — the 100 TB-scale "
    "substitute for exact distinct; sketch values are engine-specific so "
    "this is a rows-only check (exact counterpart: s05d).",
)
def s05e_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Default rsd (0.05): the 0.01 variant needs a 2^14-register sketch per
    # group/column and ran ~4x slower for precision the use case never needs
    # (approx distinct exists to AVOID exact-cardinality cost).
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
    )


# ---------------------------------------------------------------------------
# S4 — joins
# ---------------------------------------------------------------------------


@register(
    "s04_star_join_revenue",
    oracle="""
SELECT r.r_name AS region_name,
       n.n_name AS nation_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderstatus <> 'F'
GROUP BY r.r_name, n.n_name
""",
    doc="S4: 5-way star join (TPC-H-Q5-shaped). lineitem-orders is the only "
    "fact-fact shuffle; customer/nation/region are broadcast. At 100 TB, "
    "bucket lineitem+orders on orderkey to eliminate the exchange.",
)
def s04_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.sum(dec(F.col("l_extendedprice")) * (1 - dec(F.col("l_discount"))))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "s04b_outer_join_order_counts",
    oracle="""
SELECT c.c_custkey,
       c.c_name,
       COUNT(o.o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spend
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name
""",
    doc="S4: LEFT OUTER join preserving customers with zero orders "
    "(COUNT(col) null-skipping semantics).",
)
def s04b_outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec(F.col("o_totalprice"))), F.lit(0))
            .cast("double")
            .alias("total_spend"),
        )
    )


@register(
    "s04c_semi_anti_join",
    oracle="""
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       TRUE AS has_urgent_order
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
UNION ALL
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       FALSE AS has_urgent_order
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
""",
    doc="S4: LEFT SEMI (EXISTS) + LEFT ANTI (NOT EXISTS) joins — no "
    "right-side duplication, early-out probe; the scalable form of "
    "IN-subquery at 100 TB.",
)
def s04c_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cols = ["c_custkey", "c_name", "c_mktsegment"]
    with_u = (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
        .select(*cols)
        .withColumn("has_urgent_order", F.lit(True))
    )
    without_u = (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .select(*cols)
        .withColumn("has_urgent_order", F.lit(False))
    )
    return with_u.unionByName(without_u)


@register(
    "s04d_range_join_ship_window",
    oracle="""
SELECT o.o_orderkey,
       COUNT(l.l_linenumber) AS n_shipped_in_window,
       CAST(COALESCE(SUM(CAST(l.l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS qty_in_window
FROM orders o
LEFT JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <  o.o_orderdate + INTERVAL 30 DAY
WHERE o.o_orderstatus = 'O'
GROUP BY o.o_orderkey
""",
    doc="S4: range (theta) join — equi key plus a date-interval band "
    "predicate. The equi component keeps it a hash join (band applied as a "
    "post-join filter), which is the scalable plan; a pure band join would "
    "need bucketized range keys.",
)
def s04d_range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
    )
    return (
        o.join(li, cond, "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("l_linenumber").alias("n_shipped_in_window"),
            F.coalesce(F.sum(dec(F.col("l_quantity"))), F.lit(0))
            .cast("double")
            .alias("qty_in_window"),
        )
    )


@register(
    "s04e_asof_join_latest_order",
    oracle="""
WITH ranked AS (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderkey, o.o_orderdate,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
SELECT event_id, user_id,
       CAST(date_trunc('second', ts) AS VARCHAR) AS event_ts,
       o_orderkey AS asof_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS asof_orderdate
FROM ranked WHERE rn = 1
""",
    doc="S4: as-of join — each event matched to the latest order at or "
    "before its timestamp (reference analogue: latest-value display, "
    "weather.py:324-333). Composed as equi-join on user + window top-1; at "
    "100 TB prefer per-key applyInPandas merge_asof or a bucketized range "
    "join to avoid the join fan-out.",
)
def s04e_asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    joined = e.join(
        o, (o.o_custkey == e.user_id) & (o.o_orderdate <= e.ts), "left"
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
            F.col("o_orderkey").alias("asof_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("asof_orderdate"),
        )
    )


@register(
    "s04f_cross_join_region_pairs",
    oracle="""
SELECT a.r_name AS from_region, b.r_name AS to_region
FROM region a CROSS JOIN region b
WHERE a.r_regionkey <> b.r_regionkey
""",
    doc="S4: explicit cross join (tiny dims only — cartesian products are "
    "banned on fact tables at scale).",
)
def s04f_cross_join_region_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("ak"), F.col("r_name").alias("from_region"))
    b = r.select(F.col("r_regionkey").alias("bk"), F.col("r_name").alias("to_region"))
    return a.crossJoin(b).filter(F.col("ak") != F.col("bk")).select("from_region", "to_region")


# ---------------------------------------------------------------------------
# S6 — window functions (plus R18 running offset)
# ---------------------------------------------------------------------------


@register(
    "s06_window_rank_lag",
    oracle="""
SELECT o_custkey,
       o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       row_number() OVER w AS rn,
       rank() OVER (PARTITION BY o_custkey ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC) AS price_rank,
       dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS prio_dense_rank,
       lag(o_orderkey) OVER w AS prev_orderkey,
       lead(o_orderkey) OVER w AS next_orderkey,
       ntile(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    doc="S6: ranking + offset window functions over per-customer order "
    "history. One shuffle on the partition key; rank ties broken on an "
    "exact DECIMAL view of the price so both engines sort identically.",
)
def s06_window_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy(dec(F.col("o_totalprice")).desc())
    wd = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.row_number().over(w).alias("rn"),
        F.rank().over(wp).alias("price_rank"),
        F.dense_rank().over(wd).alias("prio_dense_rank"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "s06b_window_frames_running",
    oracle="""
SELECT l_orderkey,
       l_linenumber,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER w_run AS DOUBLE) AS running_qty,
       ROUND(AVG(l_quantity) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg_qty,
       CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER
            (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS offset_before
FROM lineitem
WINDOW
  w AS (PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice),
  w_run AS (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    doc="S6+R18: running/moving frame aggregates; offset_before reproduces "
    "the reference's running text-offset shape (weather.py:233-238 — each "
    "char drawn at the cumulative width of its predecessors). l_linenumber "
    "is NOT unique per order in the synthetic data, so the window orders by "
    "the full composite key for determinism.",
)
def s06b_window_frames_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum(dec(F.col("l_quantity")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_qty"),
        F.round(
            F.avg("l_quantity").over(w.rowsBetween(-2, Window.currentRow)), 4
        ).alias("moving_avg_qty"),
        F.coalesce(
            F.sum(dec(F.col("l_quantity"))).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("double")
        .alias("offset_before"),
    )


@register(
    "s06f_salted_running_window",
    oracle="""
SELECT event_id, event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY event_type ORDER BY event_id) AS DOUBLE)
         AS running_value
FROM events
""",
    doc="S6f: salted two-pass RUNNING aggregate — the giant-window-"
    "partition fix SCALE.md names (a hot event_type funnels the whole "
    "log through ONE window task in the direct form, which is the "
    "oracle here). Pass 1 buckets the order key into contiguous ranges "
    "(event_id DIV 8192) and computes the running sum INSIDE each "
    "(event_type, bucket) — parallel across buckets. Pass 2 cumulates "
    "the per-bucket totals on a buckets-sized table (the only "
    "single-key window, thousands of rows at any scale) to get each "
    "bucket's starting offset, broadcast-joined back and added. "
    "DECIMAL(18,2) partials make the split bit-identical to the "
    "direct window regardless of aggregation order. Scale: the "
    "row-grain window key is (event_type, bucket) — cardinality grows "
    "with data volume, so no partition outgrows a task; the merge "
    "table is |buckets| rows.",
)
def s06f_salted_running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.expr("event_id DIV 8192").alias("bucket"),
    )
    w_intra = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = ev.withColumn("intra", F.sum(dec(F.col("value"))).over(w_intra))
    btot = ev.groupBy("event_type", "bucket").agg(
        F.sum(dec(F.col("value"))).alias("btot")
    )
    w_off = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = btot.select(
        "event_type",
        "bucket",
        F.coalesce(F.sum("btot").over(w_off), F.lit(0).cast("decimal(38,2)")).alias(
            "offset"
        ),
    )
    return intra.join(F.broadcast(offsets), ["event_type", "bucket"]).select(
        "event_id",
        "event_type",
        (F.col("intra") + F.col("offset")).cast("double").alias("running_value"),
    )


# ---------------------------------------------------------------------------
# S7 — sort / limit / top-k
# ---------------------------------------------------------------------------


@register(
    "s07_global_topk",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date
FROM orders
ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey ASC
LIMIT 25
""",
    doc="S7: global top-k with deterministic tiebreak — Spark plans "
    "TakeOrderedAndProject (per-partition heap + driver merge), no full "
    "sort; the scalable top-k.",
)
def s07_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(dec(F.col("o_totalprice")).desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


@register(
    "s07b_topk_per_group",
    oracle="""
WITH ranked AS (
  SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) DESC, c_custkey) AS rn
  FROM customer
)
SELECT c_mktsegment, c_custkey, c_name, c_acctbal, rn AS segment_rank
FROM ranked WHERE rn <= 5
""",
    doc="S7: top-k per group via window row_number — the partitioned form "
    "that scales (no global sort).",
)
def s07b_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        dec(F.col("c_acctbal")).desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("segment_rank", F.row_number().over(w))
        .filter(F.col("segment_rank") <= 5)
        .select("c_mktsegment", "c_custkey", "c_name", "c_acctbal", "segment_rank")
    )


# ---------------------------------------------------------------------------
# S8 — set operations
# ---------------------------------------------------------------------------


@register(
    "s08_set_operations",
    oracle="""
WITH big_spenders AS (
  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
),
urgent AS (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT 'union' AS op, custkey FROM (SELECT custkey FROM big_spenders UNION SELECT custkey FROM urgent)
UNION ALL
SELECT 'intersect' AS op, custkey FROM (SELECT custkey FROM big_spenders INTERSECT SELECT custkey FROM urgent)
UNION ALL
SELECT 'except' AS op, custkey FROM (SELECT custkey FROM big_spenders EXCEPT SELECT custkey FROM urgent)
""",
    doc="S8: UNION (distinct), INTERSECT, EXCEPT over two derived key sets, "
    "tagged and unioned into one result.",
)
def s08_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "custkey")  # noqa: E731
    return (
        tag(big.union(urgent).distinct(), "union")
        .unionByName(tag(big.intersect(urgent), "intersect"))
        .unionByName(tag(big.subtract(urgent), "except"))
    )


# ---------------------------------------------------------------------------
# S5 extras — exact percentiles, pivot; S3 extras — subqueries
# ---------------------------------------------------------------------------


@register(
    "s05f_percentiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 4) AS p25,
       round(quantile_cont(l_quantity, 0.50), 4) AS p50,
       round(quantile_cont(l_quantity, 0.75), 4) AS p75,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95
FROM lineitem
GROUP BY l_returnflag
""",
    doc="S5: exact percentiles (continuous interpolation) per group — "
    "Spark percentile() == DuckDB quantile_cont. Exact percentile sorts "
    "within each group; at 100 TB switch to approx_percentile (t-digest, "
    "mergeable map-side sketch, no full sort) — the s05e pattern.",
)
def s05f_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Exact percentile's partial phase buffers every value, so spread the
    # buffering (the sub-key keeps groups intact while fanning out rows).
    li = spread(li, "l_returnflag", "l_linenumber")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("l_quantity", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 4).alias("p75"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("price_p95"),
    )


@register(
    "s05g_pivot_event_matrix",
    oracle="""
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click') AS click,
       COUNT(*) FILTER (event_type = 'error') AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup') AS signup,
       COUNT(*) FILTER (event_type = 'view') AS view
FROM events
GROUP BY user_id
""",
    doc="S5: pivot — long-to-wide event counts per user with an explicit "
    "value list (no discovery scan; at scale the values-unknown form "
    "needs an extra distinct pass, so always pin the columns). "
    "Equivalent to per-value FILTERed counts.",
)
def s05g_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@register(
    "s03b_subqueries",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
  AND o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'BUILDING')
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
""",
    doc="S3/S4: scalar subquery + uncorrelated IN + correlated EXISTS — "
    "Catalyst rewrites these to a broadcast scalar, a left-semi hash join, "
    "and a correlated semi join; no driver-side collect anywhere.",
)
def s03b_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    avg_price = o.select(F.avg("o_totalprice").alias("a"))
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    heavy = li.filter(F.col("l_quantity") >= 45).select("l_orderkey")
    return (
        o.join(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("a"))
        .join(building, o.o_custkey == building.c_custkey, "left_semi")
        .join(heavy, o.o_orderkey == heavy.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
    )


# s16's SQL for the oracle and spark.sql; only the date rendering in the
# select list differs between the engines.
_S16_REVENUE = (
    "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount "
    "AS DECIMAL(18,2)))) AS DOUBLE) AS revenue"
)
_S16_FROM = """FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, orderdate, l.l_orderkey
LIMIT 10
"""


@register(
    "s16_sql_api_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
       {_S16_REVENUE},
       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       o.o_orderpriority
{_S16_FROM}""",
    doc="S1/S4/S5/S7 via the SQL front-end: TPC-H-Q3-shaped shipping "
    "priority, submitted as a SQL string over registered views "
    "(spark.sql) rather than the DataFrame API — both front-ends compile "
    "to the same Catalyst plan, which this query's oracle match proves.",
)
def s16_sql_api_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT l.l_orderkey,
               {_S16_REVENUE},
               date_format(o.o_orderdate, 'yyyy-MM-dd') AS orderdate,
               o.o_orderpriority
        {_S16_FROM}"""
    )


@register(
    "s07c_sort_nulls_ordering",
    oracle="""
WITH spend AS (
  SELECT c.c_custkey, c.c_name,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey, c.c_name
)
SELECT c_custkey, c_name, total_spend
FROM spend
ORDER BY total_spend DESC NULLS FIRST, c_custkey
LIMIT 25
""",
    doc="S7: multi-key sort with explicit NULLS FIRST — customers without "
    "orders (NULL spend from the left join) sort ahead of the biggest "
    "spenders; unique-key tiebreak makes the LIMIT boundary deterministic. "
    "Plans as TakeOrderedAndProject (per-partition heaps + driver merge of "
    "k rows), never a global sort.",
)
def s07c_sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(dsum(F.col("o_totalprice")).alias("total_spend"))
    )
    return (
        spend.orderBy(
            F.col("total_spend").desc_nulls_first(), F.col("c_custkey")
        )
        .limit(25)
    )


@register(
    "s04g_bucketed_colocated_join",
    oracle="""
SELECT l.l_orderkey,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS line_total,
       MAX(o.o_totalprice) AS order_total
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_orderkey < 3000
GROUP BY l.l_orderkey
""",
    doc="S4 at scale: fact-fact join on co-located bucketed tables — both "
    "sides written bucketed by the join key (8 buckets here; thousands at "
    "100 TB), so the SortMergeJoin consumes bucket layout directly and the "
    "plan has NO Exchange on either side (verifiable with .explain). This "
    "is the write-time answer to the biggest shuffle in the star schema; "
    "the oracle verifies the join result itself.",
)
def s04g_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    warehouse = stage_dir("bucketed", sf_dir)
    for name, df, key in (("li_b", li, "l_orderkey"), ("o_b", o, "o_orderkey")):
        table = f"pws_{name}"
        path = _os.path.join(warehouse, name)
        (
            df.write.mode("overwrite")
            .option("path", path)
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(table)
        )
    lb = spark.table("pws_li_b")
    ob = spark.table("pws_o_b")
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice")).alias("line_total"),
            F.max("o_totalprice").alias("order_total"),
        )
    )


N_SALTS = 16


@register(
    "s05h_salted_two_phase_agg",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
""",
    doc="S5 scale pattern: SALTED two-phase aggregation — phase 1 groups "
    "on (user_id, salt) with salt = event_id % 16 so a hot key's rows "
    "spread over 16 reducers; phase 2 merges the 16 partials per key. "
    "Decimal partial sums are exact and associative, so the result is "
    "bit-identical to the direct GROUP BY (the oracle). The fixture's "
    "keys are uniform — this entry exists to pin the skew-mitigation "
    "plan shape (two exchanges, both bounded) the 100 TB deployment "
    "switches to when a key exceeds a reducer; Spark's own map-side "
    "partial aggregation makes it redundant for COUNT/SUM, which is "
    "exactly what the oracle equality proves.",
)
def s05h_salted_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    partial = (
        e.withColumn("salt", (F.col("event_id") % N_SALTS).cast("int"))
        .groupBy("user_id", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("pv"),
        )
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.sum("pv").cast("double").alias("total_value"),
    )


@register(
    "s06c_window_ntile_distribution",
    oracle="""
SELECT o_orderkey,
       o_orderpriority,
       ntile(4) OVER w AS price_quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
""",
    doc="S6: distribution window functions — ntile quartiles, "
    "percent_rank, cume_dist per priority class. The (o_totalprice, "
    "o_orderkey) ordering is a total order, so tile edges are "
    "deterministic. One shuffle on the partition key; each partition "
    "sorts locally — the same single-exchange shape as s06.",
)
def s06c_window_ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "s05i_grouping_sets",
    oracle="""
SELECT o_orderpriority,
       o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), (o_orderstatus))
""",
    doc="S5: explicit GROUPING SETS — the non-hierarchical combination "
    "((a,b),(a),(b)) that neither rollup (s05b) nor cube (s05c) "
    "expresses. Catalyst expands rows once per set before the single "
    "shuffle, so cost scales with set count x groups, not input size.",
)
def s05i_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderpriority,
               o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus))
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "s06d_window_first_last",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
       first_value(l_quantity) OVER w AS first_qty,
       last_value(l_quantity) OVER (PARTITION BY l_orderkey
                                    ORDER BY l_linenumber, l_partkey, l_suppkey,
                                             l_quantity, l_extendedprice
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND UNBOUNDED FOLLOWING) AS last_qty,
       nth_value(l_quantity, 2) OVER (PARTITION BY l_orderkey
                                      ORDER BY l_linenumber, l_partkey, l_suppkey,
                                               l_quantity, l_extendedprice
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND UNBOUNDED FOLLOWING) AS second_qty
FROM lineitem
WINDOW w AS (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey,
                      l_quantity, l_extendedprice)
""",
    doc="S6: first_value/last_value/nth_value navigation — last/nth need the "
    "explicit full frame (the default frame stops at CURRENT ROW, where "
    "last_value degenerates to the current row). Ordering uses the full "
    "composite key because (l_orderkey, l_linenumber) is NOT unique in "
    "the test data. One shuffle on l_orderkey, same profile as s06.",
)
def s06d_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    order_cols = ["l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"]
    w = Window.partitionBy("l_orderkey").orderBy(*order_cols)
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_quantity",
        F.first("l_quantity").over(w).alias("first_qty"),
        F.last("l_quantity").over(full).alias("last_qty"),
        F.nth_value("l_quantity", 2).over(full).alias("second_qty"),
    )


@register(
    "s03c_exists_subqueries",
    oracle="""
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                    AND o.o_totalprice < 50000)
""",
    doc="S3: correlated EXISTS / NOT EXISTS through the SQL front-end — "
    "Catalyst de-correlates both into a left-semi and a left-anti hash "
    "join on o_custkey (no per-row re-execution, unlike a naive nested "
    "loop); the same de-correlation is what makes these safe at 100 TB.",
)
def s03c_exists_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, c.c_mktsegment
        FROM {customer} c
        WHERE EXISTS (SELECT 1 FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM {orders} o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                            AND o.o_totalprice < 50000)
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "s05j_string_agg",
    oracle="""
SELECT l_returnflag,
       string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
       string_agg(DISTINCT CAST(year(l_shipdate) AS VARCHAR), '|'
                  ORDER BY CAST(year(l_shipdate) AS VARCHAR)) AS ship_years,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    doc="S5: ordered string aggregation (array_agg/string_agg family) — "
    "collect_set is partial-aggregated map-side, then sorted ONCE per "
    "group before join to a display string; sorting inside the agg (not "
    "relying on input order) is what makes the output deterministic "
    "under any partitioning, which the oracle match proves.",
)
def s05j_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("l_linestatus"))).alias("statuses"),
        F.concat_ws(
            "|", F.array_sort(F.collect_set(F.year("l_shipdate").cast("string")))
        ).alias("ship_years"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "s17_merge_upsert_latest",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type, value, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type AS last_event_type,
       value AS last_value, event_id AS last_event_id
FROM ranked WHERE rn = 1
""",
    doc="S17: CDC merge/upsert — a base snapshot (latest state per user_id "
    "from the older half of the log) merged with a delta (newer half) by "
    "unionByName + keyed row_number, the engine-agnostic MERGE INTO "
    "pattern for parquet lakes without a table format. The oracle "
    "(latest event per key over the whole log) proves snapshot+delta "
    "merge == full recompute. At scale the base is already deduped, so "
    "the window only re-ranks base_keys + delta rows, not full history; "
    "partitioning both sides by user_id makes the merge shuffle-free.",
)
def s17_merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cols = ["user_id", "event_type", "value", "event_id", "ts"]
    cutoff = e.select(F.expr("percentile(CAST(event_id AS DOUBLE), 0.5)").alias("c"))
    tagged = e.select(*cols).join(F.broadcast(cutoff))
    base_log = tagged.filter(F.col("event_id") <= F.col("c")).drop("c")
    delta = tagged.filter(F.col("event_id") > F.col("c")).drop("c")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    base_snapshot = (
        base_log.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    merged = base_snapshot.unionByName(delta)
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.col("event_id").alias("last_event_id"),
        )
    )


@register(
    "s05k_unpivot",
    oracle="""
SELECT o_orderstatus, 'avg_price' AS measure, ROUND(AVG(o_totalprice), 4) AS val
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT o_orderstatus, 'max_price', ROUND(MAX(o_totalprice), 4)
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT o_orderstatus, 'n_orders', CAST(COUNT(*) AS DOUBLE)
FROM orders GROUP BY o_orderstatus
""",
    doc="S5: UNPIVOT (wide-to-long) — the inverse of s05g's pivot: one "
    "aggregate row per group melts into (measure, val) rows via the "
    "native unpivot operator (Catalyst Expand: one pass, no self-union; "
    "the UNION ALL oracle shows the semantics, but re-scans per "
    "measure — exactly what unpivot avoids at scale).",
)
def s05k_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["avg_price", "max_price", "n_orders"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "x14_hll_sketch_union",
    oracle=None,  # sketch estimates are engine-specific -> rows-only check
    doc="X14: mergeable HyperLogLog sketches (Datasketches HLL) — per-"
    "(lang, source) user... doc-cardinality sketches built with "
    "hll_sketch_agg, then rolled up to per-lang totals by "
    "hll_union_agg WITHOUT rescanning the base data. This is the "
    "100 TB cardinality pattern: sketches are tiny, associative, and "
    "union-able across partitions/days, so daily sketches roll into "
    "monthly/all-time counts in milliseconds (exact distinct would "
    "re-shuffle the full corpus per rollup). Estimates are "
    "engine-specific: rows-only check; determinism pytest-covered via "
    "s05e precedent.",
)
def x14_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("lang", "source").agg(
        F.hll_sketch_agg("doc_id").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return per_src.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_docs"),
        F.sum("n_rows").alias("n_rows"),
    )


@register(
    "s18_returned_items_report",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       ROUND(c.c_acctbal, 2) AS acctbal,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    doc="S18: TPC-H-Q10-shaped returned-item report — the composite plan: "
    "selective scan filters pushed to both fact scans (returnflag on "
    "lineitem, date range on orders), one fact-fact shuffle join "
    "(lineitem x orders), broadcast dims (customer at this SF ratio via "
    "AQE; nation always), hash aggregate on custkey, then global top-20 "
    "planned as TakeOrderedAndProject (per-partition heaps, never a "
    "full sort). The judged composite of s03+s04+s05+s07 in one plan.",
)
def s18_returned_items_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    o_f = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    li_f = li.filter(F.col("l_returnflag") == "R")
    joined = (
        li_f.join(o_f, li_f.l_orderkey == o_f.o_orderkey)
        .join(c, o_f.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name", "c_acctbal").agg(
        F.sum(dec(F.col("l_extendedprice")) * (1 - dec(F.col("l_discount"))))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return (
        agg.select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_items",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "s06e_range_interval_window",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS trailing_30d_spend,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                           RANGE BETWEEN INTERVAL 30 DAY PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
           AS trailing_30d_orders
FROM orders
""",
    doc="S6: RANGE frame over event time — per-customer trailing-30-day "
    "spend/order-count, the moving-window pattern ROWS frames (s06b) "
    "cannot express (the frame is value-bounded, so ties and gaps in "
    "order dates are handled by time distance, not row position). Spark "
    "ranges over epoch seconds == DuckDB's INTERVAL range, oracle-"
    "proved. Same one-shuffle-per-partition-key profile as s06; at "
    "100 TB the sort within each customer partition is the only cost "
    "beyond the exchange.",
)
def s06e_range_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ts = F.unix_timestamp("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(ts)
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.sum(dec(F.col("o_totalprice"))).over(w).cast("double").alias("trailing_30d_spend"),
        F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
    )


# ---------------------------------------------------------------------------
# S5l — statistical aggregates (median / stddev / corr / regression)
# ---------------------------------------------------------------------------


@register(
    "s05l_stat_aggregates",
    oracle="""
SELECT l_returnflag,
       round(median(CAST(l_quantity AS DOUBLE)), 4) AS qty_median,
       round(stddev_samp(l_extendedprice), 4) AS price_stddev,
       round(var_samp(CAST(l_quantity AS DOUBLE)), 4) AS qty_var,
       round(corr(l_extendedprice, CAST(l_quantity AS DOUBLE)), 6) AS price_qty_corr,
       round(covar_samp(l_extendedprice, CAST(l_quantity AS DOUBLE)), 4) AS price_qty_covar,
       round(regr_slope(l_extendedprice, CAST(l_quantity AS DOUBLE)), 4) AS slope,
       round(regr_intercept(l_extendedprice, CAST(l_quantity AS DOUBLE)), 4) AS intercept
FROM lineitem
GROUP BY l_returnflag
""",
    doc="S5: statistical aggregate suite — exact median, sample "
    "stddev/variance, correlation, covariance, and linear-regression "
    "slope/intercept per group; Spark and DuckDB both use numerically "
    "stable merge formulas, reconciled by fixed-scale rounding. Scale: "
    "all but median are constant-state mergeable aggregates (one "
    "map-side-combined shuffle); exact median buffers per group — at "
    "100 TB swap to approx_percentile(0.5) (t-digest, mergeable).",
)
def s05l_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # exact median buffers group values in the partial phase; spread the
    # buffering (cf. s05f)
    li = spread(li, "l_returnflag", "l_linenumber")
    qty = F.col("l_quantity").cast("double")
    price = F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median(qty), 4).alias("qty_median"),
        F.round(F.stddev_samp(price), 4).alias("price_stddev"),
        F.round(F.var_samp(qty), 4).alias("qty_var"),
        F.round(F.corr(price, qty), 6).alias("price_qty_corr"),
        F.round(F.covar_samp(price, qty), 4).alias("price_qty_covar"),
        F.round(F.regr_slope(price, qty), 4).alias("slope"),
        F.round(F.regr_intercept(price, qty), 4).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# S19 — TPC-H-Q9-shaped profit report (5-table join, mixed broadcast + SMJ)
# ---------------------------------------------------------------------------


@register(
    "s19_profit_by_nation_year",
    oracle="""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * CAST(1 - l.l_discount AS DECIMAL(18,2))
                - CAST(p.p_retailprice AS DECIMAL(18,2))
                  * l.l_quantity * CAST(0.1 AS DECIMAL(18,1))) AS DOUBLE), 4)
           AS profit,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%bolt%'
GROUP BY n.n_name, year(o.o_orderdate)
""",
    doc="S19: TPC-H Q9-shaped profit report — lineitem joined to part "
    "(filtered, broadcast), supplier (broadcast), orders (the one genuine "
    "big-big shuffle join), and nation (broadcast), aggregated by supplier "
    "nation and order year with exact DECIMAL profit arithmetic "
    "(retailprice-based cost proxy; the driver schema has no partsupp). "
    "Scale: the part filter prunes before the broadcast; only "
    "lineitem-orders shuffles, on the join key both sides — at 100 TB "
    "pre-bucketing both tables on orderkey (s04g) removes that exchange "
    "too. The group-by key space (nations x years) is tiny, so the final "
    "agg is map-side partial + one narrow exchange.",
)
def s19_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(18,2)") - F.col("p_retailprice").cast("decimal(18,2)") * F.col(
        "l_quantity"
    ) * F.lit(0.1).cast("decimal(18,1)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(F.sum(profit).cast("double"), 4).alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# S20/S21 — TPC-H Q6- and Q18-shaped queries
# ---------------------------------------------------------------------------


@register(
    "s20_q6_forecast_revenue",
    oracle="""
SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4)
           AS revenue_delta,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="S20: TPC-H Q6-shaped forecast-revenue query — conjunctive "
    "range predicates on date/discount/quantity with a single global "
    "DECIMAL sum. The pure scan-throughput benchmark: every predicate "
    "reaches the parquet scan (PushedFilters min/max row-group skipping), "
    "and the aggregate is one map-side partial + a single-row final — at "
    "100 TB this query is IO-bound by exactly the bytes the filters "
    "cannot skip.",
)
def s20_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * F.col("l_discount").cast("decimal(18,2)")
                ).cast("double"),
                4,
            ).alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "s21_q18_large_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 260
)
SELECT c.c_name, o.o_orderkey,
       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       round(o.o_totalprice, 2) AS totalprice,
       CAST(big.sum_qty AS DOUBLE) AS sum_qty
FROM big
JOIN orders o   ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
    doc="S21: TPC-H Q18-shaped large-volume-customer query — aggregate "
    "lineitem per order, HAVING-filter to the heavy tail, then join the "
    "tiny survivor set to orders and customer. Scale shape: the HAVING "
    "reduces the big side BEFORE any join (one shuffle on orderkey, "
    "map-side partial sums); the survivor set is small enough that AQE "
    "demotes both joins to broadcast at runtime — the anti-pattern "
    "(join first, aggregate later) would shuffle lineitem x orders.",
)
def s21_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        # integer-valued quantities sum as BIGINT (risk burn-down)
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 260)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# S22 — recursive CTE calendar spine (gap-filled monthly series)
# ---------------------------------------------------------------------------


@register(
    "s22_recursive_month_spine",
    oracle="""
WITH RECURSIVE ks(k) AS (
  SELECT 0
  UNION ALL
  SELECT k + 1 FROM ks WHERE k < 95
),
bounds AS (
  SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
         CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
  FROM orders
),
spine AS (
  SELECT lo + to_months(CAST(k AS INT)) AS m
  FROM ks CROSS JOIN bounds
  WHERE lo + to_months(CAST(k AS INT)) <= hi
),
per_month AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         count(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_total
  FROM orders GROUP BY 1
)
SELECT substr(CAST(CAST(s.m AS DATE) AS VARCHAR), 1, 7) AS month,
       CAST(coalesce(p.n_orders, 0) AS BIGINT) AS n_orders,
       coalesce(p.month_total, 0.0) AS month_total
FROM spine s LEFT JOIN per_month p ON p.m = s.m
""",
    doc="S22: recursive CTE (Spark 4 WITH RECURSIVE) building a gap-free "
    "monthly calendar spine between the first and last order date, "
    "left-joined to per-month order totals so empty months surface as "
    "explicit zero rows — the standard time-series gap-fill pattern. "
    "Recursion depth is bounded (96 iterations, under Spark's default 100-level limit) and the recursive "
    "branch is constant-width, so the plan is a 96-row local series "
    "cross-joined to a scalar bounds row; only the per-month aggregate "
    "touches data. DuckDB oracle uses the identical recursion.",
)
def s22_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE ks(k) AS (
          SELECT 0
          UNION ALL
          SELECT k + 1 FROM ks WHERE k < 95
        ),
        bounds AS (
          SELECT to_date(date_trunc('month', min(o_orderdate))) AS lo,
                 to_date(date_trunc('month', max(o_orderdate))) AS hi
          FROM orders
        ),
        spine AS (
          SELECT add_months(lo, k) AS m
          FROM ks CROSS JOIN bounds
          WHERE add_months(lo, k) <= hi
        ),
        per_month AS (
          SELECT to_date(date_trunc('month', o_orderdate)) AS m,
                 count(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS month_total
          FROM orders GROUP BY 1
        )
        SELECT date_format(s.m, 'yyyy-MM') AS month,
               coalesce(p.n_orders, 0) AS n_orders,
               coalesce(p.month_total, 0.0) AS month_total
        FROM spine s LEFT JOIN per_month p ON p.m = s.m
        """
    )


@register(
    "s04h_full_outer_daily_activity",
    oracle="""
WITH od AS (
  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
  FROM orders GROUP BY 1
),
sd AS (
  SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n_ships
  FROM lineitem GROUP BY 1
)
SELECT CAST(CAST(coalesce(od.d, sd.d) AS DATE) AS VARCHAR) AS day,
       CAST(coalesce(od.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(coalesce(sd.n_ships, 0) AS BIGINT) AS n_ships
FROM od FULL OUTER JOIN sd ON od.d = sd.d
""",
    doc="S4h: FULL OUTER join — daily order activity vs daily shipment "
    "activity; ship dates extend past the order-date range, so both "
    "unmatched sides genuinely occur (order-only days and ship-only "
    "days surface with zero counts). Completes the join-type matrix "
    "(inner/left/right/semi/anti/range/as-of/cross/bucketed/full). "
    "Scale: both sides pre-aggregate to date cardinality BEFORE the "
    "join, so the full-outer shuffle moves day-count rows, not facts.",
)
def s04h_full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    od = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    sd = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n_ships")
    )
    return od.join(sd, "d", "full_outer").select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_ships", F.lit(0)).alias("n_ships"),
    )


@register(
    "s05m_time_rollup",
    oracle="""
SELECT coalesce(y, 'ALL') AS y,
       coalesce(m, 'ALL') AS m,
       coalesce(d, 'ALL') AS d,
       n_events, sum_value
FROM (
  SELECT substr(CAST(CAST(ts AS DATE) AS VARCHAR), 1, 4) AS y,
         substr(CAST(CAST(ts AS DATE) AS VARCHAR), 6, 2) AS m,
         substr(CAST(CAST(ts AS DATE) AS VARCHAR), 9, 2) AS d,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM events
  GROUP BY ROLLUP (1, 2, 3)
)
""",
    doc="S5: time-hierarchy ROLLUP over the event stream — the hypertable "
    "continuous-aggregate shape: one pass emits day, month, year, and "
    "grand-total rollups (year/month/day keys kept as strings so NULL "
    "grouping levels survive both engines' pandas conversion). Money "
    "sums in DECIMAL for partial-agg order independence. Scale: "
    "Spark expands rollup into grouping sets inside ONE hash aggregate "
    "with partial map-side combine — no extra shuffles vs a flat "
    "group-by.",
)
def s05m_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    out = (
        e.select(
            # Integer field extraction + lpad beats three DateTimeFormatter
            # passes per row; output strings are identical for 4-digit years.
            F.year("ts").cast("string").alias("y"),
            F.lpad(F.month("ts").cast("string"), 2, "0").alias("m"),
            F.lpad(F.dayofmonth("ts").cast("string"), 2, "0").alias("d"),
            "value",
        )
        .rollup("y", "m", "d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce("y", F.lit("ALL")).alias("y"),
            F.coalesce("m", F.lit("ALL")).alias("m"),
            F.coalesce("d", F.lit("ALL")).alias("d"),
            "n_events",
            "sum_value",
        )
    )
    # standard-SQL () grouping set on empty input (see grand_total_if_empty)
    return grand_total_if_empty(e, out, ("ALL", "ALL", "ALL", 0, None))

def _bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s23 join with runtime-bloom-filter-friendly shape: selective
    dimension (urgent orders) sort-merge-joined to the lineitem fact."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue"),
        )
    )


BLOOM_CONFS = {
    # Emulate the 100 TB size ratios at test scale: the app-side scan-size
    # gate (default 10 GB) is what a real fact table clears naturally, and
    # forcing SMJ stands in for a fact side too big to broadcast against.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register(
    "s23_bloom_filtered_join",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
""",
    doc="S23: runtime bloom-filter join pruning — Catalyst injects a "
    "might_contain(bloom(o_orderkey)) predicate into the lineitem scan "
    "when one join side is selective, so fact rows that cannot match die "
    "at the scan instead of crossing the shuffle (the dominant cost of a "
    "selective fact-dim SMJ at 100 TB). Thresholds are tuned to emulate "
    "the production size ratios at test scale (see BLOOM_CONFS); the "
    "join executes eagerly inside the conf scope (localCheckpoint) and "
    "confs are restored. tests/test_plans.py asserts might_contain is "
    "actually in the optimized plan.",
)
def s23_bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    with conf_scope(spark, BLOOM_CONFS):
        # the bloom-filter injection must happen while the confs hold
        return materialize(_bloom_join_frame(spark, sf_dir), "release")


def _skew_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s25 join: a synthetic hot cohort (two-thirds of events collapse
    onto cohort 0) joined to a one-row-per-cohort dimension. The fact side
    is fanned out across every core first — AQE's skew split reassembles a
    hot REDUCER partition from per-MAPPER output chunks, so a one-mapper
    shuffle (the single-row-group fixture scan) can never be split."""
    e = spread(load_table(spark, sf_dir, "events"))
    c = load_table(spark, sf_dir, "customer")
    fact = e.select(
        F.when(F.col("user_id") < 100, 0).otherwise(F.col("user_id")).alias("cohort"),
        "event_id",
        F.round("value", 6).alias("value"),
    )
    dim = c.filter((F.col("c_custkey") >= 100) | (F.col("c_custkey") == 50)).select(
        F.when(F.col("c_custkey") == 50, 0)
        .otherwise(F.col("c_custkey"))
        .alias("cohort"),
        "c_mktsegment",
    )
    return fact.join(dim, "cohort").select(
        "cohort", "event_id", "c_mktsegment", "value"
    )


SKEW_CONFS = {
    # Emulate 100 TB size ratios at test scale: thresholds sized so the
    # hot cohort's reducer partition qualifies as skewed and splits.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


@register(
    "s25_skew_join_aqe",
    oracle="""
WITH fact AS (
  SELECT CASE WHEN user_id < 100 THEN 0 ELSE user_id END AS cohort,
         event_id, round(value, 6) AS value
  FROM events
),
dim AS (
  SELECT CASE WHEN c_custkey = 50 THEN 0 ELSE c_custkey END AS cohort,
         c_mktsegment
  FROM customer WHERE c_custkey >= 100 OR c_custkey = 50
)
SELECT f.cohort, f.event_id, d.c_mktsegment, f.value
FROM fact f JOIN dim d USING (cohort)
""",
    doc="S25: AQE runtime skew-join splitting — two-thirds of the fact "
    "stream lands on one join key; AQE detects the oversized reducer "
    "partition at stage boundary and splits it across tasks "
    "(SortMergeJoin(skew=true), duplicated matching dim partition) with "
    "NO manual salting — the runtime complement to the hand-salted "
    "aggregate (s05h). Key enabler documented in _skew_join_frame: "
    "splits are per-mapper output chunks, so the fact side must have "
    "multiple map tasks. Executed eagerly inside the conf scope; "
    "tests/test_plans.py asserts skew=true in the final adaptive plan.",
)
def s25_skew_join_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    with conf_scope(spark, SKEW_CONFS):
        return materialize(_skew_join_frame(spark, sf_dir), "release")


@register(
    "s26_total_order_export",
    oracle="""
SELECT event_id, user_id, event_type,
       CAST(date_trunc('second', ts) AS VARCHAR) AS ts_str
FROM events ORDER BY ts, event_id
""",
    doc="S26: totally-ordered export — the full table sorted by "
    "(ts, event_id) with NO limit: Spark plans Exchange rangepartitioning "
    "(sampled split points) + per-partition sort, so a global total order "
    "materializes without ever funnelling through one reducer — the "
    "time-ordered training-shard / changelog export shape. Contrast s07, "
    "where a LIMIT turns the same ordering into TakeOrderedAndProject. "
    "Plan pinned in tests/test_plans.py.",
)
def s26_total_order_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    ).orderBy("ts_str", "event_id")


def _scd2_history(e: DataFrame) -> DataFrame:
    """Gaps-and-islands SCD2 build shared by s27 (the history report) and
    s35 (the point-in-time enrichment join): one row per (user_id,
    event_type run) with [valid_from_ts, valid_to_ts) interval columns
    (valid_to_ts NULL = current)."""
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = (
        e.select(
            "user_id",
            "event_type",
            "ts",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(
            F.min("ts").alias("valid_from_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w_hist = Window.partitionBy("user_id").orderBy("valid_from_ts")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from_ts",
        F.lead("valid_from_ts").over(w_hist).alias("valid_to_ts"),
        "n_events",
    )


# s27/s35 oracle CTE: each event with grp, which stays constant over a
# user's run of one event_type (the row-number difference idiom).
_SQL_TYPE_RUNS = """ordered AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
           AS grp
  FROM events
)"""


@register(
    "s27_scd2_user_history",
    oracle=f"""
WITH {_SQL_TYPE_RUNS},
runs AS (
  SELECT user_id, event_type, grp,
         MIN(ts) AS valid_from_ts,
         COUNT(*) AS n_events
  FROM ordered GROUP BY user_id, event_type, grp
)
SELECT user_id, event_type,
       CAST(date_trunc('second', valid_from_ts) AS VARCHAR) AS valid_from,
       CAST(date_trunc('second', lead(valid_from_ts) OVER (PARTITION BY user_id ORDER BY valid_from_ts)) AS VARCHAR) AS valid_to,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(lead(valid_from_ts) OVER (PARTITION BY user_id ORDER BY valid_from_ts)
              IS NULL AS BOOLEAN) AS is_current
FROM runs
""",
    doc="S27: SCD Type-2 dimension history — gaps-and-islands (difference of "
    "two row_numbers collapses consecutive equal event_type runs), then "
    "MIN(ts)/COUNT per run and a lead() to close each validity interval; "
    "the open interval is the current row. All windows share the one "
    "hash-partitioning on user_id, so the whole history build is a single "
    "shuffle; at 100 TB this is the standard dimension-build shape (the "
    "reference's 'latest reading wins' board, weather.py:324-333, is the "
    "degenerate one-row-per-key case of the same pattern).",
)
def s27_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = _scd2_history(load_table(spark, sf_dir, "events"))
    return hist.select(
        "user_id",
        "event_type",
        F.date_format("valid_from_ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to_ts", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "n_events",
        F.col("valid_to_ts").isNull().alias("is_current"),
    )


@register(
    "s28_winsorized_stats",
    oracle="""
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       round(AVG(LEAST(GREATEST(e.value, q.lo), q.hi)), 6) AS winsorized_avg,
       round(q.lo, 6) AS p05,
       round(q.hi, 6) AS p95
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type, q.lo, q.hi
""",
    doc="S28: winsorized statistics — exact per-group p05/p95 via "
    "percentile() (continuous interpolation, identical to DuckDB's "
    "quantile_cont), broadcast the tiny per-group bounds back onto the "
    "fact table, clamp, and re-aggregate. Outlier-robust metric the "
    "classic way: two shuffles, the second on a key whose cardinality is "
    "the group count; the bounds table is O(groups) so the join is a "
    "broadcast at any corpus size.",
)
def s28_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clamped = e.join(F.broadcast(q), "event_type").select(
        "event_type",
        "lo",
        "hi",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("wv"),
    )
    return clamped.groupBy("event_type", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("wv"), 6).alias("winsorized_avg"),
    ).select(
        "event_type",
        "n_events",
        "winsorized_avg",
        F.round("lo", 6).alias("p05"),
        F.round("hi", 6).alias("p95"),
    )


@register(
    "s29_time_gapfill_locf",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
           AS day_avg
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT CAST(MIN(date_trunc('day', ts)) AS DATE) AS d0,
         CAST(MAX(date_trunc('day', ts)) AS DATE) AS d1
  FROM events
),
grid AS (
  SELECT u.user_id, CAST(g.day AS DATE) AS day
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
              FROM bounds) g
)
SELECT grid.user_id, CAST(CAST(grid.day AS DATE) AS VARCHAR) AS day,
       CAST(daily.day_avg IS NOT NULL AS BOOLEAN) AS observed,
       last_value(daily.day_avg IGNORE NULLS) OVER (
         PARTITION BY grid.user_id ORDER BY grid.day
         ROWS UNBOUNDED PRECEDING) AS value_filled
FROM grid LEFT JOIN daily USING (user_id, day)
""",
    doc="S29: regular-time-grid gap-fill with last-observation-carried-"
    "forward — the hypertable/time_bucket_gapfill shape: bucket the "
    "event stream to daily per-key averages, densify onto the full "
    "calendar grid (distinct keys x sequence(min_day, max_day), a "
    "scan-side explode against a broadcast 1-row bounds table), and "
    "fill holes with last(ignorenulls) over the per-key time order. "
    "Days before a key's first observation stay NULL by construction. "
    "One shuffle on user_id serves both the left join and the LOCF "
    "window; grid size is keys x days, independent of event volume — "
    "at 100 TB the daily pre-aggregation is what makes densification "
    "affordable.",
)
def s29_time_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        ).agg(
            F.round(
                dsum(F.col("value")) / F.count(F.lit(1)), 6
            ).alias("day_avg")
        )
    )
    bounds = e.agg(
        F.min(F.date_trunc("day", "ts")).cast("date").alias("d0"),
        F.max(F.date_trunc("day", "ts")).cast("date").alias("d1"),
    )
    grid = (
        e.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("day_avg").isNotNull().alias("observed"),
        F.last("day_avg", ignorenulls=True).over(w).alias("value_filled"),
    )


# ---------------------------------------------------------------------------
# S30 — Z-order (Morton) clustering for multi-dimensional data skipping
# ---------------------------------------------------------------------------

Z_BITS = 8  # bits per NORMALIZED dimension in the interleaved key


def _morton_key(x: F.Column, y: F.Column) -> F.Column:
    """Interleave the low Z_BITS of two non-negative ints into a Morton
    (Z-order) code — pure Catalyst bit ops, whole-stage-codegen friendly.
    Inputs MUST already be normalized to the same 0..2^Z_BITS-1 range:
    with unequal bit widths the wider dimension owns every high bit of
    the code and the curve degenerates into a single-column sort (the
    reason Delta/Iceberg Z-order range-bucket each column first)."""
    code = F.lit(0).cast("bigint")
    for i in range(Z_BITS):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return code


@register(
    "s30_zorder_clustering",
    oracle="""
SELECT event_id, user_id, round(value, 6) AS value, event_type
FROM events
WHERE user_id BETWEEN 2 AND 9 AND value BETWEEN 40.0 AND 160.0
""",
    doc="S30: Z-ORDER clustered layout for multi-dimensional data skipping "
    "— the Delta/Iceberg OPTIMIZE ZORDER shape built from Spark "
    "primitives: a Morton key interleaves the bits of (user_id, "
    "floor(value)), repartitionByRange + sortWithinPartitions on that "
    "key lays rows out along the space-filling curve, and the parquet "
    "writer's per-row-group min/max stats then become TIGHT IN BOTH "
    "dimensions at once (a single-column sort gives tight stats in one "
    "dimension only). The read-back query is a 2-D box predicate, which "
    "the scan answers by pruning row groups on both columns' stats — at "
    "100 TB this is the difference between scanning the whole table and "
    "touching the handful of files whose curve segment crosses the box. "
    "Result equality with the plain filtered scan is the correctness "
    "contract (layout must never change query answers).",
)
def s30_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # Normalize both dimensions to Z_BITS-wide buckets first (affine
    # min/max scaling; one scalar-aggregate pass, the cheap part of any
    # OPTIMIZE ZORDER job) so each contributes equally to every bit level
    # of the interleaved code.
    lo_u, hi_u, lo_v, hi_v = e.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).first()
    if lo_u is None:  # empty table: nothing to cluster -> empty, typed
        return e.select(
            "event_id", "user_id", F.round("value", 6).alias("value"), "event_type"
        ).limit(0)
    top = (1 << Z_BITS) - 1
    xb = F.floor(
        (F.col("user_id") - F.lit(lo_u)) * F.lit(top / max(hi_u - lo_u, 1))
    ).cast("bigint")
    yb = F.floor(
        (F.col("value") - F.lit(lo_v)) * F.lit(top / max(hi_v - lo_v, 1e-9))
    ).cast("bigint")
    zkeyed = e.withColumn(
        "zkey", _morton_key(F.least(xb, F.lit(top)), F.least(yb, F.lit(top)))
    )
    out = stage_dir("zorder", sf_dir)
    (
        zkeyed.repartitionByRange(8, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.filter(
        F.col("user_id").between(2, 9) & F.col("value").between(40.0, 160.0)
    ).select("event_id", "user_id", F.round("value", 6).alias("value"), "event_type")


# ---------------------------------------------------------------------------
# S31 — LATERAL correlated subquery join (top-N per row)
# ---------------------------------------------------------------------------


# One SQL text for the oracle and spark.sql: both engines run it as is.
_S31_SQL = """
SELECT c.c_custkey, c.c_name, t.o_orderkey,
       round(t.o_totalprice, 2) AS o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
"""


@register(
    "s31_lateral_topk",
    oracle=_S31_SQL,
    doc="S31: LATERAL correlated subquery — each BUILDING customer is "
    "joined to its own top-2 orders by price, the per-row-subquery "
    "surface (Postgres/DuckDB LATERAL, Presto UNNEST-join cousin). "
    "Catalyst decorrelates the LIMIT-ed correlated subquery into a "
    "ranked window join rather than executing it per row — the plan is "
    "a join + window, not N subquery executions, which is exactly the "
    "rewrite that makes LATERAL survive 100 TB (per-row re-execution "
    "would be O(customers) scans).",
)
def s31_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(_S31_SQL)


# ---------------------------------------------------------------------------
# S32 — observed metrics (zero-extra-pass pipeline counters)
# ---------------------------------------------------------------------------


@register(
    "s32_observed_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN CAST(round(l_discount * 100) AS BIGINT) > 5
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_discounted,
       CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_qty
FROM lineitem
WHERE l_returnflag IN ('A', 'R')
""",
    doc="S32: observe()/Observation — accumulator-backed pipeline counters "
    "collected DURING the main job, the data-quality-monitoring surface "
    "(row counts, gate hit rates, control totals) without a second scan: "
    "metrics ride the task completion events, so at 100 TB the audit "
    "numbers are free while a separate COUNT pass would re-read the "
    "table. The job itself runs to the noop sink (plan executes fully, "
    "no result transfer); the observed values are then re-emitted as a "
    "one-row frame whose oracle is the equivalent aggregate — equality "
    "proves the counters saw every row exactly once. The quantity total "
    "goes through DECIMAL inside the observe aggregate, same "
    "order-independence contract as the query surface.",
)
def s32_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
    )
    obs = Observation("pipeline_counters")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        # discounts are exact multiples of 0.01 — compare the recovered
        # scaled integer, not the double (risk burn-down)
        F.sum(
            F.when(
                F.expr("CAST(round(l_discount * 100) AS BIGINT)") > 5, 1
            ).otherwise(0)
        ).alias("n_discounted"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return local_rows(
        spark,
        # SUM observations are NULL on an empty pipeline — report them as
        # the zero counters a monitoring surface expects, not a crash
        [
            (
                int(m["n_rows"]),
                int(m["n_discounted"] or 0),
                float(m["total_qty"] or 0.0),
            )
        ],
        "n_rows bigint, n_discounted bigint, total_qty double",
    )


# ---------------------------------------------------------------------------
# S33 — schema evolution across ingest batches (mergeSchema read)
# ---------------------------------------------------------------------------


@register(
    "s33_schema_evolution_merge",
    oracle="""
SELECT o_orderkey,
       round(o_totalprice, 2) AS price,
       CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
FROM orders
""",
    doc="S33: SCHEMA EVOLUTION across ingest batches — batch 1 lands with "
    "(o_orderkey, price), batch 2 adds o_orderpriority; a single "
    "mergeSchema read reconciles both file schemas into their union, "
    "null-filling the column where early files lack it. This is the "
    "long-lived-table reality at 100 TB: producers add columns over "
    "years and rewriting history is off the table, so the reader must "
    "resolve by NAME against per-file footers (never by position). The "
    "oracle replays the null-fill rule on the raw table. Scale note: "
    "mergeSchema footer-reconciliation is a driver-side listing cost — "
    "production tables pin the merged schema in a catalog instead of "
    "re-deriving it per query; the read semantics are identical.",
)
def s33_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    out = stage_dir("schema_evo", sf_dir)
    batch1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    batch2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price"), "o_orderpriority"
    )
    batch1.write.mode("overwrite").parquet(out)
    batch2.write.mode("append").parquet(out)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out)
        .select("o_orderkey", "price", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# S34 — small-file compaction (the object-store hygiene job)
# ---------------------------------------------------------------------------

COMPACT_TARGET_BYTES = 32 * 1024 * 1024  # target output file size


@register(
    "s34_small_file_compaction",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity,
       round(l_extendedprice, 2) AS l_extendedprice
FROM lineitem
""",
    doc="S34: small-file COMPACTION — streaming/incremental ingest leaves "
    "thousands of KB-scale files per partition; every later scan then "
    "pays per-file open/footer costs and row groups too small for "
    "effective stats pruning or vectorized reads. The job measures the "
    "fragmented input's total bytes, computes ceil(bytes/target) output "
    "files, and rewrites via repartition — the Delta OPTIMIZE / Iceberg "
    "rewrite_data_files shape from Spark primitives. Compacted-read "
    "equality with the source table is the correctness contract "
    "(compaction must be a pure layout change); the file-count collapse "
    "is asserted in tests/test_plans.py. At 100 TB this runs per "
    "partition with bin-packing, never table-wide.",
)
def s34_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import math
    import os

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round("l_extendedprice", 2).alias("l_extendedprice"),
    )
    base = stage_dir("compact", sf_dir)
    frag, compact = f"{base}/frag", f"{base}/compact"
    # Simulate a fragmented ingest history: 64 shards of one table.
    li.repartition(64).write.mode("overwrite").parquet(frag)
    frag_bytes = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(frag, "*.parquet"))
    )
    n_out = max(1, math.ceil(frag_bytes / COMPACT_TARGET_BYTES))
    spark.read.parquet(frag).repartition(n_out).write.mode("overwrite").parquet(
        compact
    )
    return spark.read.parquet(compact)


# ---------------------------------------------------------------------------
# S35 — point-in-time (as-of interval) join against SCD2 history
# ---------------------------------------------------------------------------


@register(
    "s35_point_in_time_join",
    oracle=f"""
WITH {_SQL_TYPE_RUNS},
runs AS (
  SELECT user_id, event_type, grp, MIN(ts) AS valid_from_ts
  FROM ordered GROUP BY user_id, event_type, grp
),
hist AS (
  SELECT user_id, event_type, valid_from_ts,
         lead(valid_from_ts) OVER (PARTITION BY user_id ORDER BY valid_from_ts)
           AS valid_to_ts
  FROM runs
)
SELECT f.event_id, f.user_id,
       CAST(date_trunc('second', f.ts) AS VARCHAR) AS purchase_ts,
       round(f.value, 6) AS value,
       h.event_type AS state_at_purchase,
       CAST(date_trunc('second', h.valid_from_ts) AS VARCHAR) AS state_since
FROM events f
JOIN hist h
  ON f.user_id = h.user_id
 AND f.ts >= h.valid_from_ts
 AND (h.valid_to_ts IS NULL OR f.ts < h.valid_to_ts)
WHERE f.event_type = 'purchase'
""",
    doc="S35: POINT-IN-TIME join — the feature-store / warehouse 'dimension "
    "as of event time' lookup: each purchase event joins the SCD2 state "
    "interval (s27's history) that was valid AT ITS TIMESTAMP, never a "
    "later one — exactly the leakage rule training-data assembly must "
    "obey (a feature computed after the label event may not leak "
    "backward). Intervals are disjoint per user, so each fact row "
    "matches exactly once. Plan: history and facts share the user_id "
    "hash partitioning; the interval predicate evaluates inside the "
    "join. At 100 TB the dimension side is bucketed on the key and the "
    "interval predicate prunes via the sort order within buckets (the "
    "s04e as-of pattern generalized from latest-row to interval).",
)
def s35_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hist = _scd2_history(e).select(
        F.col("user_id").alias("h_user_id"),
        F.col("event_type").alias("state_at_purchase"),
        "valid_from_ts",
        "valid_to_ts",
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = facts.join(
        hist,
        (facts.user_id == hist.h_user_id)
        & (facts.ts >= hist.valid_from_ts)
        & (hist.valid_to_ts.isNull() | (facts.ts < hist.valid_to_ts)),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.round("value", 6).alias("value"),
        "state_at_purchase",
        F.date_format("valid_from_ts", "yyyy-MM-dd HH:mm:ss").alias("state_since"),
    )


# ---------------------------------------------------------------------------
# S37 — incremental materialized-view refresh (continuous-aggregate shape)
# ---------------------------------------------------------------------------

MV_DELTA_DAYS = 3  # the "newly arrived" tail refreshed incrementally


@register(
    "s37_incremental_mv_refresh",
    oracle=f"""
WITH m AS (SELECT date_trunc('day', MAX(ts)) - INTERVAL {MV_DELTA_DAYS} DAY AS cutoff
           FROM events)
SELECT CAST(CAST(date_trunc('day', e.ts) AS DATE) AS VARCHAR) AS day,
       e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e CROSS JOIN m
GROUP BY 1, 2
""",
    doc="S37: INCREMENTAL materialized-view refresh — the "
    "hypertable-continuous-aggregate / warehouse-MV maintenance shape: "
    "the historical MV (daily counts + DECIMAL sums by (day, type)) is "
    "materialized once; when a new delta of events arrives, the refresh "
    "aggregates ONLY the delta partition (ts >= cutoff pushed into the "
    "scan — asserted in tests/test_plans.py) and merges it with the "
    "stored MV by re-aggregating partials: COUNT and DECIMAL SUM are "
    "algebraic, so merge(old, agg(delta)) == agg(all), which the oracle "
    "(a full re-aggregation) proves exactly. At 100 TB the refresh cost "
    "is O(delta) + O(MV rows), never a history rescan — the entire "
    "point of maintaining the MV. Non-algebraic aggregates (exact "
    "median) need the s05e/x14 sketch route instead.",
)
def s37_incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cutoff = e.agg(
        (F.date_trunc("day", F.max("ts")) - F.expr(f"INTERVAL {MV_DELTA_DAYS} DAY"))
        .alias("c")
    ).first()["c"]

    def day_agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"),
        )

    mv_path = stage_dir("mv", sf_dir)
    # Initial materialization: history only (everything before the cutoff).
    day_agg(e.filter(F.col("ts") < cutoff)).write.mode("overwrite").parquet(mv_path)
    # Incremental refresh: aggregate the delta ONLY, merge with stored MV.
    delta_mv = day_agg(e.filter(F.col("ts") >= cutoff))
    merged = (
        spark.read.parquet(mv_path)
        .unionByName(delta_mv)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_dec").cast("double").alias("sum_value"),
        )
    )
    return merged


# ---------------------------------------------------------------------------
# S38 — funnel analysis (ordered event-sequence conversion)
# ---------------------------------------------------------------------------


@register(
    "s38_funnel_analysis",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id
),
counts AS (
  SELECT (SELECT COUNT(*) FROM v) AS n_view,
         (SELECT COUNT(*) FROM c) AS n_click,
         (SELECT COUNT(*) FROM p) AS n_purchase
)
SELECT stage, CAST(n_users AS BIGINT) AS n_users,
       round(conversion, 6) AS conversion
FROM (
  SELECT 1 AS ord, 'view' AS stage, n_view AS n_users, 1.0 AS conversion
  FROM counts
  UNION ALL
  SELECT 2, 'view>click', n_click,
         CAST(n_click AS DOUBLE) / n_view FROM counts
  UNION ALL
  SELECT 3, 'view>click>purchase', n_purchase,
         CAST(n_purchase AS DOUBLE) / n_click FROM counts
) ORDER BY ord
""",
    doc="S38: FUNNEL analysis — ordered event-sequence conversion (the "
    "product-analytics staple: view -> click -> purchase, each stage "
    "STRICTLY AFTER the previous one for the same user). ONE aggregate "
    "pass over events per user collects the earliest view plus sorted "
    "per-type timestamp arrays; the stage chaining (first click after "
    "t1, first purchase after t2) is per-row array algebra on the "
    "aggregated frame, and a single counting aggregate + stack() emits "
    "the 3-row funnel — the whole query is ONE job, one shuffle on "
    "user_id, events scanned exactly once (plan-asserted in "
    "tests/test_plans.py::test_funnel_single_pass). At 100 TB this "
    "beats both the join-back chain (3 scans) and sequence-matching "
    "windows, and is the decomposed form of MATCH_RECOGNIZE for "
    "monotone funnels; the per-user arrays hold only click/purchase "
    "timestamps, bounded by per-user activity.",
)
def s38_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # ONE aggregate pass over events: per user, the earliest view plus the
    # per-type sorted timestamp arrays; the stage chaining (t2 = first
    # click AFTER t1, t3 = first purchase AFTER t2) is then per-row array
    # algebra on the already-aggregated frame — no join-back, no second
    # scan. A null comparison inside the lambda drops the element, so a
    # user with clicks but no view gets t2 = NULL for free.
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1"),
            F.sort_array(
                F.collect_list(F.when(F.col("event_type") == "click", F.col("ts")))
            ).alias("clicks"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("event_type") == "purchase", F.col("ts"))
                )
            ).alias("purchases"),
        )
        .select(
            "t1",
            F.array_min(F.filter("clicks", lambda x: x > F.col("t1"))).alias("t2"),
            "purchases",
        )
        .select(
            "t1",
            "t2",
            F.array_min(F.filter("purchases", lambda x: x > F.col("t2"))).alias(
                "t3"
            ),
        )
    )
    # Single counting aggregate (count skips NULLs => per-stage user
    # counts), expanded to the 3-row funnel inside the same job — no
    # driver-side .count() actions anywhere.
    counts = per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click"),
        F.count("t3").alias("n_purchase"),
    )
    # try_divide: a funnel with zero upstream users has UNDEFINED
    # conversion (NULL), not a crash — ANSI `/ 0` would error on a
    # degenerate (empty or click-free) slice
    return counts.selectExpr(
        """stack(3,
            'view', n_view, CAST(1.0 AS DOUBLE),
            'view>click', n_click,
            round(try_divide(CAST(n_click AS DOUBLE), n_view), 6),
            'view>click>purchase', n_purchase,
            round(try_divide(CAST(n_purchase AS DOUBLE), n_click), 6)
        ) AS (stage, n_users, conversion)"""
    )


# ---------------------------------------------------------------------------
# S39 — join strategy hints (explicit physical-strategy control)
# ---------------------------------------------------------------------------


@register(
    "s39_join_strategy_hints",
    oracle="""
SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    doc="S39: JOIN STRATEGY HINTS — the explicit physical-plan override "
    "surface (hint('merge') forces sort-merge, hint('shuffle_hash') a "
    "shuffled hash join, broadcast() a map-side join) for when the "
    "optimizer's estimate is wrong: a dimension that LOOKS big from "
    "stale stats but fits memory, or a provably-skewed build side. All "
    "three strategies run here against the same join and must agree "
    "with the single oracle — the result is strategy-invariant by "
    "construction, which is the safety property that makes hints safe "
    "to deploy. The hinted plans (SortMergeJoin, ShuffledHashJoin, "
    "BroadcastHashJoin) are asserted in tests/test_plans.py. The "
    "returned frame is the broadcast variant (the right answer for a "
    "25-row dim at any corpus scale).",
)
def s39_join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def agg(joined: DataFrame) -> DataFrame:
        return joined.groupBy("n_name").agg(F.count(F.lit(1)).alias("n_customers"))

    merge_j = agg(c.join(n.hint("merge"), c.c_nationkey == n.n_nationkey))
    hash_j = agg(c.join(n.hint("shuffle_hash"), c.c_nationkey == n.n_nationkey))
    bcast_j = agg(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
    # All three must agree row-for-row — checked eagerly so a strategy
    # divergence fails loudly rather than silently returning one variant.
    rows_m = {tuple(r) for r in merge_j.collect()}
    rows_h = {tuple(r) for r in hash_j.collect()}
    rows_b = {tuple(r) for r in bcast_j.collect()}
    assert rows_m == rows_h == rows_b, "join strategies disagreed"
    return bcast_j


def s39_hinted_variants(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Plan-test helper: the three hinted joins before aggregation."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return {
        "merge": c.join(n.hint("merge"), c.c_nationkey == n.n_nationkey),
        "shuffle_hash": c.join(n.hint("shuffle_hash"), c.c_nationkey == n.n_nationkey),
        "broadcast": c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey),
    }


# ---------------------------------------------------------------------------
# S40 — declarative data-quality checks (the expectations gate)
# ---------------------------------------------------------------------------


@register(
    "s40_data_quality_checks",
    oracle="""
SELECT 1 AS rule_id, 'orders.o_custkey references customer' AS rule,
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
         AS n_violations
UNION ALL
SELECT 2, 'lineitem.l_quantity in [1, 50]',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_quantity IS NULL
                OR l_quantity < 1 OR l_quantity > 50) AS BIGINT)
UNION ALL
SELECT 3, 'customer.c_custkey unique',
       CAST((SELECT COALESCE(SUM(cnt - 1), 0) FROM
             (SELECT COUNT(*) AS cnt FROM customer GROUP BY c_custkey)
             WHERE cnt > 1) AS BIGINT)
UNION ALL
SELECT 4, 'lineitem.l_shipdate not null',
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL) AS BIGINT)
UNION ALL
SELECT 5, 'events.value non-negative',
       CAST((SELECT COUNT(*) FROM events
             WHERE value IS NULL OR value < 0) AS BIGINT)
""",
    doc="S40: declarative DATA-QUALITY checks — the expectations gate every "
    "ingest runs before publishing a partition (dbt-test / "
    "Great-Expectations shape): referential integrity (orders -> "
    "customer, an anti-join that broadcasts the key side), range and "
    "null-rate assertions (scan-side predicates with pushed filters), "
    "and key uniqueness (one hash aggregate). Each rule reduces to a "
    "violation COUNT, so the whole suite is a handful of independent "
    "aggregates unioned into one report — at 100 TB rules over the "
    "same table fuse into one scan via shared filter projection (the "
    "s32 observe() route runs them DURING the main job instead). A "
    "publish gate then requires n_violations = 0 on blocking rules.",
)
def s40_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    e = load_table(spark, sf_dir, "events")

    orphans = o.join(
        F.broadcast(c.select("c_custkey")),
        o.o_custkey == c.c_custkey,
        "left_anti",
    ).count()
    qty_bad = li.filter(
        F.col("l_quantity").isNull()
        | (F.col("l_quantity") < 1)
        | (F.col("l_quantity") > 50)
    ).count()
    dup_keys = (
        c.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("d"))
        .first()["d"]
    )
    null_ship = li.filter(F.col("l_shipdate").isNull()).count()
    neg_vals = e.filter(F.col("value").isNull() | (F.col("value") < 0)).count()
    return local_rows(
        spark,
        [
            (1, "orders.o_custkey references customer", orphans),
            (2, "lineitem.l_quantity in [1, 50]", qty_bad),
            (3, "customer.c_custkey unique", int(dup_keys)),
            (4, "lineitem.l_shipdate not null", null_ship),
            (5, "events.value non-negative", neg_vals),
        ],
        "rule_id int, rule string, n_violations bigint",
    )


# ---------------------------------------------------------------------------
# S41 — write-audit-publish (staged partition promotion)
# ---------------------------------------------------------------------------


@register(
    "s41_write_audit_publish",
    oracle="""
SELECT event_id, user_id, event_type, round(value, 6) AS value
FROM events
WHERE value IS NOT NULL AND value >= 0
""",
    doc="S41: WRITE-AUDIT-PUBLISH — the safe-publication protocol for "
    "ingest at scale (the Iceberg WAP / staging-table pattern from "
    "Spark primitives): (1) WRITE the candidate partition to a staging "
    "path invisible to consumers; (2) AUDIT the staged files with the "
    "s40-style quality gate (here: no null/negative values — enforced "
    "by the upstream filter, re-verified on the staged bytes, so the "
    "gate checks what was actually written, not what was intended); "
    "(3) PUBLISH atomically by directory rename only if the audit "
    "passes — a failed audit leaves the previous published version "
    "untouched and the staging dir for forensics. Consumers only ever "
    "read the published path, so they see the old version or the new "
    "one, never a mix. Read-back equality with the source filter is "
    "the lossless-publication proof.",
)
def s41_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = stage_dir("wap", sf_dir)
    staging, published = f"{base}/staging", f"{base}/published"
    shutil.rmtree(base, ignore_errors=True)

    candidate = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("value") >= 0))
        .select(
            "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
        )
    )
    return wap_publish(spark, candidate, staging, published)


def wap_publish(spark, candidate: DataFrame, staging: str, published: str) -> DataFrame:
    """The write-audit-publish core, callable with ANY candidate frame —
    split out so the audit-FAIL branch is executable under test (a dirty
    candidate must abort before publish and leave any previous published
    version untouched; tests/test_properties.py drives both outcomes)."""
    import os

    # 1. WRITE to staging.
    candidate.write.mode("overwrite").parquet(staging)
    # 2. AUDIT the staged bytes (not the logical plan that produced them).
    staged = spark.read.parquet(staging)
    violations = staged.filter(
        F.col("value").isNull() | (F.col("value") < 0)
    ).count()
    if violations:
        raise ValueError(f"audit failed: {violations} violations; not publishing")
    # 3. PUBLISH atomically.
    os.replace(staging, published)
    return spark.read.parquet(published)


# ---------------------------------------------------------------------------
# S42 — dynamic partition overwrite (incremental ETL restatement)
# ---------------------------------------------------------------------------


@register(
    "s42_dynamic_partition_overwrite",
    oracle="""
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       event_id, user_id,
       CASE WHEN CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)
                 = (SELECT CAST(CAST(date_trunc('day', MAX(ts)) AS DATE) AS VARCHAR)
                    FROM events)
            THEN round(round(value, 6) * 2, 6) ELSE round(value, 6) END AS value
FROM events
""",
    doc="S42: DYNAMIC partition overwrite — partitionOverwriteMode=dynamic "
    "replaces ONLY the partitions present in the incoming write, the "
    "restatement primitive every incremental ETL needs (re-run one bad "
    "day without touching the other 3 years; static mode would drop "
    "the whole table first). The fixture publishes the full "
    "day-partitioned table, then restates just the last day with "
    "revised values (x2); read-back must show untouched history + the "
    "revised day, which the oracle replays. At 100 TB this is a "
    "per-partition commit — the write's cost is the restated day's "
    "bytes, not the table's.",
)
def s42_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stage_dir("dyn_overwrite", sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
    )
    e.write.mode("overwrite").partitionBy("day").parquet(out)
    last_day = e.agg(F.max("day").alias("d")).first()["d"]
    if last_day is None:  # empty table: nothing written, nothing to restate
        return e.select("day", "event_id", "user_id", "value").limit(0)
    restated = e.filter(F.col("day") == last_day).withColumn(
        "value", F.round(F.col("value") * 2, 6)
    )
    restated.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("day").parquet(out)
    back = spark.read.parquet(out)
    return back.select("day", "event_id", "user_id", "value")


# ---------------------------------------------------------------------------
# S46 — timezone-aware local-day rollup
# ---------------------------------------------------------------------------


@register(
    "s46_local_day_rollup",
    oracle="""
SELECT CAST(CAST(date_trunc('day',
                timezone('America/New_York',
                         make_timestamptz(epoch_us(ts)))) AS DATE) AS VARCHAR)
         AS local_day,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="S46: TIMEZONE-AWARE local-day rollup — daily aggregates bucketed "
    "by the observer's LOCAL calendar day (America/New_York), not UTC: "
    "the daily-report correctness issue every global analytics stack "
    "hits, because a UTC midnight cut splits local evenings across two "
    "report rows (an 03:00 UTC event is 22:00 the PREVIOUS day in New "
    "York). from_utc_timestamp shifts event time into the target zone "
    "before the date_trunc, DST transitions included via the IANA "
    "rules both engines share; the oracle is DuckDB's "
    "timezone()-over-TIMESTAMPTZ equivalent under a pinned UTC session "
    "zone. Same single-shuffle profile as a UTC rollup — the zone "
    "shift is a scan-side expression, so correctness here is free at "
    "100 TB.",
)
def s46_local_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    local_ts = F.from_utc_timestamp(F.col("ts"), "America/New_York")
    return e.groupBy(
        F.date_format(F.date_trunc("day", local_ts), "yyyy-MM-dd").alias("local_day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# S47 — keyset pagination (the OFFSET-free page fetch)
# ---------------------------------------------------------------------------

PAGE_SIZE = 20


@register(
    "s47_keyset_pagination",
    oracle=f"""
WITH ranked AS (
  SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
         row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rk
  FROM customer
)
SELECT c_custkey, c_name, c_acctbal
FROM ranked WHERE rk > {2 * PAGE_SIZE} AND rk <= {3 * PAGE_SIZE}
""",
    doc="S47: KEYSET pagination — page 3 of the balance leaderboard "
    "fetched WITHOUT OFFSET: the previous page's last (c_acctbal, "
    "c_custkey) becomes a composite-key predicate, so the engine "
    "top-k's only rows BEYOND the boundary (TakeOrderedAndProject over "
    "a pushed filter) instead of sorting and discarding 2 pages "
    "(OFFSET's cost grows linearly with page number — at page 10,000 "
    "of a 100 TB table OFFSET is a disaster, keyset is constant). The "
    "boundary itself comes from a PAGE_SIZE*2 top-k (what serving the "
    "prior page already computed). Oracle: the equivalent rank-window "
    "slice.",
)
def s47_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    order = [F.col("c_acctbal").desc(), F.col("c_custkey").asc()]
    # The client already holds page 2's tail — recompute it as a top-k.
    prior = c.orderBy(*order).limit(2 * PAGE_SIZE).orderBy(*order).collect()
    if not prior:  # empty table: no prior page, so no page 3 — empty, typed
        return c.limit(0)
    boundary = prior[-1]
    b_bal, b_key = boundary["c_acctbal"], boundary["c_custkey"]
    page3 = (
        c.filter(
            (F.col("c_acctbal") < b_bal)
            | ((F.col("c_acctbal") == b_bal) & (F.col("c_custkey") > b_key))
        )
        .orderBy(*order)
        .limit(PAGE_SIZE)
    )
    return page3


# ---------------------------------------------------------------------------
# X62 — sketch set operations (HLL inclusion-exclusion)
# ---------------------------------------------------------------------------


@register(
    "x62_sketch_set_ops",
    oracle=None,  # sketch estimates are engine-specific -> rows-only;
    # accuracy vs exact counts pinned in tests/test_properties.py.
    doc="X62: SKETCH SET OPERATIONS — audience-overlap estimation from "
    "mergeable HLL sketches: |users(click)|, |users(purchase)|, their "
    "union via hll_union_agg, and the INTERSECTION by "
    "inclusion-exclusion (|A| + |B| - |A u B|) — the only way HLL "
    "answers overlap questions, and the standard one (theta sketches "
    "intersect natively; HLL trades that for smaller, simpler state). "
    "At 100 TB the sketches are built once per segment partition and "
    "merged associatively — overlap questions across ANY segment "
    "combination then cost sketch-merge time, never a rescan; "
    "x14 is the rollup cousin, this is the set-algebra cousin. "
    "Estimate error vs exact is pinned in tests.",
)
def x62_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    sketches = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_type = sketches.select(
        "event_type", F.hll_sketch_estimate("sk").alias("est")
    ).collect()
    est = {r["event_type"]: int(r["est"]) for r in per_type}
    # a slice with no events of a type is valid input: its sketch is
    # absent and the HLL estimate of the missing set is exactly 0
    est.setdefault("click", 0)
    est.setdefault("purchase", 0)
    union_row = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("u")
    ).first()
    union_est = int(union_row["u"]) if union_row["u"] is not None else 0
    inter_est = est["click"] + est["purchase"] - union_est
    return local_rows(
        spark,
        [
            ("click", est["click"]),
            ("purchase", est["purchase"]),
            ("union", union_est),
            ("intersection", inter_est),
        ],
        "set_op string, est_users bigint",
    )


# ---------------------------------------------------------------------------
# S48 — bucketized interval join (the scalable range-join rewrite)
# ---------------------------------------------------------------------------

IJ_BUCKET_SECONDS = 3600  # bucket width == interval length (1 covering hop)
IJ_WINDOW_SECONDS = 3600


@register(
    "s48_bucketized_interval_join",
    oracle=f"""
SELECT c.event_id AS click_id,
       e.event_id AS other_id,
       c.user_id,
       e.event_type AS other_type
FROM events c
JOIN events e
  ON c.user_id = e.user_id
 AND c.event_type = 'click'
 AND e.event_id <> c.event_id
 AND e.ts >= c.ts AND e.ts < c.ts + INTERVAL {IJ_WINDOW_SECONDS} SECOND
""",
    doc="S48: BUCKETIZED interval join — the rewrite that makes range "
    "joins survive scale: a plain (key, t BETWEEN a AND b) join gives "
    "the planner only the equality on user_id, so every user's events "
    "cross-pair before the time filter (quadratic in per-user events "
    "— fatal for hot users at 100 TB). Here each click EXPLODES to "
    "the hour buckets its 1-hour window covers (exactly 2) and each "
    "event maps to its own bucket, turning the join key into (user_id, "
    "bucket) — a plain hash join whose per-group size is bounded by "
    "events-per-user-HOUR, followed by the exact interval filter. A "
    "pair can only meet in the probe event's single home bucket, so "
    "no post-join dedup is needed. The oracle is the plain range join "
    "— identical results, different asymptotics; the equi-key is "
    "asserted in tests/test_plans.py.",
)
def s48_bucketized_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket = (F.unix_micros(F.col("ts")) / (IJ_BUCKET_SECONDS * 1_000_000)).cast(
        "bigint"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            bucket.alias("b0"),
        )
        .withColumn("bucket", F.explode(F.array(F.col("b0"), F.col("b0") + 1)))
        .drop("b0")
    )
    others = e.select(
        F.col("event_id").alias("other_id"),
        F.col("user_id").alias("o_user_id"),
        F.col("event_type").alias("other_type"),
        F.col("ts").alias("other_ts"),
        bucket.alias("bucket"),
    )
    joined = clicks.join(
        others,
        (clicks.user_id == others.o_user_id) & (clicks.bucket == others.bucket),
    ).filter(
        (F.col("other_id") != F.col("click_id"))
        & (F.col("other_ts") >= F.col("click_ts"))
        & (
            F.unix_micros(F.col("other_ts"))
            < F.unix_micros(F.col("click_ts")) + IJ_WINDOW_SECONDS * 1_000_000
        )
    )
    return joined.select("click_id", "other_id", "user_id", "other_type")


# ---------------------------------------------------------------------------
# S49 — nested array-of-struct algebra (collect, sort, slice, reduce)
# ---------------------------------------------------------------------------


@register(
    "s49_array_of_struct_algebra",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         list(struct_pack(ts := ts, event_id := event_id, value := value)
              ORDER BY value DESC, event_id) AS evs,
         COUNT(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       round(list_sum(list_transform(evs[1:3], e -> round(e.value, 6))), 6)
         AS top3_sum,
       CAST(date_trunc('second', evs[1].ts) AS VARCHAR) AS best_ts,
       evs[1].event_id AS best_event_id
FROM per_user
""",
    doc="S49: ARRAY-OF-STRUCT algebra — the nested-type surface beyond "
    "flat arrays (s12) and maps/JSON (s13): per-user events collected "
    "into an array of structs, ordered INSIDE the array (array_sort "
    "with a descending-value, event-id-tiebreak comparator), sliced to "
    "the top 3, and reduced with higher-order aggregate — the "
    "document-model shape (one row per entity, events nested) that "
    "Dremel-style engines made standard. Collect_list is "
    "order-nondeterministic, so the in-array comparator — not the "
    "collection order — defines the result; that discipline is what "
    "makes nested pipelines reproducible. Scale: one shuffle to nest; "
    "array ops are per-row and stay scan-parallel, but unbounded "
    "per-entity arrays must be capped (slice after sort) exactly as "
    "done here.",
)
def s49_array_of_struct_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    nested = e.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_id", "value")).alias("raw"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # Order inside the array: value DESC, event_id ASC (comparator, since
    # collect_list order is nondeterministic).
    cmp = (
        lambda a, b: F.when(a.value > b.value, -1)
        .when(a.value < b.value, 1)
        .when(a.event_id < b.event_id, -1)
        .when(a.event_id > b.event_id, 1)
        .otherwise(0)
    )
    sorted_evs = F.array_sort(F.col("raw"), cmp)
    top3 = F.slice(sorted_evs, 1, 3)
    return nested.select(
        "user_id",
        "n_events",
        F.round(
            F.aggregate(
                F.transform(top3, lambda s: F.round(s.value, 6)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("top3_sum"),
        F.date_format(F.element_at(sorted_evs, 1).ts, "yyyy-MM-dd HH:mm:ss").alias(
            "best_ts"
        ),
        F.element_at(sorted_evs, 1).event_id.alias("best_event_id"),
    )


# ---------------------------------------------------------------------------
# S50 — exchange reuse (shared subplan computed once)
# ---------------------------------------------------------------------------


@register(
    "s50_exchange_reuse",
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1
),
stats AS (
  SELECT AVG(n_events) AS avg_n, AVG(sum_value) AS avg_v FROM daily
)
SELECT d.day, d.n_events, d.sum_value,
       CAST(d.n_events > s.avg_n AS BOOLEAN) AS above_avg_count,
       CAST(d.sum_value > s.avg_v AS BOOLEAN) AS above_avg_value
FROM daily d CROSS JOIN stats s
""",
    doc="S50: EXCHANGE REUSE — one aggregate consumed twice (the daily "
    "rollup feeds both the detail rows and the corpus-average scalar "
    "it's compared against). Spark plans the shared shuffle ONCE and "
    "wires a ReusedExchange into the second consumer — asserted in "
    "tests/test_plans.py — so the self-referential 'compare each group "
    "to the average of all groups' query costs one aggregation, not "
    "two. This reuse is Catalyst's, not the author's: write the "
    "natural WITH-clause plan and the engine deduplicates the work — "
    "at 100 TB the difference between one shuffle of the fact table "
    "and two.",
)
def s50_exchange_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    stats = daily.agg(
        F.avg("n_events").alias("avg_n"), F.avg("sum_value").alias("avg_v")
    )
    return daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "n_events",
        "sum_value",
        (F.col("n_events") > F.col("avg_n")).alias("above_avg_count"),
        (F.col("sum_value") > F.col("avg_v")).alias("above_avg_value"),
    )


# ---------------------------------------------------------------------------
# S51 — bag-semantics set operations (INTERSECT ALL / EXCEPT ALL)
# ---------------------------------------------------------------------------


@register(
    "s51_bag_set_operations",
    oracle="""
WITH clicks AS (SELECT user_id FROM events WHERE event_type = 'click'),
views AS (SELECT user_id FROM events WHERE event_type = 'view')
SELECT 'intersect_all' AS op, user_id
FROM (SELECT user_id FROM clicks INTERSECT ALL SELECT user_id FROM views)
UNION ALL
SELECT 'except_all', user_id
FROM (SELECT user_id FROM clicks EXCEPT ALL SELECT user_id FROM views)
""",
    doc="S51: BAG-semantics set operations — INTERSECT ALL / EXCEPT ALL "
    "preserve MULTIPLICITY (a user with 5 clicks and 3 views "
    "intersects 3 times and excepts 2), the semantics set-difference "
    "accounting actually needs ('how many click events lack a matching "
    "view event per user') where the distinct forms (s08) collapse to "
    "membership. Spark's intersectAll/exceptAll plan as counted "
    "aggregates + a generate — one shuffle each, no join explosion. "
    "Completes the set-operator family: UNION/UNION ALL/INTERSECT/"
    "EXCEPT (s08) + the ALL bag forms (here).",
)
def s51_bag_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    views = e.filter(F.col("event_type") == "view").select("user_id")
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "user_id")  # noqa: E731
    return tag(clicks.intersectAll(views), "intersect_all").unionByName(
        tag(clicks.exceptAll(views), "except_all")
    )


# ---------------------------------------------------------------------------
# S52 — column-level data profile (catalog/ANALYZE shape)
# ---------------------------------------------------------------------------

PROFILE_COLUMNS = (
    ("l_quantity", "numeric"),
    ("l_extendedprice", "numeric"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "timestamp"),
)


@register(
    "s52_column_profile",
    oracle="""
SELECT 'l_quantity' AS column_name,
       CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
       CAST(MIN(l_quantity) AS VARCHAR) AS min_value,
       CAST(MAX(l_quantity) AS VARCHAR) AS max_value
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
       CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
       CAST(MIN(l_extendedprice) AS VARCHAR), CAST(MAX(l_extendedprice) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_returnflag', CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
       MIN(l_returnflag), MAX(l_returnflag)
FROM lineitem
UNION ALL
SELECT 'l_linestatus', CAST(COUNT(*) - COUNT(l_linestatus) AS BIGINT),
       CAST(COUNT(DISTINCT l_linestatus) AS BIGINT),
       MIN(l_linestatus), MAX(l_linestatus)
FROM lineitem
UNION ALL
SELECT 'l_shipdate', CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
       CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
       CAST(date_trunc('second', MIN(l_shipdate)) AS VARCHAR),
       CAST(date_trunc('second', MAX(l_shipdate)) AS VARCHAR)
FROM lineitem
""",
    doc="S52: COLUMN-LEVEL PROFILE — the ANALYZE/catalog/dbt-docs report: "
    "per-column null count, exact distinct cardinality, and min/max, "
    "emitted as one row per column, from ONE scan of the fact table. "
    "Plan: a typed unpivot (Expand x N of the projected columns only, "
    "keeping a numeric/string/timestamp slot each so min/max order "
    "natively, never lexicographically) then a two-level aggregate — "
    "level 1 dedups (column, value) with map-side partial combine, "
    "level 2 folds per-column counts and typed min/max. This replaces "
    "both rejected shapes: N independent jobs (N full scans of a "
    "100-TB fact) and the planner's mixed multi-distinct rewrite "
    "(Expand carrying every agg column through one giant distinct "
    "shuffle — measured ~7x slower than this plan). mode='approx' "
    "swaps level 1 for per-column HLL sketches (the s05e path) when "
    "high-cardinality exact NDV isn't worth its shuffle; "
    "mode='exact_jobs' keeps the old concurrent-jobs form as an "
    "audit. Values are stringified so one report covers "
    "heterogeneous column types — the catalog-table convention.",
)
def s52_column_profile(
    spark: SparkSession, sf_dir: str, mode: str = "exact"
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        *[c for c, _ in PROFILE_COLUMNS]
    )

    if mode == "exact_jobs":  # audit mode: N single-column jobs, N scans
        from concurrent.futures import ThreadPoolExecutor

        def profile_one(col_kind):
            col, kind = col_kind
            stats = li.agg(
                (F.count(F.lit(1)) - F.count(col)).alias("nulls"),
                F.countDistinct(col).alias("distinct"),
                F.min(col).alias("mn"),
                F.max(col).alias("mx"),
            ).first()
            mn, mx = stats["mn"], stats["mx"]
            if kind == "timestamp":
                mn = mn.strftime("%Y-%m-%d %H:%M:%S")
                mx = mx.strftime("%Y-%m-%d %H:%M:%S")
            else:
                mn, mx = str(mn), str(mx)
            return (col, int(stats["nulls"]), int(stats["distinct"]), mn, mx)

        with ThreadPoolExecutor(max_workers=len(PROFILE_COLUMNS)) as pool:
            rows = list(pool.map(profile_one, PROFILE_COLUMNS))
        return local_rows(
            spark,
            rows,
            "column_name string, n_nulls bigint, n_distinct bigint, "
            "min_value string, max_value string",
        )

    def slot(c: str, kind: str):
        return F.struct(
            F.lit(c).alias("column_name"),
            (
                F.col(c).cast("double")
                if kind == "numeric"
                else F.lit(None).cast("double")
            ).alias("vnum"),
            (F.col(c) if kind == "string" else F.lit(None).cast("string")).alias(
                "vstr"
            ),
            (
                F.col(c) if kind == "timestamp" else F.lit(None).cast("timestamp")
            ).alias("vts"),
        )

    unp = li.select(
        F.explode(F.array(*[slot(c, k) for c, k in PROFILE_COLUMNS])).alias("e")
    ).select("e.*")
    isnull = F.col("vnum").isNull() & F.col("vstr").isNull() & F.col("vts").isNull()
    mins = F.coalesce(
        F.min("vnum").cast("string"),
        F.min("vstr"),
        F.date_format(F.min("vts"), "yyyy-MM-dd HH:mm:ss"),
    )
    maxs = F.coalesce(
        F.max("vnum").cast("string"),
        F.max("vstr"),
        F.date_format(F.max("vts"), "yyyy-MM-dd HH:mm:ss"),
    )

    if mode == "approx":  # 100-TB default for high-cardinality NDV:
        # mergeable HLL registers, no (column, value) dedup shuffle.
        vkey = F.coalesce(
            F.col("vnum").cast("string"), F.col("vstr"), F.col("vts").cast("string")
        )
        return unp.groupBy("column_name").agg(
            F.sum(F.when(isnull, 1).otherwise(0)).alias("n_nulls"),
            F.approx_count_distinct(vkey).alias("n_distinct"),
            mins.alias("min_value"),
            maxs.alias("max_value"),
        )

    lvl1 = unp.groupBy("column_name", "vnum", "vstr", "vts").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    out = lvl1.groupBy("column_name").agg(
        F.sum(F.when(isnull, F.col("cnt")).otherwise(0)).alias("n_nulls"),
        F.count(F.when(~isnull, 1)).alias("n_distinct"),
        mins.alias("min_value"),
        maxs.alias("max_value"),
    )
    # a profile of an EMPTY table still lists its columns with zero
    # counters and NULL min/max (the oracle's UNION-of-global-aggregates
    # shape) — see grand_total_if_empty
    return grand_total_if_empty(
        li, out, [(c, 0, 0, None, None) for c, _ in PROFILE_COLUMNS]
    )


# ---------------------------------------------------------------------------
# S53 — nested schema pruning (struct subfield projection into the scan)
# ---------------------------------------------------------------------------


@register(
    "s53_nested_schema_pruning",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders
WHERE o_orderstatus = 'O'
""",
    doc="S53: NESTED SCHEMA PRUNING — a document-model table (each order "
    "nested into a details STRUCT with status/price/priority) read "
    "back selecting ONE subfield: Spark's nested-column pruning "
    "pushes the subfield projection into the parquet scan, so "
    "ReadSchema carries struct<price:double> only — the other "
    "subfields' pages are never decoded (asserted in "
    "tests/test_plans.py). This is what makes wide document models "
    "(s49's shape, Dremel's premise) viable at 100 TB: storing 50 "
    "fields in a struct costs a query exactly the subfields it "
    "touches. The status filter also prunes via the nested field, "
    "proving predicates reach through the struct too.",
)
def s53_nested_schema_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    out = stage_dir("nested", sf_dir)
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("price"),
            F.col("o_orderpriority").alias("priority"),
        ).alias("details"),
    )
    nested.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.filter(F.col("details.status") == "O").select(
        "o_orderkey", F.col("details.price").alias("price")
    )


# ---------------------------------------------------------------------------
# S54 — FILTER-clause aggregates (per-aggregate predicates, one pass)
# ---------------------------------------------------------------------------


@register(
    "s54_filtered_aggregates",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_clicks,
       CAST(COUNT(*) FILTER (event_type = 'purchase' AND value > 50)
            AS BIGINT) AS n_big_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'purchase')
            AS DOUBLE) AS purchase_value,
       CAST(COUNT(*) FILTER (event_type = 'error') > 0 AS BOOLEAN) AS any_error
FROM events
GROUP BY user_id
""",
    doc="S54: FILTER-clause aggregates — per-aggregate predicates inside "
    "ONE grouping pass (SQL:2003 FILTER (WHERE ...), plus the "
    "count_if/bool_or shorthands): five differently-conditioned "
    "metrics per user from a single scan and a single shuffle, where "
    "the naive form is five filtered subqueries re-joined on user_id "
    "(five scans, four joins). This is the workhorse of metric "
    "fan-out queries — every dashboard tile over the same grouping "
    "folds into one aggregate this way; s05g's pivot is its "
    "column-per-value cousin. Null-safety note: SUM FILTER over an "
    "empty match set yields NULL, not 0, in both engines — preserved "
    "as-is so the semantics stay standard.",
)
def s54_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("event_type") == "click").alias("n_clicks"),
        F.count_if(is_purchase & (F.col("value") > 50)).alias("n_big_purchases"),
        F.sum(F.when(is_purchase, F.col("value").cast("decimal(18,2)")))
        .cast("double")
        .alias("purchase_value"),
        F.bool_or(F.col("event_type") == "error").alias("any_error"),
    )


# ---------------------------------------------------------------------------
# S55 — correlated scalar-average subquery (TPC-H Q17 shape)
# ---------------------------------------------------------------------------


@register(
    "s55_small_quantity_revenue",
    oracle="""
WITH pq AS (
  SELECT l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_small_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS small_revenue
FROM lineitem l
JOIN pq ON l.l_partkey = pq.l_partkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE CAST(l.l_quantity AS DECIMAL(38,2)) * 5 * pq.n_lines
      < CAST(pq.qty_sum AS DECIMAL(38,2))
GROUP BY p.p_brand
""",
    doc="S55: CORRELATED SCALAR-AVERAGE subquery — the TPC-H Q17 shape "
    "(revenue from lines ordering less than 20% of their part's average "
    "quantity), the canonical 'compare each row against its group's "
    "aggregate' pattern. Catalyst decorrelates `l_quantity < (SELECT "
    "0.2*AVG(..) WHERE l2.l_partkey = l.l_partkey)` into exactly the "
    "aggregate-then-rejoin written here; doing it explicitly keeps the "
    "threshold in exact DECIMAL arithmetic via the multiply form "
    "(qty*5*n < sum <=> qty < 0.2*sum/n), so the boundary filter is "
    "bit-identical across engines and partial-agg orders — a double "
    "AVG would make near-threshold rows engine-dependent. Scale: the "
    "per-part aggregate shuffles on l_partkey, the rejoin reuses that "
    "partitioning (co-located), and the part dim broadcasts; no row "
    "ever compares against more than its own group's two scalars.",
)
def s55_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pq = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_sum"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    small = (
        li.join(pq, "l_partkey")
        .filter(
            F.col("l_quantity").cast("decimal(38,2)") * 5 * F.col("n_lines")
            < F.col("qty_sum").cast("decimal(38,2)")
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
    )
    return small.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("small_revenue"),
    )


# ---------------------------------------------------------------------------
# S56 — double aggregation with ON-clause outer-join predicate (Q13 shape)
# ---------------------------------------------------------------------------


@register(
    "s56_order_count_histogram",
    oracle="""
SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority NOT LIKE '3%'
  GROUP BY c.c_custkey
) per_cust
GROUP BY n_orders
""",
    doc="S56: DOUBLE AGGREGATION over an outer join — the TPC-H Q13 "
    "customer-distribution shape: count orders per customer (keeping "
    "zero-order customers via LEFT JOIN + null-skipping COUNT(col)), "
    "then histogram customers by that count. The join predicate lives "
    "in the ON clause, not WHERE — on an outer join those are NOT "
    "equivalent (a WHERE filter on the right side would silently turn "
    "the join inner and drop the zero bucket), the classic Q13 trap. "
    "Scale: first agg shuffles on c_custkey (same key as the join — "
    "one exchange serves both), second agg shuffles tiny "
    "(distinct-count-many) rows; the histogram is the mergeable "
    "summary a 1000-executor run reduces cheaply.",
)
def s56_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (~F.col("o_orderpriority").startswith("3")),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# ---------------------------------------------------------------------------
# S57 — above-average balance + never-ordered anti join (Q22 shape)
# ---------------------------------------------------------------------------


@register(
    "s57_dormant_rich_customers",
    oracle="""
WITH bal AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum,
         COUNT(*) AS n_pos
  FROM customer WHERE c_acctbal > 0
)
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
FROM customer c, bal
WHERE CAST(c.c_acctbal AS DECIMAL(38,2)) * bal.n_pos
        > CAST(bal.bal_sum AS DECIMAL(38,2))
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice >= 400000)
GROUP BY c.c_mktsegment
""",
    doc="S57: GLOBAL-AVERAGE scalar subquery + NOT EXISTS anti join — the "
    "TPC-H Q22 shape: customers with above-average (positive) balance "
    "who never placed a HIGH-VALUE (>=400k) order, grouped by market "
    "segment (in this synthetic corpus every customer has ordered, so "
    "the literal never-ordered predicate is vacuous; the filtered "
    "NOT EXISTS keeps the anti join non-degenerate at every SF). The "
    "above-average filter uses the exact multiply form (bal*n > sum "
    "<=> bal > avg) in DECIMAL so the threshold is engine- and "
    "order-independent; the never-ordered predicate is a left-anti "
    "join on o_custkey. Scale: the balance scalar is a 2-value "
    "broadcast; the anti join shuffles on custkey (or broadcasts the "
    "distinct custkey set when the order side is the small one); the "
    "final segment rollup is a handful of groups.",
)
def s57_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("bal_sum"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    rich = c.join(F.broadcast(bal)).filter(
        F.col("c_acctbal").cast("decimal(38,2)") * F.col("n_pos")
        > F.col("bal_sum").cast("decimal(38,2)")
    )
    big_orders = o.filter(F.col("o_totalprice") >= 400000)
    dormant = rich.join(big_orders, rich.c_custkey == big_orders.o_custkey, "left_anti")
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_balance"),
    )


# ---------------------------------------------------------------------------
# S58 — exact ordered-statistic aggregates (median / quartiles)
# ---------------------------------------------------------------------------


@register(
    "s58_exact_quartiles",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       round(quantile_cont(l_quantity, 0.25), 6) AS q1_quantity,
       round(quantile_cont(l_quantity, 0.50), 6) AS median_quantity,
       round(quantile_cont(l_quantity, 0.75), 6) AS q3_quantity,
       round(quantile_cont(l_extendedprice, 0.50), 6) AS median_price
FROM lineitem
GROUP BY l_returnflag
""",
    doc="S58: EXACT ordered-statistic aggregates — per-group exact "
    "median and quartiles via linear-interpolated percentile (the "
    "SQL percentile_cont semantics, matching DuckDB's quantile_cont), "
    "completing the quantile surface next to s05f's approx sketch: "
    "approx for the 100 TB hot path, exact for the audit/calibration "
    "pass that validates the sketch's error. Exact percentiles "
    "materialize each group's values (Spark buffers per-group sorted "
    "arrays) — that is the honest cost of exactness and why this "
    "runs on bounded groups (5 flags here) or audit samples at "
    "scale, never on high-cardinality keys. Interpolated values are "
    "rounded on both sides so the float arithmetic can't drift the "
    "comparison.",
)
def s58_exact_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("q1_quantity"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 6).alias("median_quantity"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("q3_quantity"),
        F.round(F.expr("percentile(l_extendedprice, 0.50)"), 6).alias("median_price"),
    )


# ---------------------------------------------------------------------------
# S59 — null-safe join (IS NOT DISTINCT FROM / <=>)
# ---------------------------------------------------------------------------


@register(
    "s59_null_safe_join",
    oracle="""
WITH keyed AS (
  SELECT event_id, nullif(event_type, 'view') AS k FROM events
),
dim(k, label) AS (
  VALUES ('click', 'Engaged'), ('purchase', 'Converted'),
         ('signup', 'Acquired'), ('error', 'Broken'),
         (NULL, 'Browsing')
)
SELECT d.label, CAST(COUNT(*) AS BIGINT) AS n_events
FROM keyed e JOIN dim d ON e.k IS NOT DISTINCT FROM d.k
GROUP BY d.label
""",
    doc="S59: NULL-SAFE equality join (SQL IS NOT DISTINCT FROM, "
    "Spark's <=> / eqNullSafe) — the join variant where NULL keys "
    "match each other instead of silently dropping: the fact side "
    "derives a nullable key (NULLIF demotes the default 'view' type "
    "to NULL) and the broadcast dim carries an explicit NULL-keyed "
    "row, so every fact row classifies, including the null bucket a "
    "plain inner join would discard — the standard "
    "unknown-member-row pattern in dimensional modeling. Scale "
    "warning encoded here: under null-safe semantics the NULL key "
    "is a real join key and is usually the most frequent value — "
    "the classic skew key. Broadcast (as here) sidesteps it; a "
    "shuffle null-safe join needs the union-split (IS NULL branch "
    "handled separately) or AQE skew splitting.",
)
def s59_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        "event_id", F.nullif(F.col("event_type"), F.lit("view")).alias("k")
    )
    dim = local_rows(
        spark,
        [
            ("click", "Engaged"),
            ("purchase", "Converted"),
            ("signup", "Acquired"),
            ("error", "Broken"),
            (None, "Browsing"),
        ],
        "k string, label string",
    )
    return (
        keyed.join(F.broadcast(dim), keyed.k.eqNullSafe(dim.k))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# ---------------------------------------------------------------------------
# S60 — pure inequality (theta) join via broadcast nested loop
# ---------------------------------------------------------------------------


@register(
    "s60_theta_join_price_tiers",
    oracle="""
WITH tiers(tier_name, min_price) AS (
  VALUES ('bronze', 0.0), ('silver', 150000.0),
         ('gold', 300000.0), ('platinum', 450000.0)
),
best AS (
  SELECT o.o_orderkey, o.o_totalprice, t.tier_name, t.min_price,
         row_number() OVER (PARTITION BY o.o_orderkey
                            ORDER BY t.min_price DESC) AS rn
  FROM orders o JOIN tiers t ON o.o_totalprice >= t.min_price
)
SELECT tier_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS tier_revenue
FROM best WHERE rn = 1
GROUP BY tier_name
""",
    doc="S60: PURE-INEQUALITY (theta) JOIN — orders matched to price "
    "tiers on `o_totalprice >= min_price` alone, no equality key "
    "anywhere: Spark has no hash bucket to build, so this plans "
    "BroadcastNestedLoopJoin — the join strategy the rest of the "
    "matrix (hash/merge/range/as-of) never exercises, and the right "
    "tool ONLY because the broadcast side is constant-size (4 tier "
    "rows: each fact row scans 4 candidates — a fixed CPU factor, no "
    "shuffle). The highest qualifying tier wins via a per-order "
    "row_number over descending thresholds. Scale warning encoded in "
    "the shape: BNLJ with a non-constant right side is O(n*m) and a "
    "cluster-killer; if the tier table grew, the rewrite is the s48 "
    "bucketization (range-bin both sides) or a sorted as-of join "
    "(s04e).",
)
def s60_theta_join_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    tiers = local_rows(
        spark,
        [
            ("bronze", 0.0),
            ("silver", 150000.0),
            ("gold", 300000.0),
            ("platinum", 450000.0),
        ],
        "tier_name string, min_price double",
    )
    joined = o.join(
        F.broadcast(tiers), F.col("o_totalprice") >= F.col("min_price")
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("min_price").desc())
    best = joined.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.groupBy("tier_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("tier_revenue"),
    )


@register(
    "s73_recursive_cte",
    oracle="""
WITH RECURSIVE chain AS (
  SELECT c_custkey, c_custkey AS root_key, 0 AS depth,
         CAST(c_custkey AS VARCHAR) AS path
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, chain.root_key, chain.depth + 1,
         chain.path || '/' || CAST(c.c_custkey AS VARCHAR)
  FROM customer c JOIN chain ON c.c_custkey // 10 = chain.c_custkey
  WHERE c.c_custkey >= 10
)
SELECT c_custkey, root_key, depth, path FROM chain
""",
    doc="S73: recursive CTE (Spark 4 WITH RECURSIVE) — hierarchical "
    "traversal the engine itself iterates, no driver loop. A synthetic "
    "decimal-digit hierarchy over customer (parent = custkey DIV 10, "
    "roots < 10) is walked to every key, accumulating depth and the "
    "root->leaf path string. Spark executes this as a UnionLoop: each "
    "level is one join of the frontier against the base table, O(max "
    "depth) = O(log10 N) rounds — the same per-round shape as the "
    "hand-rolled min-label propagation in dedup.py:366, but planned by "
    "Catalyst. Frontier rows per round are |keys at that digit length|, "
    "so no round re-touches the whole table; at 100 TB the join key "
    "is the shuffle key and AQE sizes each round independently.",
)
def s73_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
WITH RECURSIVE chain AS (
  SELECT c_custkey, c_custkey AS root_key, 0 AS depth,
         CAST(c_custkey AS STRING) AS path
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, chain.root_key, chain.depth + 1,
         concat(chain.path, '/', CAST(c.c_custkey AS STRING))
  FROM customer c JOIN chain ON c.c_custkey DIV 10 = chain.c_custkey
  WHERE c.c_custkey >= 10
)
SELECT c_custkey, root_key, depth, path FROM chain
"""
    )


# ---------------------------------------------------------------------------
# X100: mergeable equi-depth quantile sketch (KLL-style two-level compactor)
# ---------------------------------------------------------------------------

QSKETCH_M = 64  # samples per summary (the accuracy knob: rank err ~ 2/m)
QSKETCH_QS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def qsketch_compact(values, weights, m: int = QSKETCH_M) -> tuple:
    """Compact a weighted sample set to m rank-spaced samples (the
    equi-depth compaction both the batch sketch x100 and its streaming
    twin s14o fold through)."""
    import numpy as np

    order = np.argsort(values, kind="stable")
    v, w = values[order], weights[order]
    cw = np.cumsum(w)
    total = cw[-1]
    # sample at the m mid-ranks (i+0.5)/m * total
    targets = (np.arange(m) + 0.5) / m * total
    idx = np.searchsorted(cw, targets, side="left")
    idx = np.minimum(idx, len(v) - 1)
    return v[idx], np.full(m, total / m)


def qsketch_quantiles(values, weights, qs) -> "list[float]":
    """Answer quantile queries from a merged weighted summary."""
    import numpy as np

    v = np.asarray(values, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    order = np.argsort(v, kind="stable")
    v, w = v[order], w[order]
    cw = np.cumsum(w)
    idx = np.searchsorted(cw, np.asarray(qs) * cw[-1], side="left")
    idx = np.minimum(idx, len(v) - 1)
    return [round(float(x), 6) for x in v[idx]]



@register(
    "x100_quantile_sketch",
    # Sketch estimates are partitioning-dependent by construction ->
    # rows-only; tests/test_properties.py::test_quantile_sketch_rank_error
    # pins the rank-error bound against the exact empirical CDF and
    # determinism under a fixed partitioning.
    oracle=None,
    doc="X100: distributed mergeable quantile sketch over events.value "
    "per event_type — the streaming/telemetry building block exact "
    "percentiles (s05f) can't provide at scale because they buffer "
    "whole groups. Hierarchical equi-depth compactor (the KLL idea, "
    "public, with uniform level capacities): every Arrow batch is "
    "compacted to m=64 weighted rank-spaced samples, and per-type "
    "batch summaries fold INCREMENTALLY via a binary-counter merge "
    "(the LSM trick: level-0 insert, equal levels merge upward) — so "
    "task memory is O(batch + m log2(batches)) and never O(partition "
    "rows); the per-type shuffle then carries n_partitions x m rows "
    "— independent of row count — and a final weighted-rank merge "
    "answers q in {0.1..0.99}. Rank error grows one 1/m granule per "
    "compaction LEVEL: ~(2 + log2(batches))/m, logarithmic in "
    "partition size (m is the knob — doubling m halves it); pinned "
    "at 0.04 by the property test at fixture scale (2-3 levels). Everything numeric is order-deterministic: "
    "samples are sorted values at fixed weighted ranks, no floating "
    "accumulation.",
)
def x100_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    e = spread(load_table(spark, sf_dir, "events"), "event_id")
    e = e.select("event_type", "value")

    m = QSKETCH_M
    _compact = qsketch_compact

    def summarize(batches):
        # Per type, a binary-counter of summaries (the LSM merge trick):
        # a batch summary enters at level 0; two summaries at the same
        # level merge-compact into level+1.  Any element passes through
        # ~log2(batches) compactions (its final level), and memory is
        # O(m * log2(batches)) — never O(partition rows).
        etypes: dict = {}  # et -> {level: (values, weights)}
        def _push(levels: dict, summary: tuple, level: int = 0) -> None:
            while level in levels:
                prev = levels.pop(level)
                summary = _compact(
                    np.concatenate([prev[0], summary[0]]),
                    np.concatenate([prev[1], summary[1]]),
                )
                level += 1
            levels[level] = summary

        for pdf in batches:
            if len(pdf) == 0:
                continue
            for et, grp in pdf.groupby("event_type", sort=False):
                vals = grp["value"].to_numpy(dtype=np.float64)
                if len(vals) == 0:
                    continue
                _push(
                    etypes.setdefault(et, {}),
                    _compact(vals, np.ones(len(vals))),
                )
        out_t, out_v, out_w = [], [], []
        for et, levels in etypes.items():
            vs = np.concatenate([s[0] for s in levels.values()])
            ws = np.concatenate([s[1] for s in levels.values()])
            fv, fw = _compact(vs, ws)
            out_t.extend([et] * m)
            out_v.extend(fv)
            out_w.extend(fw)
        if out_t:
            yield pd.DataFrame(
                {"event_type": out_t, "v": out_v, "w": out_w}
            )

    summaries = e.mapInPandas(
        summarize, "event_type string, v double, w double"
    )

    qs = list(QSKETCH_QS)

    def merge(key, pdf):
        v = pdf["v"].to_numpy(dtype=np.float64)
        w = pdf["w"].to_numpy(dtype=np.float64)
        order = np.argsort(v, kind="stable")
        v, w = v[order], w[order]
        cw = np.cumsum(w)
        total = cw[-1]
        idx = np.searchsorted(cw, np.asarray(qs) * total, side="left")
        idx = np.minimum(idx, len(v) - 1)
        return pd.DataFrame(
            {
                "event_type": key[0],
                "q": qs,
                "est_value": np.round(v[idx], 6),
                "n_summary_rows": len(pdf),
            }
        )

    return summaries.groupBy("event_type").applyInPandas(
        merge,
        "event_type string, q double, est_value double, n_summary_rows long",
    )


# ---------------------------------------------------------------------------
# S74 — global row numbering without a single-reducer window
# ---------------------------------------------------------------------------


@register(
    "s74_global_row_numbering",
    oracle="""
SELECT o_orderkey,
       row_number() OVER (ORDER BY o_orderkey) AS global_seq
FROM orders
""",
    doc="S74: global sequence assignment — the zipWithIndex pattern. A "
    "naive `row_number() OVER (ORDER BY key)` has an empty PARTITION BY, "
    "so Spark plans a SINGLE window partition: every row funnels through "
    "one task — the canonical accidental scale-killer (works at sf0.1, "
    "OOMs at 100 TB). This operator produces the identical numbering "
    "with no single-task stage: range-repartition + sort-within-"
    "partitions (s26's distributed total order), a partition-LOCAL "
    "Arrow pass assigns (pid, local_rn) with a running counter — order-"
    "preserving, stateless beyond one int — then per-pid counts (one "
    "row per partition) turn into prefix offsets on the driver side of a broadcast "
    "join. Exactly Spark's own RDD.zipWithIndex two-pass design, "
    "expressed over DataFrames. Unique keys make the numbering "
    "boundary-placement-independent, so RangePartitioner sampling "
    "cannot affect the result.",
)
def s74_global_row_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    return distributed_global_rank(o, [F.col("o_orderkey")], "global_seq")


# ---------------------------------------------------------------------------
# X116 — semi-structured field census over the JSON props column
# ---------------------------------------------------------------------------


@register(
    "x116_json_field_census",
    oracle="""
WITH tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
),
kv AS (
  SELECT event_type, k.key,
         json_extract_string(props, '$.' || k.key) AS val
  FROM events, unnest(json_keys(props)) AS k(key)
),
typed AS (
  SELECT event_type, key, val,
         CASE WHEN regexp_matches(val, '^-?[0-9]+$')
              THEN CAST(val AS BIGINT) END AS iv
  FROM kv
)
SELECT typed.event_type, typed.key,
       CAST(count(*) AS BIGINT) AS n_with_key,
       round(CAST(count(*) AS DOUBLE) / any_value(tot.n_events), 6)
           AS presence_rate,
       CAST(count(typed.iv) AS BIGINT) AS n_int_values,
       CAST(min(typed.iv) AS BIGINT) AS min_v,
       CAST(max(typed.iv) AS BIGINT) AS max_v,
       round(CAST(SUM(typed.iv) AS DOUBLE) / count(typed.iv), 6) AS avg_v
FROM typed JOIN tot USING (event_type)
GROUP BY typed.event_type, typed.key
""",
    doc="X116: semi-structured FIELD CENSUS — the schema-inference audit "
    "for a JSON payload column: per (event_type, json key), how often "
    "the key is present, how often its value parses as an integer, and "
    "the value range/mean — what you run before hardening a JSON blob "
    "into typed columns (which keys are total? which are numeric? which "
    "event types diverge?). Spark parses each payload ONCE with "
    "from_json(map<string,string>) and explodes the map — no per-key "
    "get_json_object re-parse (path literals would re-scan the blob per "
    "key); the integer test is the same anchored regexp in both "
    "engines, and integer SUMs stay exact. Scale: one scan + one "
    "(event_type, key) shuffle whose cardinality is the distinct "
    "payload schema — key-census tables are always tiny; the per-type "
    "totals broadcast.",
)
def x116_json_field_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    tot = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    kv = e.select(
        "event_type",
        F.explode(F.from_json("props", "map<string,string>")).alias("key", "val"),
    )
    iv = F.when(F.col("val").rlike(r"^-?[0-9]+$"), F.col("val").cast("bigint"))
    return (
        kv.withColumn("iv", iv)
        .join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "key")
        .agg(
            F.count(F.lit(1)).alias("n_with_key"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.any_value("n_events"), 6
            ).alias("presence_rate"),
            F.count("iv").alias("n_int_values"),
            F.min("iv").alias("min_v"),
            F.max("iv").alias("max_v"),
            F.round(F.sum("iv").cast("double") / F.count("iv"), 6).alias("avg_v"),
        )
    )


# ---------------------------------------------------------------------------
# X119 — association rules over per-user event baskets (support/lift)
# ---------------------------------------------------------------------------


@register(
    "x119_event_association_rules",
    oracle="""
WITH baskets AS (
  SELECT DISTINCT user_id, event_type FROM events
),
n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
item AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_a FROM baskets GROUP BY event_type),
pair AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       round(CAST(p.n_ab AS DOUBLE) / n.n_users, 6) AS support,
       round(CAST(p.n_ab AS DOUBLE) / ia.n_a, 6) AS confidence_a_to_b,
       round(CAST(p.n_ab AS DOUBLE) * n.n_users / (ia.n_a * ib.n_a), 6) AS lift
FROM pair p
JOIN item ia ON ia.event_type = p.type_a
JOIN item ib ON ib.event_type = p.type_b
CROSS JOIN n
""",
    doc="X119: association rules — market-basket analysis over per-user "
    "event-type baskets: for every type pair, support (fraction of "
    "users with both), confidence (P(B|A)), and lift (observed/expected "
    "co-occurrence) — the classic 'users who X also Y' analytics "
    "surface the engine was missing. All numerators/denominators are "
    "exact BIGINT distinct counts; every ratio divides integers "
    "(products < 2^53, exact in double) in identical expression shape, "
    "6dp. Scale: baskets = one distinct on (user, type) — the same "
    "shuffle a sessionization pays; the pair join explodes per-user "
    "type sets, bounded by the TYPE vocabulary (k types -> <= k(k-1)/2 "
    "rows per user), never by event volume; item/total tables are "
    "type-vocabulary-sized and broadcast.",
)
def x119_event_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # item counts, pair join (both sides), and n_users all read it
    baskets = materialize(e.select("user_id", "event_type").distinct(), "reused")
    n = baskets.agg(F.count_distinct("user_id").alias("n_users"))
    item = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_a"))
    pair = (
        baskets.alias("a")
        .join(
            baskets.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ia, ib = item.alias("ia"), item.alias("ib")
    return (
        pair.join(F.broadcast(ia), F.col("type_a") == F.col("ia.event_type"))
        .join(F.broadcast(ib), F.col("type_b") == F.col("ib.event_type"))
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n_users"), 6).alias(
                "support"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("ia.n_a"), 6).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_users")
                / (F.col("ia.n_a") * F.col("ib.n_a")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# X120 — cohort retention matrix over the event stream
# ---------------------------------------------------------------------------


@register(
    "x120_cohort_retention",
    oracle="""
WITH activity AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk
  FROM events
),
first_wk AS (
  SELECT user_id, MIN(wk) AS cohort_week FROM activity GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
  FROM first_wk GROUP BY cohort_week
),
ret AS (
  SELECT f.cohort_week, a.wk - f.cohort_week AS week_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM activity a JOIN first_wk f USING (user_id)
  GROUP BY f.cohort_week, a.wk - f.cohort_week
)
SELECT ret.cohort_week, ret.week_offset, ret.n_active, sizes.cohort_size,
       round(CAST(ret.n_active AS DOUBLE) / sizes.cohort_size, 6) AS retention
FROM ret JOIN sizes USING (cohort_week)
""",
    doc="X120: COHORT RETENTION — the product-analytics staple the engine "
    "was missing: users grouped by first-activity week, then for every "
    "(cohort, week-offset) the fraction still active. Weeks are integer "
    "epoch-week numbers (integer epoch_us DIV 604800e6, no float floor) so the bucketing is "
    "engine-exact — no date_trunc('week') start-of-week convention to "
    "disagree on; counts are exact distinct BIGINTs, retention divides "
    "integers, 6dp. Scale: one (user, week) distinct (the activity "
    "spine), a per-user MIN, and one join back on user_id — all three "
    "share the user_id partitioning; cohort tables are "
    "weeks x offsets sized, trivially small at any event volume.",
)
def x120_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    wk = F.expr("unix_timestamp(ts) DIV 604800").cast("bigint")
    # first_wk AND the retention join read it
    activity = materialize(e.select("user_id", wk.alias("wk")).distinct(), "reused")
    first_wk = activity.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    sizes = first_wk.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = (
        activity.join(first_wk, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("wk") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return ret.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size"), 6
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# X121 — RFM customer segmentation (quintile scores over orders)
# ---------------------------------------------------------------------------


@register(
    "x121_rfm_segmentation",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', MAX(o_orderdate),
              (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM per_cust
)
SELECT o_custkey, recency_days, frequency, round(monetary, 2) AS monetary,
       r_score, f_score, m_score,
       CASE WHEN r_score <= 2 AND f_score <= 2 THEN 'champion'
            WHEN r_score <= 2 THEN 'recent'
            WHEN f_score <= 2 THEN 'loyal_lapsing'
            WHEN r_score >= 4 AND f_score >= 4 THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM scored
""",
    doc="X121: RFM SEGMENTATION — recency / frequency / monetary quintile "
    "scores per customer plus the standard segment labels "
    "(champion / recent / loyal_lapsing / hibernating / regular): the "
    "marketing-analytics workhorse built from one orders aggregate. "
    "Recency is integer days against the corpus max date (a broadcast "
    "scalar), monetary rides DECIMAL(18,2), and every NTILE orders by "
    "(metric, custkey) so quintile edges are engine-exact. Scale: one "
    "custkey aggregate, then three rank passes over the CUSTOMER table "
    "(orders never sort), each riding the count-gated global_rank "
    "(_util.py): below 1M customers a single-task window, above it the "
    "s74 two-pass numbering — EXACT quintiles at any scale, no sketch "
    "error, equivalence pinned in tests/test_properties.py.",
)
def x121_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    max_date = o.agg(F.max("o_orderdate").alias("mx"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon_dec"),
        )
        .crossJoin(F.broadcast(max_date))
        .select(
            "o_custkey",
            F.datediff(F.col("mx"), F.col("last_order"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            F.col("mon_dec").cast("double").alias("monetary"),
        )
    )
    # round 8: each quintile rank rides the count-gated numbering path (the
    # s74 two-pass numbering above 1M customers — no single task ever
    # sorts the customer table) and NTILE(5) is recomputed exactly from
    # (rank, count); identical output on either path. ONE count drives
    # both the gate and the ntile denominator (exact_ntile needs n anyway,
    # so the gate costs zero extra jobs; the checkpoint makes the three
    # rank passes read the aggregate once).
    per_cust = materialize(per_cust, "reused")  # 3 rank passes read it
    n_rows = per_cust.count()
    orders_specs = [
        ("_rr", [F.col("recency_days").asc(), F.col("o_custkey")]),
        ("_fr", [F.col("frequency").desc(), F.col("o_custkey")]),
        ("_mr", [F.col("monetary").desc(), F.col("o_custkey")]),
    ]
    ranked = per_cust
    for out_col, order in orders_specs:
        if n_rows <= GLOBAL_RANK_LOCAL_LIMIT:
            ranked = ranked.withColumn(
                out_col, F.row_number().over(Window.orderBy(*order)).cast("bigint")
            )
        else:
            ranked = distributed_global_rank(ranked, order, out_col)
    n = F.lit(n_rows).cast("bigint")
    scored = (
        ranked.withColumn("r_score", exact_ntile(F.col("_rr"), n, 5))
        .withColumn("f_score", exact_ntile(F.col("_fr"), n, 5))
        .withColumn("m_score", exact_ntile(F.col("_mr"), n, 5))
    )
    seg = (
        F.when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "champion")
        .when(F.col("r_score") <= 2, "recent")
        .when(F.col("f_score") <= 2, "loyal_lapsing")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "hibernating")
        .otherwise("regular")
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        F.round("monetary", 2).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        seg.alias("segment"),
    )


# ---------------------------------------------------------------------------
# X122 — A/B test analysis (hash-assigned variants, two-proportion z)
# ---------------------------------------------------------------------------


@register(
    "x122_ab_test_analysis",
    oracle="""
WITH assigned AS (
  SELECT user_id,
         CASE WHEN CAST(('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 4)) AS INT) % 2 = 0
              THEN 'A' ELSE 'B' END AS variant,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted
  FROM events GROUP BY user_id
),
cells AS (
  SELECT variant,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_converted
  FROM assigned GROUP BY variant
),
w AS (
  SELECT MAX(CASE WHEN variant = 'A' THEN n_users END) AS na,
         MAX(CASE WHEN variant = 'A' THEN n_converted END) AS ca,
         MAX(CASE WHEN variant = 'B' THEN n_users END) AS nb,
         MAX(CASE WHEN variant = 'B' THEN n_converted END) AS cb
  FROM cells
)
SELECT na AS n_a, ca AS conv_a, nb AS n_b, cb AS conv_b,
       round(CAST(ca AS DOUBLE) / na, 6) AS rate_a,
       round(CAST(cb AS DOUBLE) / nb, 6) AS rate_b,
       CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN 0.0
            ELSE round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                       / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                              * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                              * (1.0 / na + 1.0 / nb)), 6)
       END AS z_statistic
FROM w
""",
    doc="X122: A/B TEST analysis — the experimentation readout: users "
    "hash-assigned to variants (the x07/x12 md5 primitive, so "
    "assignment is reproducible, balanced, and stable under "
    "repartitioning — exactly how production experiment bucketing "
    "works), per-variant conversion (any purchase event), and the "
    "pooled two-proportion z statistic. Every count is an exact "
    "BIGINT; rates and z divide integer-derived doubles in identical "
    "expression shape, 6dp; all-/none-converted pools (zero pooled "
    "variance) define z = 0 via an integer equality — the pivoted "
    "single-row output keeps the "
    "final arithmetic scalar. Scale: one user_id aggregate (conversion "
    "flag is a MAX over the user's events — no distinct explosion), "
    "one 2-row variant aggregate, one pivot; assignment adds zero "
    "data movement because it derives from the grouping key itself.",
)
def x122_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    assigned = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("converted"),
    ).withColumn("variant", F.when(bucket == 0, "A").otherwise("B"))
    cells = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    w = cells.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("variant") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("n_converted"))).alias("cb"),
    )
    ra = F.col("ca").cast("double") / F.col("na")
    rb = F.col("cb").cast("double") / F.col("nb")
    pool = (F.col("ca") + F.col("cb")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    # all-converted / none-converted pools make the pooled variance 0 —
    # the z statistic is undefined; report 0.0, decided by an INTEGER
    # equality in both engines (no float compare, no ANSI div-by-zero)
    degenerate = (F.col("ca") + F.col("cb") == 0) | (
        F.col("ca") + F.col("cb") == F.col("na") + F.col("nb")
    )
    z = F.when(degenerate, F.lit(0.0)).otherwise(
        F.round(
            (ra - rb)
            / F.sqrt(
                pool * (F.lit(1.0) - pool)
                * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
            ),
            6,
        )
    )
    return w.select(
        F.col("na").alias("n_a"),
        F.col("ca").alias("conv_a"),
        F.col("nb").alias("n_b"),
        F.col("cb").alias("conv_b"),
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        z.alias("z_statistic"),
    )


# ---------------------------------------------------------------------------
# X123 — volume anomaly detection (median/MAD screen per event type)
# ---------------------------------------------------------------------------


@register(
    "x123_volume_anomaly_mad",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(CAST(ts AS DATE) AS VARCHAR)
),
med AS (
  SELECT event_type, round(quantile_cont(n, 0.5), 6) AS med_n
  FROM daily GROUP BY event_type
),
dev AS (
  SELECT daily.event_type, daily.day, daily.n, med.med_n,
         abs(daily.n - med.med_n) AS ad
  FROM daily JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad_n
  FROM dev GROUP BY event_type
)
SELECT dev.event_type, dev.day, dev.n, dev.med_n, mad.mad_n,
       CASE WHEN mad.mad_n = 0
            THEN (CASE WHEN dev.ad > 0 THEN 'anomaly' ELSE 'normal' END)
            WHEN 2 * CAST(round(dev.ad * 4) AS BIGINT)
                 > 7 * CAST(round(mad.mad_n * 4) AS BIGINT) THEN 'anomaly'
            ELSE 'normal' END AS volume_flag
FROM dev JOIN mad USING (event_type)
""",
    doc="X123: VOLUME ANOMALY screen — the ops-monitoring read on the "
    "event stream: per (event_type, day) counts flagged against the "
    "type's median via the MAD rule (|n - median| / MAD > 3.5, the "
    "robust-statistics standard — mean/stddev screens are blown up by "
    "the very outliers they hunt). Medians are the s58 exact "
    "percentile_cont convention (6dp-rounded both sides); the MAD=0 "
    "degenerate (a perfectly steady series) flags any deviation, "
    "decided on the ROUNDED mad so both engines branch together. "
    "Scale: daily counts are a (type, day) aggregate — the screen's "
    "input is days x types rows however large the stream; the exact "
    "medians run over that tiny table (the s58 bounded-group rule), "
    "with the x100 sketch as the swap if the spine ever isn't tiny.",
)
def x123_volume_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n")).transform(
        materialize, "reused"
    )  # the median AND the deviation join read it
    med = daily.groupBy("event_type").agg(
        F.round(F.percentile("n", F.lit(0.5)), 6).alias("med_n")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("n") - F.col("med_n"))
    ).transform(materialize, "reused")  # the MAD AND the final join read it
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("ad", F.lit(0.5)), 6).alias("mad_n")
    )
    flag = (
        F.when(
            F.col("mad_n") == 0,
            F.when(F.col("ad") > 0, "anomaly").otherwise("normal"),
        )
        # integer-space MAD rule (risk burn-down): daily counts are ints and
        # exact medians interpolate midpoints, so ad and mad are exact
        # multiples of 0.25 (binary-exact doubles); ad/mad > 3.5 is the
        # cross-multiplied quarter-unit comparison 2*ad_q > 7*mad_q — no
        # float division or threshold literal at the decision boundary
        .when(
            2 * F.round(F.col("ad") * 4).cast("bigint")
            > 7 * F.round(F.col("mad_n") * 4).cast("bigint"),
            "anomaly",
        )
        .otherwise("normal")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type", "day", "n", "med_n", "mad_n", flag.alias("volume_flag")
    )


# ---------------------------------------------------------------------------
# X125 — seasonal-naive forecast backtest over the event stream
# ---------------------------------------------------------------------------

SEASONAL_LAG_DAYS = 7


@register(
    "x125_seasonal_naive_backtest",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_no,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, epoch_us(ts) // 86400000000
),
joined AS (
  SELECT a.event_type, a.day_no, a.n AS actual, f.n AS forecast
  FROM daily a JOIN daily f
    ON f.event_type = a.event_type
   AND f.day_no = a.day_no - {SEASONAL_LAG_DAYS}
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days_scored,
       CAST(SUM(abs(actual - forecast)) AS BIGINT) AS abs_err_total,
       round(CAST(SUM(abs(actual - forecast)) AS DOUBLE) / count(*), 6) AS mae,
       round(CAST(SUM(CAST(round(CAST(abs(actual - forecast) AS DOUBLE)
                                 / actual, 6) AS DECIMAL(28,6))) AS DOUBLE)
             / count(*), 6) AS mape
FROM joined
GROUP BY event_type
""",
    doc="X125: FORECAST BACKTEST — the seasonal-naive baseline "
    "(yhat(d) = y(d-7)) every real forecasting effort must beat, "
    "evaluated per event type with MAE and MAPE over the aligned "
    "days. Days are integer epoch-day numbers (the x120 convention — "
    "no date arithmetic to disagree on) and the 7-day alignment is an "
    "integer equi-join; absolute errors are exact BIGINTs, each "
    "per-day relative error is 6dp-rounded THEN DECIMAL-summed so "
    "MAPE is aggregation-order-exact (actual > 0 by construction: "
    "count rows exist only for active days). Scale: the backtest "
    "input is the (type, day) count spine; the self-join is "
    "spine-sized and co-partitioned on event_type — adding horizons "
    "(d-1, d-14, ...) multiplies the SPINE, not the event volume.",
)
def x125_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.expr("unix_timestamp(ts) DIV 86400").cast("bigint").alias("day_no"),
    ).agg(F.count(F.lit(1)).alias("n")).transform(
        materialize, "reused"
    )  # both self-join sides read it
    a, f_ = daily.alias("a"), daily.alias("f")
    joined = a.join(
        f_,
        (F.col("f.event_type") == F.col("a.event_type"))
        & (F.col("f.day_no") == F.col("a.day_no") - SEASONAL_LAG_DAYS),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("actual"),
        F.col("f.n").alias("forecast"),
    )
    abs_err = F.abs(F.col("actual") - F.col("forecast"))
    rel_err = F.round(abs_err.cast("double") / F.col("actual"), 6)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.sum(abs_err).cast("bigint").alias("abs_err_total"),
        F.round(F.sum(abs_err).cast("double") / F.count(F.lit(1)), 6).alias(
            "mae"
        ),
        F.round(
            F.sum(rel_err.cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mape"),
    )


# ---------------------------------------------------------------------------
# X126 — user-journey Markov transitions (event-type flow matrix)
# ---------------------------------------------------------------------------


@register(
    "x126_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
trans AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n_trans
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
outdeg AS (
  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_out
  FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.n_trans, o.n_out,
       round(CAST(t.n_trans AS DOUBLE) / o.n_out, 6) AS p_transition
FROM trans t JOIN outdeg o USING (from_type)
""",
    doc="X126: MARKOV TRANSITION matrix — the user-journey flow readout: "
    "for every (from, to) event-type pair, the first-order transition "
    "probability P(next=to | current=from) over per-user time-ordered "
    "event sequences. The product question it answers: where do users "
    "actually go after a view / click / signup — the input to funnel "
    "design, next-action prediction baselines, and journey anomaly "
    "detection. Ordering ties break on (ts, event_id) — the composite "
    "the fixtures require — so lead() pairs identically in both "
    "engines; counts exact, probabilities 6dp integer ratios. Scale: "
    "one user_id-partitioned window over events (the x13/s27 shuffle), "
    "then aggregates on the types x types matrix — vocabulary-sized "
    "output at any event volume.",
)
def x126_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n_trans"))
    outdeg = trans.groupBy("from_type").agg(F.sum("n_trans").alias("n_out"))
    return trans.join(F.broadcast(outdeg), "from_type").select(
        "from_type",
        "to_type",
        "n_trans",
        "n_out",
        F.round(F.col("n_trans").cast("double") / F.col("n_out"), 6).alias(
            "p_transition"
        ),
    )


# ---------------------------------------------------------------------------
# X127 — experiment power analysis (sample size per arm across MDE grid)
# ---------------------------------------------------------------------------

POWER_MDES = (0.01, 0.02, 0.05, 0.10)  # absolute minimum detectable effects
Z_ALPHA_2 = 1.959964  # two-sided alpha = 0.05
Z_BETA = 0.841621  # power = 0.80


@register(
    "x127_power_analysis",
    oracle=f"""
WITH base AS (
  SELECT round(CAST(SUM(CASE WHEN has_p > 0 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 6) AS p0
  FROM (
    SELECT user_id, MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_p
    FROM events GROUP BY user_id
  )
),
grid AS (SELECT unnest([{', '.join(str(m) for m in POWER_MDES)}]) AS mde),
dirn AS (
  SELECT grid.mde, base.p0,
         CASE WHEN CAST(round(base.p0 * 1000000) AS BIGINT)
                   + CAST(round(grid.mde * 1000000) AS BIGINT) > 1000000
              THEN round(base.p0 - grid.mde, 6)
              ELSE round(base.p0 + grid.mde, 6) END AS p1
  FROM grid CROSS JOIN base
)
SELECT mde, p0, p1,
       (CAST(round(
          power({Z_ALPHA_2} * sqrt(2 * ((p0 + p1) / 2) * (1 - (p0 + p1) / 2))
                + {Z_BETA} * sqrt(p0 * (1 - p0) + p1 * (1 - p1)), 2)
          / (mde * mde) * 1000000) AS BIGINT) + 999999) // 1000000
         AS n_per_arm
FROM dirn
""",
    doc="X127: POWER ANALYSIS — the planning half of the x122 experiment "
    "loop: given the observed baseline conversion rate p0, the sample "
    "size per arm needed to detect each absolute MDE on a grid "
    f"{POWER_MDES} at alpha=0.05 (two-sided) / power=0.80, via the "
    "standard two-proportion formula n = (z_a*sqrt(2*pbar*qbar) + "
    "z_b*sqrt(p0*q0 + p1*q1))^2 / mde^2. The z constants are shared "
    "literals; p0 is a 6dp-rounded exact-integer ratio, so the whole "
    "computation is identical scalar IEEE arithmetic in both engines, "
    "with the one scale-sensitive step (the final ceil) taken in INTEGER "
    "space: n quantizes to 6dp micro-units (identical IEEE value in both "
    "engines) and the ceil is (v + 999999) DIV 1e6 — no float ceil at an "
    "integer boundary; likewise the saturated-baseline branch (p0 + mde "
    "> 1) compares micro-unit BIGINTs, not float literals. Like x103, the "
    "grid math is corpus-independent — the only data touched is one "
    "user-level aggregate for p0. Scale: one user_id aggregate + a "
    "4-row grid cross join.",
)
def x127_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    base = (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("has_p")
        )
        .agg(
            F.round(
                F.sum(F.when(F.col("has_p") > 0, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("p0")
        )
    )
    grid = local_rows(spark, [(m,) for m in POWER_MDES], "mde double")
    p0, mde = F.col("p0"), F.col("mde")
    # a saturated baseline (p0 + mde > 1, e.g. every fixture user converts)
    # flips the test direction: detect the DOWNWARD effect of the same size
    sat = (
        F.expr("CAST(round(p0 * 1000000) AS BIGINT)")
        + F.expr("CAST(round(mde * 1000000) AS BIGINT)")
        > 1000000
    )
    p1 = F.when(sat, F.round(p0 - mde, 6)).otherwise(F.round(p0 + mde, 6))
    dirn = grid.crossJoin(F.broadcast(base)).select("mde", "p0", p1.alias("p1"))
    p1c, pbar = F.col("p1"), (F.col("p0") + F.col("p1")) / 2
    n_f = (
        F.pow(
            F.lit(Z_ALPHA_2) * F.sqrt(2 * pbar * (1 - pbar))
            + F.lit(Z_BETA) * F.sqrt(p0 * (1 - p0) + p1c * (1 - p1c)),
            F.lit(2.0),
        )
        / (mde * mde)
    )
    # integer-space ceil on the 6dp-quantized value (risk burn-down)
    n = (
        (F.round(n_f * 1000000).cast("bigint") + 999999) / 1000000
    ).cast("bigint")
    return dirn.select("mde", "p0", "p1", n.alias("n_per_arm"))


# ---------------------------------------------------------------------------
# X129 — churn-model feature table (per-user behavioral features)
# ---------------------------------------------------------------------------


@register(
    "x129_user_feature_table",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)) AS gap_us
  FROM events
),
tmix AS (
  SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY user_id, event_type
),
tn AS (SELECT user_id, SUM(c) AS n FROM tmix GROUP BY user_id),
ent AS (
  SELECT tmix.user_id,
         round(CAST(SUM(CAST(-(tmix.c / tn.n) * ln(tmix.c / tn.n)
                             AS DECIMAL(28,18))) AS DOUBLE), 6) AS type_entropy
  FROM tmix JOIN tn USING (user_id) GROUP BY tmix.user_id
),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS active_span_us,
         CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
         CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
         CAST(SUM(gap_us) // count(gap_us) AS BIGINT) AS mean_gap_us
  FROM gaps GROUP BY user_id
)
SELECT agg.user_id, agg.n_events, agg.n_types, agg.active_span_us,
       agg.min_gap_us, agg.max_gap_us,
       CASE WHEN agg.n_events > 1 THEN agg.mean_gap_us END AS mean_gap_us,
       ent.type_entropy
FROM agg JOIN ent USING (user_id)
""",
    doc="X129: USER FEATURE TABLE — the feature-engineering shape every "
    "churn/propensity model consumes, built in one pass: per user, "
    "event volume, type diversity, active span, inter-event gap "
    "min/max/mean (lag() over the per-user time order, ties broken on "
    "event_id; the mean is an exact integer floor-division in MICROseconds "
    "— a 6dp double mean sat exactly on a rounding boundary at sf0.1), and the Shannon entropy of the user's event-type mix "
    "(the x108 DECIMAL idiom — high entropy = diverse engagement, near "
    "zero = single-habit user). Gaps are exact integer MICROseconds "
    "(unix_micros vs epoch_us — second-granularity epoch() truncates "
    "differently across engines on sub-second timestamps); the "
    "single-event user's undefined mean gap surfaces as an explicit "
    "NULL in both engines. Scale: everything keys on user_id — the "
    "lag window, both aggregates, and the final join share one "
    "partitioning; output is one row per user, the natural feature-"
    "store grain.",
)
def x129_user_feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        "ts",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    )
    tmix = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    tn = F.sum("c").over(Window.partitionBy("user_id"))
    ent = (
        tmix.withColumn("n", tn)
        .withColumn(
            "h",
            (-(F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))).cast(
                "decimal(28,18)"
            ),
        )
        .groupBy("user_id")
        .agg(F.round(F.sum("h").cast("double"), 6).alias("type_entropy"))
    )
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        F.expr("sum(gap_us) div count(gap_us)")
        .cast("bigint")
        .alias("mean_gap_raw"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("bigint")
        .alias("active_span_us"),
    )
    ntypes = e.groupBy("user_id").agg(
        F.count_distinct("event_type").alias("n_types")
    )
    return (
        agg.join(ntypes, "user_id")
        .join(ent, "user_id")
        .select(
            "user_id",
            "n_events",
            "n_types",
            "active_span_us",
            "min_gap_us",
            "max_gap_us",
            F.when(F.col("n_events") > 1, F.col("mean_gap_raw")).alias(
                "mean_gap_us"
            ),
            "type_entropy",
        )
    )


# ---------------------------------------------------------------------------
# X130 — Kaplan-Meier survival curve (time to first purchase, censored)
# ---------------------------------------------------------------------------


@register(
    "x130_kaplan_meier_survival",
    oracle="""
WITH spans AS (
  SELECT user_id,
         MIN(epoch_us(ts)) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp,
         MAX(epoch_us(ts)) AS tl
  FROM events GROUP BY user_id
),
subj AS (
  SELECT user_id,
         CAST((COALESCE(tp, tl) - t0) // 86400000000 AS BIGINT) AS t_day,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM spans
),
n_total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM subj),
ev AS (
  SELECT t_day,
         CAST(SUM(observed) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS leaving
  FROM subj GROUP BY t_day
),
risk AS (
  SELECT t_day, d,
         n_total.n - COALESCE(SUM(leaving) OVER (ORDER BY t_day
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
  FROM ev CROSS JOIN n_total
)
SELECT t_day, n_events, n_at_risk, survival
FROM (
  SELECT t_day, d AS n_events, CAST(n_at_risk AS BIGINT) AS n_at_risk,
         round(exp(CAST(SUM(CAST(CASE WHEN d > 0 AND n_at_risk > d
                                      THEN ln(1.0 - CAST(d AS DOUBLE) / n_at_risk)
                                      ELSE 0.0 END AS DECIMAL(28,18)))
                        OVER (ORDER BY t_day
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE)), 6) AS survival,
         d, n_at_risk AS nr
  FROM risk
)
WHERE d > 0 AND nr > d
""",
    doc="X130: KAPLAN-MEIER survival — time-to-first-purchase with "
    "right-censoring (users who never purchase are censored at their "
    "last observed event): S(t) = prod over event days of "
    "(1 - d_i / n_i), the estimator behind every retention/conversion-"
    "time analysis. The product runs as exp(cumulative sum of ln "
    "terms) with each ln through DECIMAL(28,18) — the x20 idiom lifted "
    "to a running window, so the curve is aggregation-order-exact; "
    "day indexing is integer microsecond arithmetic (the x129 "
    "convention); the at-risk set is a prefix sum over the DAY table. "
    "Days contribute a ln factor only when 0 < d < n_at_risk (d = 0 is "
    "a censor-only day, factor 1; n_at_risk = d would drive S to exact "
    "0 through ln(0)) — the gate is an integer predicate applied INSIDE "
    "the running sum so filtered output rows cannot shift the curve. Scale: one user_id aggregate, then every window runs "
    "over the distinct-DAY table — days x 1 rows however many users; "
    "the single-partition prefix windows are day-count-sized, the s74 "
    "rule.",
)
def x130_kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("tp"),
        F.max(F.unix_micros("ts")).alias("tl"),
    )
    subj = spans.select(
        F.expr("(coalesce(tp, tl) - t0) div 86400000000")
        .cast("bigint")
        .alias("t_day"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    n_total = subj.agg(F.count(F.lit(1)).alias("n"))
    ev = subj.groupBy("t_day").agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w_prev = Window.orderBy("t_day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = ev.crossJoin(F.broadcast(n_total)).select(
        "t_day",
        "d",
        (
            F.col("n") - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
        ).alias("n_at_risk"),
    )
    w_cum = Window.orderBy("t_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ln_term = F.when(
        (F.col("d") > 0) & (F.col("n_at_risk") > F.col("d")),
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk")),
    ).otherwise(F.lit(0.0)).cast("decimal(28,18)")
    return (
        risk.withColumn(
            "survival",
            F.round(F.exp(F.sum(ln_term).over(w_cum).cast("double")), 6),
        )
        .filter((F.col("d") > 0) & (F.col("n_at_risk") > F.col("d")))
        .select(
            "t_day",
            F.col("d").alias("n_events"),
            F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
            "survival",
        )
    )


# ---------------------------------------------------------------------------
# X132 — temporal burstiness of user activity (exact-integer variance core)
# ---------------------------------------------------------------------------


@register(
    "x132_user_burstiness",
    oracle="""
WITH gaps AS (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)))
         // 1000000 AS gap_s
  FROM events
),
st AS (
  SELECT user_id,
         CAST(count(gap_s) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS s1,
         CAST(SUM(gap_s * gap_s) AS BIGINT) AS s2
  FROM gaps GROUP BY user_id
  HAVING count(gap_s) >= 2
)
SELECT user_id, n_gaps,
       round(CAST(s1 AS DOUBLE) / n_gaps, 6) AS mean_gap_s,
       round(sqrt(CAST(n_gaps * s2 - s1 * s1 AS DOUBLE)) / n_gaps, 6) AS std_gap_s,
       CASE WHEN n_gaps * s2 = s1 * s1 AND s1 = 0 THEN 0.0
            ELSE round((sqrt(CAST(n_gaps * s2 - s1 * s1 AS DOUBLE)) / n_gaps
                        - CAST(s1 AS DOUBLE) / n_gaps)
                       / (sqrt(CAST(n_gaps * s2 - s1 * s1 AS DOUBLE)) / n_gaps
                          + CAST(s1 AS DOUBLE) / n_gaps), 6)
       END AS burstiness
FROM st
""",
    doc="X132: temporal BURSTINESS — Goh & Barabasi 2008's B = "
    "(sigma − mu)/(sigma + mu) over each user's inter-event gaps: "
    "B → −1 is a metronome (bot-like regularity), B ~ 0 is Poisson, "
    "B → 1 is extreme bursts — the behavioral signature that separates "
    "organic users from schedulers and scrapers. The variance core is "
    "EXACT integer algebra: gaps in whole seconds (integer floor-div "
    "from exact microseconds), n·Σx² − (Σx)² as BIGINTs (bounded: "
    "gap ≤ 3e6 s, gap² ≤ 9e12, × 1e4 events per user << 2^63), so "
    "both engines take sqrt of the IDENTICAL integer — no two-pass "
    "float variance needed; the all-zero-gap degenerate defines B = 0 "
    "via integer equality. Scale: one user_id window + one user "
    "aggregate, the x129 partitioning; output is per-user grain.",
)
def x132_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    gaps = e.select(
        "user_id",
        F.expr(
            "(unix_micros(ts) - unix_micros(lag(ts) over "
            "(partition by user_id order by ts, event_id))) div 1000000"
        ).alias("gap_s"),
    )
    st = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.sum("gap_s").cast("bigint").alias("s1"),
            F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("s2"),
        )
        .filter(F.col("n_gaps") >= 2)
    )
    var_num = F.col("n_gaps") * F.col("s2") - F.col("s1") * F.col("s1")
    mu = F.col("s1").cast("double") / F.col("n_gaps")
    sigma = F.sqrt(var_num.cast("double")) / F.col("n_gaps")
    return st.select(
        "user_id",
        "n_gaps",
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sigma, 6).alias("std_gap_s"),
        F.when((var_num == 0) & (F.col("s1") == 0), F.lit(0.0))
        .otherwise(F.round((sigma - mu) / (sigma + mu), 6))
        .alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# X137 — Benford first-digit audit over order totals
# ---------------------------------------------------------------------------


@register(
    "x137_benford_audit",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
              AS BIGINT) AS d
  FROM orders WHERE o_totalprice >= 1
),
obs AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs),
expect(d, p) AS (
  VALUES (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
         (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
         (9, 0.045757)
)
SELECT expect.d AS first_digit,
       COALESCE(obs.n, 0) AS n_observed,
       round(CAST(COALESCE(obs.n, 0) AS DOUBLE) / tot.total, 6) AS observed_p,
       expect.p AS benford_p,
       round(CAST(COALESCE(obs.n, 0) AS DOUBLE) / tot.total - expect.p, 6)
           AS deviation
FROM expect LEFT JOIN obs ON obs.d = expect.d CROSS JOIN tot
""",
    doc="X137: BENFORD first-digit audit — the classic fabricated-data "
    "screen: the leading-digit distribution of order totals against "
    "Benford's law (P(d) = log10(1+1/d), shipped as shared 6dp "
    "literals so no engine computes a log). The first digit is "
    "STRING-derived from the DECIMAL(18,2) rendering — not floor/log "
    "float arithmetic — so digit extraction is engine-exact including "
    "at powers of ten; observed shares divide exact BIGINTs; absent "
    "digits surface as explicit 0 rows (LEFT JOIN from the expectation "
    "table). Synthetic TPC-H prices are uniform-ish, so the deviations "
    "themselves are the interesting output — the audit shape is what "
    "ships. Scale: scan-side digit projection, one 9-key aggregate.",
)
def x137_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("bigint")
    obs = o.select(d.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = obs.agg(F.sum("n").cast("bigint").alias("total"))
    benford = local_rows(
        spark,
        [
            (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
            (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
            (9, 0.045757),
        ],
        "d int, p double",
    )
    share = F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("total")
    return (
        benford.join(obs, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").cast("bigint").alias("first_digit"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_observed"),
            F.round(share, 6).alias("observed_p"),
            F.col("p").alias("benford_p"),
            F.round(share - F.col("p"), 6).alias("deviation"),
        )
    )


# s76's select list for the oracle and spark.sql; the oracle inlines the
# constants that spark.sql binds through named markers.
_S76_SELECT = """SELECT l_returnflag,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4)
           AS revenue_delta,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem"""


@register(
    "s76_parameterized_sql",
    oracle=f"""
{_S76_SELECT}
WHERE l_shipdate >= TIMESTAMP '1994-01-01'
  AND l_shipdate <  TIMESTAMP '1995-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 25
GROUP BY l_returnflag
""",
    doc="S76: named-parameter SQL binding — the Q6 archetype submitted as "
    "spark.sql(sql, args={...}) with every predicate constant bound "
    "through a named marker (:ship_from/:ship_to/:disc_lo/:disc_hi/"
    ":max_qty), the injection-safe front-end surface a SQL service "
    "exposes. Parameter substitution happens at PARSE time, so the "
    "bound literals reach the parquet scan as ordinary PushedFilters "
    "with the scan still column-pruned (both asserted in "
    "tests/test_plans.py) — binding costs nothing at any scale.",
)
def s76_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        {_S76_SELECT}
        WHERE l_shipdate >= :ship_from AND l_shipdate < :ship_to
          AND l_discount BETWEEN :disc_lo AND :disc_hi
          AND l_quantity < :max_qty
        GROUP BY l_returnflag
        """,
        args={
            "ship_from": "1994-01-01",
            "ship_to": "1995-01-01",
            "disc_lo": 0.04,
            "disc_hi": 0.06,
            "max_qty": 25,
        },
    )


@register(
    "s77_sql_scripting",
    oracle="""
WITH cents AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS sum_c, CAST(count(*) AS BIGINT) AS n
  FROM cents
)
SELECT o_orderpriority,
       CASE WHEN tot.sum_c > 10000000 * tot.n THEN 'HIGH' ELSE 'LOW' END
           AS avg_band,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN cents.c * tot.n > tot.sum_c THEN 1 ELSE 0 END)
            AS BIGINT) AS n_above_avg
FROM cents, tot
GROUP BY 1, 2
""",
    doc="S77: SQL scripting (Spark 4 BEGIN/DECLARE/SET/IF) — the "
    "procedural front-end: the script computes the corpus-wide order "
    "total into a session variable, branches on whether the mean "
    "clears 100k, and emits per-priority counts above the mean. Every "
    "comparison is integer-rational (cents x n vs sum-of-cents — the "
    "repo's cross-multiplied-mean convention), so the script's control "
    "flow and output are bit-identical to the plain-SQL oracle in both "
    "engines. Scale: the script is driver-side CONTROL FLOW only — each "
    "statement is still a full Catalyst plan (the scalar subquery is "
    "one map-side partial agg; the final group-by shuffles 5 keys); "
    "procedure logic adds no per-row work.",
)
def s77_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from presto_weather_spark.session import register_views

    register_views(spark, sf_dir)
    with conf_scope(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE sum_c BIGINT DEFAULT 0;
              DECLARE n BIGINT DEFAULT 0;
              SET sum_c = (SELECT CAST(SUM(CAST(round(o_totalprice * 100)
                                              AS BIGINT)) AS BIGINT)
                           FROM orders);
              SET n = (SELECT CAST(count(*) AS BIGINT) FROM orders);
              SELECT o_orderpriority,
                     CASE WHEN sum_c > 10000000 * n THEN 'HIGH'
                          ELSE 'LOW' END AS avg_band,
                     CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(SUM(CASE WHEN CAST(round(o_totalprice * 100)
                                           AS BIGINT) * n > sum_c
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
              FROM orders
              GROUP BY o_orderpriority, avg_band;
            END
            """
        )
