"""Shared helpers for oracle-comparable queries.

Floating-point sums are order-dependent; Spark's partial aggregation order
varies run to run, while the DuckDB oracle sums sequentially.  Any double
SUM whose value lands near a rounding boundary can therefore hash-mismatch.
Fix: do the arithmetic in DECIMAL (exact, associative) and cast the final
result back to double.  Base money columns in the test data carry 2-decimal
values, so DECIMAL(18,2) casts are value-preserving.

The module also holds query shapes several layers share: standard-SQL
empty-input rows (``grand_total_if_empty``), global ranks and tiles
without a single-reducer window (``global_rank``, ``exact_ntile``), the
corpus tokenizer with its DuckDB twin (``raw_tokens``/``SQL_RAW_TOKENS``,
``tokens``/``SQL_TOKENS``, ``STOPWORDS``), the hashed token n-grams
(``gram_hashes``), the scan fan-out (``spread``), the one
``localCheckpoint`` (``materialize``) and the one driver-or-cluster size
gate (``fits_driver``). Scratch paths are not built here:
``session.stage_dir`` and ``session.temp_dir`` own them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from presto_weather_spark.session import local_rows

DEC = "decimal(18,2)"


def dec(col: Column) -> Column:
    """Cast a money-style double to exact DECIMAL(18,2)."""
    return col.cast(DEC)


def dsum(col: Column) -> Column:
    """Order-independent SUM of a money column, returned as double."""
    return F.sum(col.cast(DEC)).cast("double")


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"


# A tiny fixed English stopword list shared by Spark and oracle SQL.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "are",
)


def raw_tokens() -> Column:
    """The corpus tokenizer: ``text`` lowercased and split on whitespace
    runs. Empty tokens are kept (a leading space yields one), so array
    positions match DuckDB's ``string_split_regex`` (``SQL_RAW_TOKENS``)."""
    return F.split(F.lower(F.col("text")), r"\s+")


def tokens() -> Column:
    """``raw_tokens()`` with the empty tokens dropped (``SQL_TOKENS``)."""
    return F.filter(raw_tokens(), lambda t: t != "")


SQL_RAW_TOKENS = "string_split_regex(lower(text), '\\s+')"
SQL_TOKENS = f"list_filter({SQL_RAW_TOKENS}, t -> t <> '')"


def gram_hashes(d: DataFrame, toks: Column, k: int) -> DataFrame:
    """(doc_id, gh): the distinct ``k``-token windows of each doc's token
    array ``toks``, as hashes. Each token is hashed once and a window's
    hash is a multi-arg xxhash64 over lead() columns, so no gram string is
    built and only longs ride the window sort. A doc shorter than ``k``
    tokens has no window. gh names the gram string exactly short of a
    64-bit collision, which is the trade the string-gram DuckDB oracles
    are checked against. ``d`` must be partitioned by doc_id, so the
    window sorts in place."""
    th = d.select("doc_id", F.posexplode(toks).alias("pos", "tok")).select(
        "doc_id", "pos", F.xxhash64("tok").alias("h")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("h", i).over(w) for i in range(1, k)]
    return (
        th.select(
            "doc_id",
            F.xxhash64(F.col("h"), *leads).alias("gh"),
            leads[-1].alias("tail"),
        )
        .filter(F.col("tail").isNotNull())
        .select("doc_id", "gh")
        .distinct()
    )


def spread(df: DataFrame, *cols) -> DataFrame:
    """Fan a scan out across every core before per-row CPU work.

    The fixture parquet files are one row group, so their scan is one task
    and per-row work (regex, hashing, tokenize+explode, Python UDFs) would
    run serially. The explicit partition count matters: AQE would coalesce
    a column-only repartition of this byte-small input back to one
    partition. ``cols`` are the hash keys (none: round-robin)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *cols)


# Why a frame is materialized -> whether that needs a job now (eager) or can
# wait for the frame's first action (lazy).
_EAGER = {
    # Several consumers (plan branches or driver actions) read one copy.
    "reused": False,
    # The optimizer must not fold through the frame.
    "barrier": False,
    # An iterative loop cuts the lineage each round.
    "round": True,
    # Something the frame reads goes away or is rewritten once the call
    # returns: a conf scope closes, a persisted input is unpersisted, a
    # temp dir is removed, a staged directory is rewritten.
    "release": True,
}


def materialize(df: DataFrame, why: str) -> DataFrame:
    """``df`` as a local checkpoint, eager only where ``why`` needs the rows
    now. ``why`` is a key of ``_EAGER``; any other word raises KeyError."""
    return df.localCheckpoint(eager=_EAGER[why])


# Frames up to this many rows are collected and solved on the driver; larger
# ones run the key's cluster loop. Tests force the cluster half by setting
# this to 0.
DRIVER_ROWS = 100_000


def fits_driver(df: DataFrame) -> bool:
    """Whether ``df`` has at most ``DRIVER_ROWS`` rows, so a key may collect
    it and solve on the driver instead of running its cluster loop.

    The probe is ``limit(DRIVER_ROWS + 1).count()``: ``LocalLimit`` stops
    each scan task at the threshold, so it reads O(DRIVER_ROWS) rows, never
    the whole table, and it runs the same two jobs as a full ``count()``.
    An empty frame fits even when ``DRIVER_ROWS`` is 0, so a cluster half
    never sees one."""
    return df.limit(DRIVER_ROWS + 1).count() <= DRIVER_ROWS


def grand_total_if_empty(inp, out, row: tuple):
    """Standard-SQL empty-input semantics for grouping sets (round-10
    degenerate-parity find): Spark's Expand-based rollup/cube emits ZERO
    rows on empty input, while the SQL standard's () grouping set — and
    DuckDB/Postgres — aggregate the empty table into ONE grand-total row
    (COUNT 0, NULL sums). Same for per-column profile reports, which must
    still list their columns over an empty table.

    Append the constant degenerate row(s) iff the aggregation INPUT is
    empty, decided by a limit(1) count probe of the input (LocalLimit
    stops each scan task at the first row — O(1) work at any corpus
    size, the ``fits_driver`` probe). On the normal non-empty
    path the function returns ``out`` UNCHANGED — same plan, no union
    branch; the declarative alternative (anti-join against a broadcast
    limit(1) marker) was measured at ~0.35 s of fixed two-stage
    scheduling per key at sf0.1, vs ~0.05 s for this probe job.

    ``row``: one tuple matching out.schema (or a list of tuples for
    multi-row degenerates like the per-column profile)."""
    if inp.limit(1).count() > 0:
        return out
    rows = row if isinstance(row, list) else [row]
    return out.unionByName(local_rows(out.sparkSession, rows, out.schema))


def distributed_global_rank(df, order_exprs, out_col: str = "global_rn"):
    """Total-order global row numbering WITHOUT a single-reducer window —
    the s74 two-pass pattern (Spark's zipWithIndex over DataFrames),
    generalized for any frame and sort key (round 8: x76/x121/x128's
    unpartitioned data-grain windows move onto this path).

    Plan: range-exchange on the ordering (RangePartitioner sample pass +
    parallel per-partition sort), one partition-local Arrow numbering
    pass, a partition-count-sized offsets prefix sum (the ONLY
    unpartitioned window, over ~numPartitions rows), broadcast-added
    back. The ordering MUST be total (tie-broken to uniqueness) —
    otherwise RangePartitioner boundary sampling could place equal keys
    on either side of a split and the numbering would be
    run-dependent.

    order_exprs: list of Column expressions (may carry .desc()).
    Output: the input columns plus ``out_col`` (1-based bigint rank).
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import Window  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n_parts, *order_exprs).sortWithinPartitions(
        *order_exprs
    )
    out_schema = T.StructType(
        list(ranged.schema.fields)
        + [T.StructField("_pid", T.IntegerType()), T.StructField("_lrn", T.LongType())]
    )

    def number_partition(batches):
        from pyspark import TaskContext  # noqa: PLC0415

        pid = TaskContext.get().partitionId()
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_pid"] = pid
            pdf["_lrn"] = pd.RangeIndex(seen + 1, seen + len(pdf) + 1)
            seen += len(pdf)
            yield pdf

    # the counts aggregate AND the final join both read it
    local = materialize(ranged.mapInPandas(number_partition, out_schema), "reused")
    counts = local.groupBy("_pid").agg(F.max("_lrn").alias("_cnt"))
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(w), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_lrn") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_lrn", "_off")
    )


def exact_ntile(rank_col: Column, n_col: Column, k: int) -> Column:
    """SQL NTILE(k) computed from a 1-based global rank and the row count
    — exact tile boundaries (the first n%k tiles take ceil(n/k) rows),
    identical to the window function, usable where the rank came from
    distributed_global_rank instead of a single-reducer window."""
    q = (n_col / k).cast("bigint")  # n DIV k (n non-negative, < 2^53)
    r = n_col % k
    big = q + 1  # first r tiles have q+1 rows
    first = ((rank_col - 1) / big).cast("bigint") + 1
    rest = r + ((rank_col - 1 - r * big) / F.greatest(q, F.lit(1))).cast(
        "bigint"
    ) + 1
    return F.when(rank_col <= r * big, first).otherwise(rest).cast("int")


GLOBAL_RANK_LOCAL_LIMIT = 1_000_000  # rows; one sort task handles this fine


def global_rank(df, order_exprs, out_col: str = "global_rn"):
    """Count-gated global numbering: below GLOBAL_RANK_LOCAL_LIMIT rows a
    single-partition row_number window is the right plan (one task sorting <= 1M short rows beats the
    two-pass machinery's Arrow+checkpoint fixed costs); above it, the s74
    distributed numbering takes over so no task ever sorts the full
    frame. The gate probes limit(N+1).count() — O(N) rows read, never the
    table. Path equivalence is pinned in tests/test_properties.py."""
    from pyspark.sql import Window  # noqa: PLC0415

    if (
        df.limit(GLOBAL_RANK_LOCAL_LIMIT + 1).count()
        <= GLOBAL_RANK_LOCAL_LIMIT
    ):
        w = Window.orderBy(*order_exprs)
        return df.withColumn(out_col, F.row_number().over(w).cast("bigint"))
    return distributed_global_rank(df, order_exprs, out_col)
