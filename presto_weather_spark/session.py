"""SparkSession factory and table loading.

Scale notes (100 TB design intent, tested on local[32]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  sort-merge -> broadcast demotion replace hand-tuned plans.
- ``spark.sql.shuffle.partitions`` is sized for the local test harness; on a
  real cluster AQE's ``advisoryPartitionSizeInBytes`` governs post-shuffle
  sizing, so the static number only sets the pre-AQE upper bound.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive-UTC timestamps).

Conf policy: this is the only package module that writes session conf.
``build_session`` sets the defaults once; any per-call change goes through
``conf_scope``, which leaves the session as it found it. The one exception
is the ``nanosAsLong`` flip in ``_prepare_parquet_read``: it is never
restored, because the driver harness hands over a vanilla session and Spark
re-reads the conf when it plans every action on the returned frame.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def scratch_base() -> str:
    """Root for ALL engine scratch: shuffle/blockmgr files (spark.local.dir),
    temporary streaming checkpoints (java.io.tmpdir), and the staged
    write-then-read-back query outputs (operators._util.scratch_root).

    Round-11 optimization (guide §6): scratch is pure intra-job state —
    shuffle files live for one stage, stream checkpoints for one query,
    staged parquet for one session — so it belongs on the fastest local
    storage available, not on the OS temp dir's backing disk where every
    write also queues page-cache writeback that taxes LATER queries (the
    round-10 s34 in-bench-inflation finding). Selection order:

    - ``SPARK_GRAFT_SCRATCH_DIR`` if set — on a production cluster point
      this at the fast local-disk mount (NVMe scratch), exactly like
      ``spark.local.dir`` is provisioned on real deployments;
    - ``/dev/shm`` when it exists and is writable (Linux tmpfs — RAM-backed,
      no writeback; the 128 GiB harness sandbox runs sf0.1 scratch in the
      tens of MB, so capacity is a non-issue there);
    - the OS temp dir otherwise (the pre-round-11 behavior).
    """
    env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    import tempfile

    return tempfile.gettempdir()


def build_session(app_name: str = "presto_weather_spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) the engine's SparkSession with scale-aware defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Shuffle/blockmgr scratch AND the JVM temp dir (temporary streaming
    # checkpoint roots) go to the fast scratch base — see scratch_base().
    local_dir = os.path.join(scratch_base(), "pws-spark-local")
    os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.local.dir", local_dir)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # A long session compiles one generated class per codegen stage;
        # the JVM's default 240 MB code cache fills after ~50 queries and
        # the JIT silently stops compiling, leaving compute-heavy stages
        # interpreted (~10x). Bigger cache + flushing keeps the JIT alive.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            f"-Djava.io.tmpdir={local_dir}",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; read as long and convert in load_table (exact
        # integer division — going through double would lose precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_scope(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` for the body of a ``with`` block. On exit, even by an
    exception, each key gets back its earlier value, or is unset if it was
    not set before."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/pruning into it.

    Robust to both timestamp encodings the driver has shipped:

    - TIMESTAMP(NANOS), which Spark's reader rejects outright
      (PARQUET_TYPE_ILLEGAL) unless ``nanosAsLong`` is set — sniffed from
      the parquet footer (metadata-only, O(1) regardless of data size) and
      the conf is flipped ONLY when ns columns are actually present.  It is
      deliberately not restored afterwards: Spark re-reads it at physical
      planning of every action on the returned frame, so restoring here
      would break the scan later.  Micros-encoded reads never touch it.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark 4 infers
      TIMESTAMP_NTZ; ``_normalize_nanos`` casts it to TIMESTAMP under the
      UTC session timezone, matching DuckDB's naive-UTC semantics.

    The driver harness hands us a vanilla SparkSession, so all of this
    happens at read time, not only in build_session.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols = _prepare_parquet_read(spark, path)
    df = spark.read.parquet(path)
    return _normalize_nanos(df, nanos_cols)


def _prepare_parquet_read(spark: SparkSession, path: str) -> set[str] | None:
    """Footer-sniff ``path`` for TIMESTAMP(NANOS) columns and flip the
    nanosAsLong conf when (and only when) needed; returns the sniffed set
    (None = footer unreadable, caller falls back to the `ts`-name
    heuristic).  Shared by the batch and streaming read paths."""
    nanos_cols = _nanos_columns(path)
    if nanos_cols is None:
        # Footer sniff works on local paths only (pyarrow, no Hadoop FS) —
        # on remote storage fall back to the conservative path: set the
        # conf and treat a bigint `ts` as nanos.
        import warnings

        warnings.warn(
            f"could not sniff parquet footer of {path}; "
            "falling back to name-based nanos heuristic",
            stacklevel=2,
        )
    if nanos_cols is None or nanos_cols:
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # static/removed conf — read fails loudly if truly needed
    return nanos_cols


def _nanos_columns(path: str) -> set[str] | None:
    """Column names stored as TIMESTAMP(NANOS) — from the footer only.
    Returns None when the footer could not be inspected (caller falls back
    to a name-based heuristic)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            schema = pq.read_schema(path)
        except Exception:
            schema = pq.ParquetDataset(path).schema
        return {
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        }
    except Exception:
        return None


def _normalize_nanos(df: DataFrame, nanos_cols: set[str] | None) -> DataFrame:
    """Normalize every timestamp encoding to plain TIMESTAMP:

    - TIMESTAMP(NANOS) columns arrive as long under nanosAsLong; truncate
      to microseconds exactly (integer DIV) — matching DuckDB's ns->us cast.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as TIMESTAMP_NTZ;
      cast to TIMESTAMP (session tz is UTC, so the wall-clock value is
      preserved — the same naive-UTC reading DuckDB uses).
    """
    from pyspark.sql import functions as F

    for field in df.schema.fields:
        kind = field.dataType.simpleString()
        if kind == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
        elif kind == "bigint" and (
            (nanos_cols is not None and field.name in nanos_cols)
            or (nanos_cols is None and field.name == "ts")
        ):
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` DIV 1000")),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view (for the SQL API path)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
