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
is the ``nanosAsLong`` flip in ``_parquet_schema``: it is never
restored, because the driver harness hands over a vanilla session and Spark
re-reads the conf when it plans every action on the returned frame.

Data enters the engine two ways: parquet through ``load_table`` and
driver-side Python rows through ``local_rows``. ``table_stamp`` is the one
definition of a table's on-disk identity (its files' names, sizes and
``mtime_ns``); the schema cache, the registry's prepared requests and the
similarity audit memo all key on it.

- ``local_rows`` hands Spark an Arrow table, which plans as a
  ``LocalTableScan``: no Spark job and no Python worker. The list form
  ``createDataFrame(<list>, schema)`` pickles the rows into
  ``defaultParallelism`` partitions that a Python worker maps on every
  action, so the package never uses it.
- Parquet schemas come from a cache keyed by the table's footer, so a read
  plans without a schema-inference job. The key is the footer's schema
  text (without its first line, which holds the object's address), the
  footer's key-value metadata, and the confs that change how Spark converts
  a parquet schema (``_SCHEMA_CONFS``, read after the ``nanosAsLong``
  flip). A table directory of part files (what Spark writes) stands for
  its first part's footer, and its key adds the directory's
  ``table_stamp``: every part's name, size and ``mtime_ns``. An identical
  copy of a file under a new path hits; a rewritten file or part gets a
  new key. A path with no readable footer
  (remote, partitioned into subdirectories, or without part files) is
  inferred each time.

Scratch policy: this is the only package module that decides where scratch
lives. ``scratch_base()`` holds Spark's own local dir (shuffle files and
the JVM temp dir). Every path a query stages or checkpoints itself is built
under ``scratch_root()``, this process's directory below it, which is
removed at interpreter exit.

- ``stage_dir(kind, key)`` is for data a key stages and may reuse within
  the process. Its name is an md5 of the full key (the source path, never
  its basename), so two sources that share a basename never share a stage.
- ``temp_dir(kind)`` is for data one call owns, such as a throwaway stream
  checkpoint. It is fresh per call and removed on exit, on error too.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import logging
import os
import shutil
import tempfile
import uuid
from collections.abc import Iterable, Iterator, Mapping, Sequence
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

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

# The directory that holds the package, for Spark's Python workers.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Confs that change the Spark schema a parquet footer converts to.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# Free space /dev/shm must have for scratch to go there. tmpfs pages are RAM
# shared with the driver heap, and a full tmpfs fails a shuffle or staging
# write mid-job. sf0.1 scratch is tens of MB, so 1 GiB is ample headroom and
# still skips a nearly full or a container's default 64 MB /dev/shm.
SHM_MIN_FREE_BYTES = 1 << 30

_log = logging.getLogger(__name__)

# Footer-keyed schema cache (see the module docstring): one entry per
# distinct on-disk schema and conf setting, not per path.
_SCHEMAS: dict[tuple, StructType] = {}


def scratch_base() -> str:
    """Root for ALL engine scratch: shuffle/blockmgr files (spark.local.dir),
    temporary streaming checkpoints (java.io.tmpdir), and ``scratch_root()``,
    which holds the staged write-then-read-back outputs.

    Round-11 optimization (guide §6): scratch is pure intra-job state —
    shuffle files live for one stage, stream checkpoints for one query,
    staged parquet for one session — so it belongs on the fastest local
    storage available, not on the OS temp dir's backing disk where every
    write also queues page-cache writeback that taxes LATER queries (the
    round-10 s34 in-bench-inflation finding). Selection order:

    - ``SPARK_GRAFT_SCRATCH_DIR`` if set — on a production cluster point
      this at the fast local-disk mount (NVMe scratch), exactly like
      ``spark.local.dir`` is provisioned on real deployments;
    - ``/dev/shm`` when it exists, is writable and has at least
      ``SHM_MIN_FREE_BYTES`` free (Linux tmpfs — RAM-backed, no writeback);
    - the OS temp dir otherwise (the pre-round-11 behavior), with a warning
      when it is the free-space floor that skipped ``/dev/shm``.
    """
    env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        free = shutil.disk_usage(shm).free
        if free >= SHM_MIN_FREE_BYTES:
            return shm
        _log.warning(
            "%s has %d MiB free, below the %d MiB floor; scratch goes to %s",
            shm, free >> 20, SHM_MIN_FREE_BYTES >> 20, tempfile.gettempdir(),
        )
    return tempfile.gettempdir()


@functools.cache
def scratch_root() -> str:
    """This process's scratch directory under ``scratch_base()``.

    The per-process token keeps two runs on one host from racing on the
    same staged paths, while paths stay stable within the process. The
    directory is removed at interpreter exit; ignore_errors because a
    half-removed scratch dir is fine and a failed shutdown is not."""
    root = os.path.join(scratch_base(), f"pws-session-{uuid.uuid4().hex[:12]}")
    os.makedirs(root, exist_ok=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def stage_dir(kind: str, key: str) -> str:
    """The directory ``<scratch_root>/pws_<kind>/<md5(key)[:16]>``, created
    if missing; existing content is kept.

    ``key`` names what the staged data derives from in full (the source
    path as given, never its basename): the same key maps to the same
    directory for the life of the process, and different keys never
    share one."""
    digest = hashlib.md5(key.encode()).hexdigest()[:16]
    path = os.path.join(scratch_root(), f"pws_{kind}", digest)
    os.makedirs(path, exist_ok=True)
    return path


@contextmanager
def temp_dir(kind: str) -> Iterator[str]:
    """A fresh ``<scratch_root>/pws_<kind>_<uuid>`` directory, removed when
    the block exits, also when it raises."""
    path = os.path.join(scratch_root(), f"pws_{kind}_{uuid.uuid4().hex[:12]}")
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _default_driver_mem() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: three
    quarters of the host's RAM (``MemTotal``), leaving the rest for
    metaspace, the code cache and Python workers, capped at 24g. 24g when
    ``/proc/meminfo`` cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mib = int(line.split()[1]) // 1024
                    return f"{min(mib * 3 // 4, 24 * 1024)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "24g"


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
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        # Sized to the registry's working set: one sweep of the 332 keys
        # makes 3,939 distinct generated classes (one batch_mix pass 171).
        # Spark's default LRU of 100 cycles below that, so every call would
        # re-run Janino on byte-identical code and the JIT would compile
        # each new class again. With 4096 each class compiles once per
        # session.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Each generated class is compiled once per session, but a long
        # session still JIT-compiles thousands of them; the JVM's default
        # 240 MB code cache fills and the JIT silently stops compiling,
        # leaving compute-heavy stages interpreted (~10x). Bigger cache +
        # flushing keeps the JIT alive.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            f"-Djava.io.tmpdir={local_dir}",
        )
        .config("spark.ui.enabled", "false")
        # Python workers (UDFs, the DataSource) import the package whatever
        # the working directory; Spark merges this with their PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # Workers fork from the package's daemon, which reads each zip
        # archive once per task instead of once per importer. A vanilla
        # session keeps pyspark.daemon and pays that cost, still correct.
        .config("spark.python.daemon.module", "presto_weather_spark._worker_daemon")
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


def local_rows(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema``'s field order) as a
    DataFrame; ``schema`` is a DDL string or a ``StructType``. The one way
    Python values enter the engine: the rows go through an Arrow table,
    which Spark plans as a ``LocalTableScan`` (no job, no Python worker)."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    if any(len(r) != len(arrow) for r in rows):
        raise ValueError(f"rows must have {len(arrow)} fields")
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/pruning into it.
    The schema comes from the footer-keyed cache (``_parquet_schema``), so
    only the first read of a given footer runs an inference job.

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
    schema, nanos_cols = _parquet_schema(spark, path)
    return _normalize_nanos(spark.read.schema(schema).parquet(path), nanos_cols)


def _parquet_schema(
    spark: SparkSession, path: str
) -> tuple[StructType, set[str] | None]:
    """The raw Spark schema of the parquet at ``path`` (long for nanos
    columns, NTZ for naive micros) and its TIMESTAMP(NANOS) columns (None =
    footer unreadable, ``_normalize_nanos`` falls back to the `ts`-name
    heuristic). Flips nanosAsLong when (and only when) needed. Shared by
    the batch and streaming read paths."""
    footer, listing = _footer(path)
    nanos_cols = _nanos_columns(footer)
    if nanos_cols is None:
        # Footer sniff works on local paths only (pyarrow, no Hadoop FS) —
        # on remote storage fall back to the conservative path: set the
        # conf and treat a bigint `ts` as nanos.
        import warnings

        warnings.warn(
            f"could not sniff parquet footer of {path}; "
            "falling back to name-based nanos heuristic",
            stacklevel=3,
        )
    if nanos_cols is None or nanos_cols:
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # static/removed conf — read fails loudly if truly needed
    if footer is None:
        return spark.read.parquet(path).schema, nanos_cols
    key = (
        listing,
        str(footer.schema).split("\n", 1)[1],
        tuple(sorted((footer.metadata or {}).items())),
        tuple(spark.conf.get(k) for k in _SCHEMA_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema, nanos_cols


def table_stamp(path: str) -> tuple | None:
    """The identity of the parquet table at ``path``: the ``(name, size,
    mtime_ns)`` of the file, or of each part file of a table directory in
    name order. Names starting with ``_`` or ``.`` are skipped, as Spark's
    reader skips them. None for a path that cannot be listed and for a
    partitioned directory (one holding subdirectories), whose listing would
    not change when a file below it does."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        parts = sorted(
            (e for e in os.scandir(path) if not e.name.startswith(("_", "."))),
            key=lambda e: e.name,
        )
        if not all(e.is_file() for e in parts):
            return None
        return tuple((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in parts)
    except OSError:
        return None


def _footer(path: str) -> tuple[pq.FileMetaData | None, tuple]:
    """The footer that stands for the parquet table at ``path`` and the
    part listing that joins the cache key. A file is its own footer, with
    an empty listing. A directory uses its first part file's footer, and
    the listing is its ``table_stamp``, so a rewritten or added part
    misses. The footer is None for a remote or unreadable path, a
    directory without part files, and a partitioned directory."""
    try:
        if not os.path.isdir(path):
            return pq.read_metadata(path), ()
        listing = table_stamp(path)
        if not listing:
            return None, ()
        return pq.read_metadata(os.path.join(path, listing[0][0])), listing
    except (OSError, pa.ArrowException):
        return None, ()


def _nanos_columns(footer: pq.FileMetaData | None) -> set[str] | None:
    """Column names stored as TIMESTAMP(NANOS), from the footer. Returns
    None when there is no footer to inspect (caller falls back to a
    name-based heuristic)."""
    if footer is None:
        return None
    try:
        schema = footer.schema.to_arrow_schema()
    except (OSError, pa.ArrowException):
        return None
    return {
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    }


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


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view (for the SQL API path)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
